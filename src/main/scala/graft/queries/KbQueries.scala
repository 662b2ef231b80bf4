package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Bm25, ContextWindow, Fusion, VectorSearch}

/** Knowledge-base retrieval pipeline (SURVEY §2.8, §2.4 A1/A2, §2.6 T1/T2,
  * §2.3 J2/J3, §3.1): tokenization → BM25 stats/scoring → vector k-NN → RRF
  * hybrid fusion → context-window expansion. Every query here calls the
  * graft.operators / graft.functions library and carries a DuckDB oracle.
  *
  * Oracle-parity rules (see tools/check.py):
  *  - tokenization = lower + split [^a-z0-9]+ (identical regex both sides);
  *  - all hashing is exact 64-bit integer math (polynomial mod 1e9+7);
  *  - cosine/BM25 float math is written with IDENTICAL association order in
  *    both engines and rounded; DuckDB's builtin list_cosine_similarity
  *    accumulates in float32 (≈1e-7 error) so oracles use a manual
  *    list_reduce in double — bit-identical to Spark's `aggregate` HOF.
  */
object KbQueries {

  import OracleSql.{tokSql, plainTokSql, cosineSql, bm25Cte, QueryText, PhraseText}

  /** Cosine scores of every embedding against the vec_id=0 query vector. */
  private val cosCte: String =
    s"""WITH qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
       |cos AS (
       |  SELECT vec_id AS doc_id,
       |         ${cosineSql("embedding", "(SELECT v FROM qv)")} AS score
       |  FROM embeddings)""".stripMargin

  /** The AT-REST BM25 index for (session, corpus): built and WRITTEN once
    * per corpus (the `bm25` CLI verb's artifact), then read back — the
    * maintain-once/serve-many twin of [[Bm25.cachedIndex]]. Serving rows
    * (t13_rm3_served, t15_boolean_served) run on this store so their cost
    * is the retrieval itself, not the index build the build-inclusive
    * rows deliberately carry.
    */
  private def storedBm25(s: org.apache.spark.sql.SparkSession,
                         dir: String): Bm25.Index = {
    val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_bm25ix_$suffix").getPath
    Bm25StoreMemo.memo.getOrBuild(s, dir) {
      Bm25.writeIndex(
        Bm25.buildIndex(Tables.documents(s, dir), "doc_id", "text"), root)
      true
    }
    Bm25.readIndex(s, root)
  }

  /** The boolean fixture AST and its DuckDB doc-set algebra — shared by
    * the build-inclusive and the stored-index serving entries (identical
    * results by construction: same index CONTENT, different residence).
    */
  private val BooleanFixture = "(window OR join) AND filter NOT slow"
  private def booleanSql: String = {
    import graft.operators.BooleanSearch._
    val ast: Node = And(And(Or(Term("window"), Term("join")),
      Term("filter")), Not(Term("slow")))
    s"""$bm25Cte
       |${booleanBlockSql(ast, 20)}""".stripMargin
  }

  /** The t15 batch oracle: one boolean block per fixture, unioned with its
    * query_id — all blocks share ONE bm25 CTE chain.
    */
  private def booleanBatchSql: String =
    s"""$bm25Cte
       |${BooleanBatch.zipWithIndex.map { case ((qid, _), i) =>
            s"SELECT $qid AS query_id, f.* FROM (${booleanBlockSql(
              batchFixtureAst(i), 20)}) f"
          }.mkString("\nUNION ALL\n")}""".stripMargin

  /** The t13 batch oracle: one full RM3 rendition per query (each block
    * carries its own WITH chain, the e2e_hybrid_batch20 pattern).
    */
  private def rm3BatchSql: String =
    Rm3Batch.map { case (qid, q) =>
      s"SELECT $qid AS query_id, f.* FROM (${rm3SqlFor(q)}) f"
    }.mkString("\nUNION ALL\n")

  /** The full unrolled MMR twin for query vector `vecId` — 10 greedy
    * steps as CTEs making the exact rounded cuts [[graft.operators.Mmr]]
    * makes (rel/sims 6 dp, step value 7 dp, ties by doc id). Shared by
    * the single t14 entry (vecId 0) and the 20-block batch oracle.
    */
  private def mmrSqlFor(vecId: Int): String = {
    val steps = 10
    val sb = new StringBuilder
    sb ++= s"""WITH qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = $vecId),
              |cos AS (
              |  SELECT vec_id AS doc_id,
              |         ${cosineSql("embedding", "(SELECT v FROM qv)")} AS score
              |  FROM embeddings),
              |cand AS MATERIALIZED (
              |  SELECT doc_id, round(score, 6) AS rel FROM cos
              |  ORDER BY round(score, 6) DESC, doc_id LIMIT 50),
              |ce AS MATERIALIZED (
              |  SELECT c.doc_id, e.embedding
              |  FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id),
              |sims AS MATERIALIZED (
              |  SELECT a.doc_id AS da, b.doc_id AS db,
              |         round(${cosineSql("a.embedding", "b.embedding")}, 6) AS s
              |  FROM ce a JOIN ce b ON a.doc_id <> b.doc_id),
              |sel0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS doc_id WHERE 1 = 0)""".stripMargin
    for (i <- 1 to steps)
      sb ++= s""",
                |s$i AS MATERIALIZED (
                |  SELECT c.doc_id,
                |         round(0.5 * c.rel - 0.5 * coalesce(
                |           (SELECT max(s) FROM sims
                |            WHERE da = c.doc_id
                |              AND db IN (SELECT doc_id FROM sel${i - 1})), 0.0), 7) AS mmr
                |  FROM cand c
                |  WHERE c.doc_id NOT IN (SELECT doc_id FROM sel${i - 1})
                |  ORDER BY mmr DESC, c.doc_id LIMIT 1),
                |sel$i AS MATERIALIZED (
                |  SELECT doc_id FROM sel${i - 1} UNION ALL SELECT doc_id FROM s$i)""".stripMargin
    sb ++= "\n" + (1 to steps)
      .map(i => s"SELECT $i AS rank, doc_id, mmr FROM s$i")
      .mkString("", "\nUNION ALL\n", "\nORDER BY rank")
    sb.toString
  }

  /** The t12 batch oracle: one proven computed-tier phrase rendition per
    * query (the rm3BatchSql pattern) — the batch operator must agree with
    * 20 independent single-phrase evaluations.
    */
  private def phraseBatchSql: String =
    PhraseBatch.map { case (qid, q) =>
      s"SELECT $qid AS query_id, f.* FROM (${phraseComputedSql(q, 20)}) f"
    }.mkString("\nUNION ALL\n")

  /** Computed-tier phrase SQL for `phrase`, top `k`: tf is the
    * ADJACENT-START positional count (overlaps included — `a a a`
    * counts the phrase `a a` twice), identical to the stored tier's
    * position-list intersection, so both tiers agree on every phrase
    * including repeated-token ones. Shared by t12_phrase_topk and
    * t12_phrase_repeated.
    */
  private def phraseComputedSql(phrase: String, k: Int): String = {
    val ptoks = graft.operators.LateInteraction.tokenizeValue(phrase)
    require(ptoks.nonEmpty, "empty phrase")
    val m = ptoks.size
    val conj = ptoks.zipWithIndex
      .map { case (t, j) => s"toks[i+$j] = '$t'" }.mkString(" AND ")
    s"""WITH base AS (
       |  SELECT doc_id, ${plainTokSql("text")} AS toks FROM documents),
       |tfx AS (
       |  SELECT doc_id, len(toks)::BIGINT AS dl,
       |         len(list_filter(range(1, len(toks) - ${m - 1} + 1),
       |             i -> $conj))::BIGINT AS tf
       |  FROM base),
       |corpus AS (
       |  SELECT count(*)::BIGINT AS n, avg(dl::DOUBLE) AS avgdl,
       |         sum(CASE WHEN tf > 0 THEN 1 ELSE 0 END)::BIGINT AS df
       |  FROM tfx WHERE dl > 0)
       |SELECT doc_id,
       |       round(ln((n::DOUBLE - df + 0.5) / (df + 0.5) + 1.0)
       |             * (tf * (1.2 + 1.0))
       |             / (tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / avgdl)),
       |             4) AS score
       |FROM tfx, corpus WHERE tf > 0
       |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin
  }

  /** Deterministic fixture pool for the BATCHED serving rows — all words
    * the relational fixtures already use (so every query finds postings),
    * none a BM25 stopword, none single-char.
    */
  private val BatchTermPool = Vector("spark", "join", "filter", "window",
    "hash", "merge", "batch", "scan", "sort", "table", "row", "value",
    "vector", "slow")

  /** 20 two-token phrase fixtures rotating the pool. Some phrases occur
    * in the corpus and some don't — a no-hit phrase must yield zero rows
    * on BOTH sides, so the batch oracle covers the empty case too.
    */
  private[graft] val PhraseBatch: Seq[(Long, String)] =
    (0 until 20).map { i =>
      val p = BatchTermPool
      ((i + 1).toLong, s"${p(i % p.size)} ${p((i + 4) % p.size)}")
    }

  /** 20 three-term RM3 batch queries, rotating through the pool. */
  private[graft] val Rm3Batch: Seq[(Long, String)] =
    (0 until 20).map { i =>
      val p = BatchTermPool
      ((i + 1).toLong,
        s"${p(i % p.size)} ${p((i + 3) % p.size)} ${p((i + 7) % p.size)}")
    }

  /** 20 boolean batch fixtures `(a OR b) AND c NOT d`, rotating through
    * the pool with pairwise-distinct offsets (no degenerate `c NOT c`).
    */
  private[graft] val BooleanBatch: Seq[(Long, String)] =
    (0 until 20).map { i =>
      val p = BatchTermPool
      ((i + 1).toLong,
        s"(${p(i % p.size)} OR ${p((i + 5) % p.size)}) AND " +
          s"${p((i + 9) % p.size)} NOT ${p((i + 11) % p.size)}")
    }

  /** The boolean doc-set algebra + positive-term BM25 block for one AST —
    * assumes the bm25 CTE names (`post`/`idf`/`lens`/`stats`) are in
    * scope; shared by the single-query twin and the batch blocks.
    */
  private def booleanBlockSql(ast: graft.operators.BooleanSearch.Node,
                              k: Int): String = {
    import graft.operators.BooleanSearch._
    def setSql(n: Node): String = n match {
      case Term(t) => s"(SELECT DISTINCT doc_id FROM post WHERE term = '$t')"
      case And(l, r) => s"(${setSql(l)} INTERSECT ${setSql(r)})"
      case Or(l, r) => s"(${setSql(l)} UNION ${setSql(r)})"
      case Not(x) =>
        s"((SELECT DISTINCT doc_id FROM lens) EXCEPT ${setSql(x)})"
    }
    val pos = positiveTerms(ast).map(t => s"'$t'").mkString(", ")
    s"""SELECT p.doc_id,
       |       round(sum((i.idf * (p.tf * (1.2 + 1.0))) /
       |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))),
       |             4) AS score
       |FROM post p JOIN idf i USING (term) JOIN lens l USING (doc_id)
       |CROSS JOIN stats s
       |WHERE p.term IN ($pos) AND p.doc_id IN ${setSql(ast)}
       |GROUP BY p.doc_id
       |ORDER BY score DESC, p.doc_id LIMIT $k""".stripMargin
  }

  /** Driver-side twin of [[graft.operators.BooleanSearch.parse]] for the
    * batch fixtures: the grammar subset the fixtures use — spec-pinned
    * equal to the real parser on every fixture (BooleanSearchSpec).
    */
  private[graft] def batchFixtureAst(i: Int)
      : graft.operators.BooleanSearch.Node = {
    import graft.operators.BooleanSearch._
    val p = BatchTermPool
    And(And(Or(Term(p(i % p.size)), Term(p((i + 5) % p.size))),
      Term(p((i + 9) % p.size))), Not(Term(p((i + 11) % p.size))))
  }

  /** RM3 two-pass SQL — shared by t13_rm3_feedback and t13_rm3_served. */
  private def rm3Sql: String = rm3SqlFor(QueryText)

  /** [[rm3Sql]] parameterized on the query text — one block per batch
    * query in the t13_rm3_batch20 oracle.
    */
  private def rm3SqlFor(qtext: String): String =
    s"""${OracleSql.bm25CteFor(qtext)},
       |s1 AS (SELECT doc_id, round(score, 4) AS s1 FROM bm25),
       |fb AS (SELECT doc_id, s1 FROM s1 ORDER BY s1 DESC, doc_id LIMIT 10),
       |wq AS (
       |  SELECT p.term, round(sum(p.tf * f.s1), 4) AS w
       |  FROM post p JOIN fb f USING (doc_id)
       |  WHERE p.term NOT IN (SELECT term FROM q)
       |  GROUP BY p.term),
       |et AS (SELECT term, w FROM wq ORDER BY w DESC, term LIMIT 10),
       |ws AS (SELECT sum(w) AS sw FROM et),
       |wn AS (SELECT term, round(w / (SELECT sw FROM ws), 4) AS wn FROM et),
       |es AS (
       |  SELECT p.doc_id,
       |         round(sum(n.wn * ((i.idf * (p.tf * (1.2 + 1.0))) /
       |               (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl)))),
       |               4) AS es
       |  FROM post p
       |  JOIN wn n USING (term) JOIN idf i USING (term)
       |  JOIN lens l USING (doc_id) CROSS JOIN stats s
       |  GROUP BY p.doc_id),
       |fin AS (
       |  SELECT doc_id,
       |         round(0.5 * coalesce(a.s1, 0.0) + 0.5 * coalesce(e.es, 0.0), 5) AS score
       |  FROM s1 a FULL OUTER JOIN es e USING (doc_id))
       |SELECT doc_id, score FROM fin WHERE score > 0
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ── F3: tokenization (/root/reference/utils/text_utils.py:255-314) ────
    // Token arrays are space-joined for the compare: the driver's pandas
    // comparator cannot sort array columns (round-1 harness failure), and
    // tokens contain no whitespace so the join is lossless.
    QueryDef.sql("f3_tokenize",
      s"""SELECT doc_id,
         |       array_to_string(${plainTokSql("text")}, ' ') AS tokens,
         |       array_to_string(${tokSql("text")}, ' ') AS bm25_tokens,
         |       len(${tokSql("text")})::INT AS n_bm25
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          array_join(TextFunctions.tokenize(col("text")), " ").as("tokens"),
          array_join(TextFunctions.tokenizeBm25(col("text")), " ").as("bm25_tokens"),
          size(TextFunctions.tokenizeBm25(col("text"))).as("n_bm25"))
        .orderBy("doc_id")
    },

    // ── F9: content keys (sha256 + reproducible poly fingerprint) ─────────
    QueryDef.sql("f9_content_keys",
      s"""WITH cl AS (SELECT doc_id, text,
         |  trim(regexp_replace(regexp_replace(lower(text),
         |    '<[^>]*>', ' ', 'g'), '[^a-z0-9]+', ' ', 'g')) AS c FROM documents)
         |SELECT doc_id, sha256(text) AS sha_key,
         |       list_reduce(list_prepend(0::BIGINT,
         |         list_transform(string_split(c, ''), ch -> ord(ch)::BIGINT)),
         |         (acc, x) -> (acc * 31 + x) % 1000000007) * 1000000007
         |       + list_reduce(list_prepend(0::BIGINT,
         |         list_transform(string_split(c, ''), ch -> ord(ch)::BIGINT)),
         |         (acc, x) -> (acc * 131 + x) % 1000000007) AS fp
         |FROM cl ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          sha2(col("text"), 256).as("sha_key"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // ── F14: language identification heuristic ────────────────────────────
    QueryDef.sql("f14_language_id", {
      val scoredStructs = TextFunctions.LanguageMarkers.toSeq.sortBy(_._1)
        .map { case (lang, markers) =>
          val lst = markers.map(m => s"'$m'").mkString("[", ",", "]")
          s"{'hits': len(list_filter($lst, m -> list_contains(toks, m))), 'lang': '$lang'}"
        }.mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, ${plainTokSql("text")} AS toks FROM documents),
         |scored AS (SELECT doc_id, list_max($scoredStructs) AS best FROM t)
         |SELECT doc_id,
         |       CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred
         |FROM scored ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextFunctions.languageId(TextFunctions.tokenize(col("text"))).as("lang_pred"))
        .orderBy("doc_id")
    },

    // ── A16: corpus language audit — predicted-language histogram per
    //    source crossed with the labeled lang column (the quality/compliance
    //    pass a multilingual training pipeline runs before filtering) ───────
    QueryDef.sql("a16_language_histogram", {
      val scoredStructs = TextFunctions.LanguageMarkers.toSeq.sortBy(_._1)
        .map { case (lang, markers) =>
          val lst = markers.map(m => s"'$m'").mkString("[", ",", "]")
          s"{'hits': len(list_filter($lst, m -> list_contains(toks, m))), 'lang': '$lang'}"
        }.mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, source, lang, ${plainTokSql("text")} AS toks FROM documents),
         |scored AS (SELECT doc_id, source, lang, list_max($scoredStructs) AS best FROM t)
         |SELECT source, lang,
         |       CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred,
         |       count(*)::BIGINT AS n
         |FROM scored GROUP BY source, lang, lang_pred
         |ORDER BY source, lang, lang_pred""".stripMargin
    }) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          TextFunctions.languageId(TextFunctions.tokenize(col("text"))).as("lang_pred"))
        .groupBy("source", "lang", "lang_pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("source", "lang", "lang_pred")
    },

    // ── F12: JSON metadata extraction ─────────────────────────────────────
    QueryDef.sql("f12_json_extract",
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_id") < 500)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")
    },

    // ── A1: BM25 corpus statistics ────────────────────────────────────────
    QueryDef.sql("a1_bm25_idf",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${tokSql("text")}) AS term FROM documents),
         |post AS (SELECT DISTINCT doc_id, term FROM tok),
         |corpus AS (SELECT count(*)::BIGINT AS n FROM documents)
         |SELECT term, count(*)::BIGINT AS df,
         |       round(ln(((SELECT n FROM corpus)::DOUBLE - count(*) + 0.5) / (count(*) + 0.5) + 1.0), 6) AS idf
         |FROM post GROUP BY term ORDER BY term""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val post = Bm25.postings(docs, "doc_id", "text")
      Bm25.idf(post, docs.count())
        .select(col("term"), col("df"), round(col("idf"), 6).as("idf"))
        .orderBy("term")
    },

    // ── A2: BM25 query scoring (all matching docs — no boundary) ──────────
    QueryDef.sql("a2_bm25_scores",
      s"""$bm25Cte
         |SELECT doc_id, round(score, 4) AS score FROM bm25 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Bm25.scoreWithIndex(Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text"), s, QueryText)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy("doc_id")
    },

    // ── T2: BM25 top-k (rounded sort key → deterministic boundary) ────────
    QueryDef.sql("t2_bm25_topk",
      s"""$bm25Cte
         |SELECT doc_id, round(score, 4) AS score FROM bm25
         |ORDER BY round(score, 4) DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val ix = Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text")
      // warm: the rounded top-20 head rows arrive rank-ready in process
      // (identity spec-proved) — no sort job over the scored LocalRelation
      Bm25.topKBatchInProcess(ix, s, Seq((0L, QueryText)), 20)
        .map(_.select(col("doc_id"), col("score")))
        .getOrElse(Bm25.topK(
          Bm25.scoreWithIndex(ix, s, QueryText)
            .select(col("doc_id"), round(col("score"), 4).as("score")), 20))
    },

    // ── S8 store LIFECYCLE: incremental append to the AT-REST BM25 index
    //    (the sim_knn_ivf_stored_append analogue) — base store written
    //    from 4/5 of the corpus, the remaining 1/5 APPENDED partition-wise
    //    (postings/lengths files untouched; vocab-sized idf + one-row
    //    stats rewritten from stored df counts and exact integer sums),
    //    then served. Oracle = the FULL-corpus t2 SQL: a hash match
    //    proves append ≡ rebuild-over-union scoring-value-exactly ────────
    QueryDef.sql("s8_bm25_store_append",
      s"""$bm25Cte
         |SELECT doc_id, round(score, 4) AS score FROM bm25
         |ORDER BY round(score, 4) DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val baseRoot = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_bm25appbase_$suffix").getPath
      // the BASE store is a one-time artifact (the other store memos'
      // contract); each invocation file-copies it to a scratch dir and
      // appends THERE, so the repeated cost is the append lifecycle
      // itself, and reruns never double-append one store. 8 buckets + a
      // coalesced write keep the 400-doc store's file count sane.
      Bm25AppendBaseMemo.memo.getOrBuild(s, dir) {
        val baseIx = Bm25.buildIndex(
          docs.filter(col("doc_id") % 5 =!= 3), "doc_id", "text")
        Bm25.writeIndex(baseIx.copy(postings = baseIx.postings.coalesce(4)),
          baseRoot, termBuckets = 8)
        true
      }
      // fixed scratch path, wiped and recopied per invocation — repeated
      // runs replace one store-sized dir instead of accumulating tempdirs
      // (the previous invocation's lazy plan has already materialized by
      // the time the next invocation runs: Verify writes, Bench counts)
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_bm25appscratch_$suffix").getPath
      def rmTree(p: java.nio.file.Path): Unit = {
        val s = java.nio.file.Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
        finally s.close()
      }
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(root)))
        rmTree(java.nio.file.Paths.get(root))
      val src = java.nio.file.Paths.get(baseRoot)
      val walk = java.nio.file.Files.walk(src)
      try walk.forEach { p =>
        val dst = java.nio.file.Paths.get(root).resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst)
      } finally walk.close()
      Bm25.appendIndexStore(s, root,
        docs.filter(col("doc_id") % 5 === 3), "doc_id", "text")
      val ix = Bm25.readIndex(s, root)
      Bm25.topK(Bm25.scoreWithIndex(ix.keyless, s, QueryText)
        .select(col("doc_id"), round(col("score"), 4).as("score")), 20)
    },

    // ── Keyword-in-context snippets: per doc the width-10 token window
    //    covering the most DISTINCT query terms (earliest wins ties) —
    //    wholly integer/string math, value-exact by construction. The
    //    coverage count runs on MATCH positions only (per-doc range
    //    self-join of the query-term hits, never the token stream) ───────
    QueryDef.sql("s13_snippets", {
      val qTerms = graft.operators.LateInteraction.tokenizeValue(QueryText)
        .distinct.sorted.map(t => s"'$t'").mkString(", ")
      s"""WITH tok AS MATERIALIZED (
         |  SELECT doc_id, ${plainTokSql("text")} AS l FROM documents),
         |pos AS (
         |  SELECT doc_id, i - 1 AS p, l[i] AS t
         |  FROM tok, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) x),
         |m AS MATERIALIZED (
         |  SELECT doc_id, p, t FROM pos WHERE t IN ($qTerms)),
         |win AS (
         |  SELECT a.doc_id, a.p, count(DISTINCT b.t)::BIGINT AS n
         |  FROM m a JOIN m b ON a.doc_id = b.doc_id
         |                   AND b.p >= a.p AND b.p < a.p + 10
         |  GROUP BY a.doc_id, a.p),
         |best AS (
         |  SELECT doc_id, p, n,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY n DESC, p) AS rn
         |  FROM win)
         |SELECT b.doc_id, b.p AS start_pos, b.n AS n_terms,
         |       array_to_string(list_slice(t.l, b.p + 1, b.p + 10), ' ') AS snippet
         |FROM best b JOIN tok t USING (doc_id) WHERE b.rn = 1
         |ORDER BY b.n DESC, b.p, b.doc_id LIMIT 20""".stripMargin
    }) { (s, dir) =>
      graft.operators.Snippets.bestSnippets(
        Tables.documents(s, dir), "doc_id", "text", QueryText, 20, width = 10)
    },

    // ── Extractive-summary seed: the most CENTRAL embedded chunk per
    //    source (LexRank centrality in one exact step — Σ sibling
    //    cosines, 4 dp, ties by doc_id); pairwise only WITHIN a source
    //    document, never across ──────────────────────────────────────────
    QueryDef.sql("f_central_chunk",
      s"""WITH ce AS (
         |  SELECT d.source, d.doc_id, e.embedding
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         |p AS (
         |  SELECT a.source, a.doc_id,
         |         round(sum(${cosineSql("a.embedding", "b.embedding")}), 4) AS centrality,
         |         count(*)::BIGINT AS n_sib
         |  FROM ce a JOIN ce b
         |    ON a.source = b.source AND a.doc_id <> b.doc_id
         |  GROUP BY a.source, a.doc_id),
         |al AS (
         |  SELECT ce.source, ce.doc_id,
         |         coalesce(p.n_sib, 0) + 1 AS n_chunks,
         |         coalesce(p.centrality, 0.0) AS centrality
         |  FROM ce LEFT JOIN p USING (source, doc_id)),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |                               ORDER BY centrality DESC, doc_id) AS rn
         |  FROM al)
         |SELECT source, doc_id, n_chunks::BIGINT AS n_chunks, centrality
         |FROM r WHERE rn = 1 ORDER BY source""".stripMargin) { (s, dir) =>
      graft.operators.Summarize.centralChunks(
        Tables.documents(s, dir), Tables.embeddings(s, dir),
        "source", "doc_id", "vec_id", "embedding")
    },

    // ── Boolean keyword queries — AND/OR/NOT/parentheses actually
    //    EVALUATE (the reference's synonym expansion emits `(a OR b)`
    //    strings then flattens them to a bag, enhancement.py:119-126):
    //    leaf terms are pruned-postings doc sets, the algebra composes by
    //    INTERSECT/UNION/EXCEPT (NOT = indexed corpus minus operand), and
    //    matches score by BM25 over the positive terms. The twin is
    //    generated from the SAME fixture AST; a spec pins parse(fixture)
    //    to that AST ───────────────────────────────────────────────────
    QueryDef.sql("t15_boolean_search", booleanSql) { (s, dir) =>
      val ix = Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text")
      graft.operators.BooleanSearch.booleanTopK(ix, s, BooleanFixture, 20)
    },

    // ── t15 SERVING twin: the same boolean retrieval from the AT-REST
    //    index (build+write once per corpus, read-back serve — the `bm25`
    //    verb artifact + the `search --boolean` path). Same oracle: index
    //    residence must not change a single score ───────────────────────
    QueryDef.sql("t15_boolean_served", booleanSql) { (s, dir) =>
      graft.operators.BooleanSearch.booleanTopK(
        storedBm25(s, dir), s, BooleanFixture, 20)
    },

    // ── t15 BATCHED serving: 20 boolean queries in ONE DataFrame DAG from
    //    the AT-REST index — the per-query serve cost the store exists to
    //    deliver (test_performance.py:326's 20-query budget), invisible in
    //    one-query-per-action rows. Each batch fixture's AST is pinned to
    //    the real parser by a BooleanSearchSpec ─────────────────────────────
    QueryDef.sql("t15_boolean_batch20", booleanBatchSql) { (s, dir) =>
      graft.operators.BooleanSearch.booleanTopKBatch(
        storedBm25(s, dir), s, BooleanBatch, 20)
    },

    // ── Stored-index phrase search: the same BM25-with-phrase-as-term
    //    contract as t12, served from the AT-REST positional index
    //    (term-bucket-partitioned parquet, built+written once per corpus)
    //    — tf is the adjacent-start position-list intersection, the
    //    standard positional-index convention the computed tier now
    //    shares on every phrase (repeated tokens included) ───────────────
    QueryDef.sql("t12_phrase_stored", {
      val ptoks = graft.operators.LateInteraction.tokenizeValue(PhraseText)
      val sides = ptoks.zipWithIndex.map { case (t, i) =>
        s"""p$i AS MATERIALIZED (
           |  SELECT doc_id${if (i == 0) ", dl" else ""}, list(p ORDER BY p) AS ps$i
           |  FROM pos WHERE t = '$t' GROUP BY doc_id${if (i == 0) ", dl" else ""})""".stripMargin
      }.mkString(",\n")
      val joinChain = ptoks.indices.tail
        .foldLeft("p0")((acc, i) => s"$acc JOIN p$i USING (doc_id)")
      val matched = ptoks.indices.tail
        .foldLeft("ps0")((acc, i) =>
          s"list_intersect($acc, list_transform(ps$i, x -> x - $i))")
      s"""WITH tok AS MATERIALIZED (
         |  SELECT doc_id, ${plainTokSql("text")} AS l FROM documents),
         |pos AS MATERIALIZED (
         |  SELECT doc_id, len(l)::BIGINT AS dl, i - 1 AS p, l[i] AS t
         |  FROM tok, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) x),
         |$sides,
         |tfx AS (
         |  SELECT doc_id, dl, len($matched)::BIGINT AS tf
         |  FROM $joinChain),
         |stats AS (
         |  SELECT count(*)::BIGINT AS n, avg(len(l)::DOUBLE) AS avgdl
         |  FROM tok WHERE len(l) > 0),
         |dfx AS (SELECT count(*)::BIGINT AS df FROM tfx WHERE tf > 0)
         |SELECT doc_id,
         |       round(ln((s.n::DOUBLE - d.df + 0.5) / (d.df + 0.5) + 1.0)
         |             * (tf * (1.2 + 1.0))
         |             / (tf + 1.2 * ((1.0 - 0.75) + (0.75 * dl) / s.avgdl)),
         |             4) AS score
         |FROM tfx, stats s, dfx d WHERE tf > 0
         |ORDER BY score DESC, doc_id LIMIT 50""".stripMargin
    }) { (s, dir) =>
      import graft.operators.PositionalIndex
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_posix_$suffix").getPath
      PosIxMemo.memo.getOrBuild(s, dir) {
        PositionalIndex.write(
          PositionalIndex.build(Tables.documents(s, dir), "doc_id", "text"),
          root)
        true
      }
      PositionalIndex.phraseTopK(PositionalIndex.read(s, root), PhraseText, 50)
    },

    // ── t12 BATCHED serving: 20 phrases in ONE DataFrame DAG from the
    //    AT-REST positional index — the per-query join chain replaced by
    //    a (query_id, term, offset) requirement join over one pruned
    //    postings pass; a start matches iff its satisfied-offset count
    //    equals the phrase length. Oracle = 20 proven single-phrase
    //    computed-tier blocks (the rm3BatchSql pattern) ──────────────────
    QueryDef.sql("t12_phrase_batch20", phraseBatchSql) { (s, dir) =>
      import graft.operators.PositionalIndex
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_posix_$suffix").getPath
      PosIxMemo.memo.getOrBuild(s, dir) {
        PositionalIndex.write(
          PositionalIndex.build(Tables.documents(s, dir), "doc_id", "text"),
          root)
        true
      }
      PositionalIndex.phraseTopKBatch(
        PositionalIndex.read(s, root), PhraseBatch, 20)
    },

    // ── MMR diversification (Carbonell & Goldstein 1998): greedy re-rank
    //    of the top-50 cosine candidates, each pick balancing relevance
    //    against max similarity to the already-selected set. Candidate
    //    rel and pairwise sims round to 6 dp, each step's value to 7 dp
    //    (exact for the λ=0.5 blend — no half-boundary), ties by doc id;
    //    the twin unrolls the 10 greedy steps as CTEs ────────────────────
    QueryDef.sql("t14_mmr_diversify", mmrSqlFor(0)) { (s, dir) =>
      graft.operators.Mmr.mmrTopK(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        Tables.queryVec(s, dir, 0), nCands = 50, k = 10)
    },

    // ── t14 BATCHED diversification: 20 MMR queries — candidate top-50s
    //    for ALL queries in one bounded-aggregation DAG (+ one broadcast
    //    join riding the vectors back), then the greedy loops on the
    //    driver (k-bounded, the serving idiom). Oracle = 20 proven
    //    unrolled-CTE blocks, one per query vector ─────────────────────
    QueryDef.sql("t14_mmr_batch20",
      (0 until 20).map { i =>
        s"SELECT ${i + 1} AS query_id, f.* FROM (${mmrSqlFor(i)}) f"
      }.mkString("\nUNION ALL\n")) { (s, dir) =>
      val qs = Tables.embeddings(s, dir)
        .filter(col("vec_id") < 20).select("vec_id", "embedding")
        .collect()
        .map(r => (r.getLong(0) + 1L, r.getSeq[Float](1).toSeq))
        .sortBy(_._1).toSeq
      graft.operators.Mmr.mmrTopKBatch(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        qs, nCands = 50, k = 10)
    },

    // ── RM3 pseudo-relevance feedback (Lavrenko & Croft 2001 / RM3
    //    interpolation): BM25 pass 1 → expansion terms mined from the
    //    rounded top-10 docs (relevance-weighted term mass, query terms
    //    excluded, (w DESC, term) cut) → λ=0.5 interpolated re-score.
    //    Every selection boundary rounds to 4 dp first, so both engines
    //    make identical cuts — a TWO-PASS retrieval, value-oracled ──────
    QueryDef.sql("t13_rm3_feedback", rm3Sql) { (s, dir) =>
      val ix = Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text")
      graft.operators.Rm3.rm3TopK(ix, s, QueryText, 20)
    },

    // ── t13 SERVING twin: both RM3 passes from the AT-REST index (see
    //    t15_boolean_served) — the bench-visible cost becomes the two
    //    pruned-postings passes, not the build ──────────────────────────
    QueryDef.sql("t13_rm3_served", rm3Sql) { (s, dir) =>
      graft.operators.Rm3.rm3TopK(storedBm25(s, dir), s, QueryText, 20)
    },

    // ── t13 BATCHED serving: 20 RM3 retrievals (two passes each) from the
    //    AT-REST index with a FIXED number of Spark actions for the whole
    //    batch — pass 1 is one pruned scan for the union of the queries'
    //    terms, the per-query head/expansion cuts are k-bounded collects,
    //    pass 2 one pruned scan of the union of expansion terms. Each
    //    query's oracle block is the full rm3Sql rendition for its text ────
    QueryDef.sql("t13_rm3_batch20", rm3BatchSql) { (s, dir) =>
      graft.operators.Rm3.rm3TopKBatch(storedBm25(s, dir), s, Rm3Batch, 20)
    },

    // ── Exact token-phrase search, BM25-scored with the PHRASE as the
    //    indexed term (extension: the reference's BM25 is bag-of-words
    //    only, bm25_manager.py:284-287). tf is the ADJACENT-START
    //    positional count (overlaps included) — the same semantics the
    //    stored tier (t12_phrase_stored) serves, so computed and stored
    //    answers agree on EVERY phrase, repeated tokens included ─────────
    QueryDef.sql("t12_phrase_topk", phraseComputedSql(PhraseText, 50)) {
      (s, dir) =>
        graft.operators.PhraseSearch.phraseTopK(
          Tables.documents(s, dir), "doc_id", "text", PhraseText, 50)
    },

    // ── The repeated-token phrase case the two tiers used to diverge on
    //    (replace-counting skipped overlapping starts): "vector vector"
    //    occurs in the corpus and "vector vector vector" runs make
    //    overlap counting observable. A spec additionally pins computed ≡
    //    stored on exactly this phrase ───────────────────────────────────
    QueryDef.sql("t12_phrase_repeated",
      phraseComputedSql("vector vector", 50)) { (s, dir) =>
      graft.operators.PhraseSearch.phraseTopK(
        Tables.documents(s, dir), "doc_id", "text", "vector vector", 50)
    },

    // ── T1: exact vector k-NN (cosine; warm in-process LocalRelation, or
    //    the distributed TakeOrderedAndProject fallback above the corpus
    //    byte budget — identical ranking contract, spec-pinned) ───────────
    QueryDef.sql("t1_cosine_knn",
      s"""$cosCte
         |SELECT doc_id, round(score, 6) AS score FROM cos
         |ORDER BY round(score, 6) DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val qv = Tables.queryVec(s, dir, 0)
      // rounded-then-ranked in process: the single-search SLO path — the
      // result arrives rank-ready (round-6 desc, doc_id asc), so no sort
      // job runs on top of the LocalRelation
      VectorSearch.roundedTopKInProcess(emb, "vec_id", "embedding",
          Seq((0L, qv.toArray)), 20, scale = 6, cacheKey = Some(dir))
        .map(_.select(col("doc_id"), col("score")))
        .getOrElse(
          VectorSearch.bruteTopK(emb, "vec_id", "embedding", qv, 500,
            cacheKey = Some(dir))
            .select(col("doc_id"), round(col("score"), 6).as("score"))
            .orderBy(round(col("score"), 6).desc, col("doc_id"))
            .limit(20))
    },

    // ── F11: rerank score→distance inverse transform over the top-k hits
    //    (rerank_manager.py:321-328; scores here are the cosine top-20 —
    //    positive, so the 1e-6 guard never divides near zero) ───────────────
    QueryDef.sql("f11_score_distance",
      s"""$cosCte
         |SELECT doc_id, round(score, 6) AS score,
         |       round(1.0 / (round(score, 6) + 0.000001) - 1.0, 6) AS distance
         |FROM cos
         |ORDER BY round(score, 6) DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val qv = Tables.queryVec(s, dir, 0)
      VectorSearch.bruteTopK(
        emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding", qv, 500,
        cacheKey = Some(dir))
        .select(col("doc_id"), round(col("score"), 6).as("score"),
          round(VectorFunctions.scoreToDistance(round(col("score"), 6)), 6).as("distance"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    },

    // ── F13: language code↔name maps (text_utils.py:20-74) exercised both
    //    directions over the F14-predicted language histogram; 'und' (not a
    //    reference code) takes the unknown→NULL path of the column twins ────
    QueryDef.sql("f13_language_map", {
      val scoredStructs = TextFunctions.LanguageMarkers.toSeq.sortBy(_._1)
        .map { case (lang, markers) =>
          val lst = markers.map(m => s"'$m'").mkString("[", ",", "]")
          s"{'hits': len(list_filter($lst, m -> list_contains(toks, m))), 'lang': '$lang'}"
        }.mkString("[", ", ", "]")
      val nameCase = TextFunctions.LanguageCodes.toSeq.sortBy(_._1)
        .map { case (c, n) => s"WHEN '$c' THEN '$n'" }.mkString(" ")
      val isoCase = TextFunctions.LanguageNamesToCodes.toSeq.sortBy(_._1)
        .map { case (n, c) => s"WHEN '$n' THEN '$c'" }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, ${plainTokSql("text")} AS toks FROM documents),
         |scored AS (SELECT doc_id, list_max($scoredStructs) AS best FROM t),
         |pred AS (SELECT doc_id,
         |           CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred
         |         FROM scored),
         |named AS (SELECT lang_pred,
         |            CASE lang_pred $nameCase ELSE NULL END AS lang_name
         |          FROM pred)
         |SELECT lang_pred, coalesce(lang_name, '?') AS lang_name,
         |       coalesce(CASE lang_name $isoCase ELSE NULL END, '?') AS iso_roundtrip,
         |       count(*)::BIGINT AS n
         |FROM named GROUP BY lang_pred, lang_name ORDER BY lang_pred""".stripMargin
    }) { (s, dir) =>
      Tables.documents(s, dir)
        .select(TextFunctions.languageId(TextFunctions.tokenize(col("text"))).as("lang_pred"))
        .withColumn("lang_name", TextFunctions.languageName(col("lang_pred")))
        .groupBy("lang_pred", "lang_name")
        .agg(count(lit(1)).as("n"))
        .select(col("lang_pred"),
          coalesce(col("lang_name"), lit("?")).as("lang_name"),
          coalesce(TextFunctions.languageIso(col("lang_name")), lit("?")).as("iso_roundtrip"),
          col("n"))
        .orderBy("lang_pred")
    },

    // ── J3/A3: RRF hybrid fusion of vector + BM25 ranked lists ────────────
    QueryDef.sql("j3_rrf_hybrid",
      s"""$bm25Cte,
         |qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
         |cos AS (
         |  SELECT vec_id AS doc_id,
         |         ${cosineSql("embedding", "(SELECT v FROM qv)")} AS score
         |  FROM embeddings),
         |vtop AS (SELECT doc_id, round(score, 6) AS score FROM cos
         |         ORDER BY round(score, 6) DESC, doc_id LIMIT 50),
         |ktop AS (SELECT doc_id, round(score, 4) AS score FROM bm25
         |         ORDER BY round(score, 4) DESC, doc_id LIMIT 50),
         |vrank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM vtop),
         |krank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM ktop),
         |contrib AS (
         |  SELECT doc_id, 1.0 / (60.0 + rank) AS contrib FROM vrank
         |  UNION ALL
         |  SELECT doc_id, 1.0 / (60.0 + rank) AS contrib FROM krank)
         |SELECT doc_id, round(sum(contrib), 6) AS rrf_score
         |FROM contrib GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val qv = Tables.queryVec(s, dir, 0)
      val vtop = VectorSearch.bruteTopK(emb, "vec_id", "embedding", qv, 500,
        cacheKey = Some(dir))
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(round(col("score"), 6).desc, col("doc_id")).limit(50)
      val ktop = Bm25.topK(
        Bm25.scoreWithIndex(Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text"), s, QueryText)
          .select(col("doc_id"), round(col("score"), 4).as("score")), 50)
      Fusion.rrf(Seq(vtop, ktop))
        .select(col("doc_id"), round(col("rrf_score"), 6).as("rrf_score"))
        .orderBy("doc_id")
    },

    // ── J2/W2: context-window expansion around hits ───────────────────────
    QueryDef.sql("w2_context_window",
      """WITH chunks AS (
        |  SELECT doc_id, source AS sourcedoc,
        |         (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)::INT AS sid
        |  FROM documents),
        |hits AS (SELECT sourcedoc, sid FROM chunks WHERE doc_id IN (10, 137, 256, 401)),
        |expanded AS (
        |  SELECT sourcedoc, sid AS hit_sid,
        |         unnest(range(greatest(sid - 2, 0), sid + 3))::INT AS ctx_sid
        |  FROM hits),
        |want AS (
        |  SELECT sourcedoc, ctx_sid AS sid, min(hit_sid)::INT AS hit_sid
        |  FROM expanded GROUP BY sourcedoc, ctx_sid)
        |SELECT c.sourcedoc, c.sid, c.doc_id, w.hit_sid
        |FROM chunks c JOIN want w USING (sourcedoc, sid)
        |ORDER BY sourcedoc, sid""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"), col("source").as("sourcedoc"),
          (row_number().over(w) - 1).cast("int").as("sid"))
      val hits = chunks.filter(col("doc_id").isin(10, 137, 256, 401))
      ContextWindow.expand(chunks, hits, 2)
        .select(col("sourcedoc"), col("sid"), col("doc_id"), col("hit_sid"))
        .orderBy("sourcedoc", "sid")
    },

    // ── W2 batched: per-query context expansion in one DAG — dedup keyed by
    //    (query, sourcedoc, sid); query 0's windows never merge with query
    //    1's even when they overlap ────────────────────────────────────────
    QueryDef.sql("w2_context_batch",
      """WITH chunks AS (
        |  SELECT doc_id, source AS sourcedoc,
        |         (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)::INT AS sid
        |  FROM documents),
        |hits AS (
        |  SELECT 0 AS query_id, sourcedoc, sid FROM chunks WHERE doc_id IN (10, 137)
        |  UNION ALL
        |  SELECT 1 AS query_id, sourcedoc, sid FROM chunks WHERE doc_id IN (12, 256)),
        |expanded AS (
        |  SELECT query_id, sourcedoc, sid AS hit_sid,
        |         unnest(range(greatest(sid - 2, 0), sid + 3))::INT AS ctx_sid
        |  FROM hits),
        |want AS (
        |  SELECT query_id, sourcedoc, ctx_sid AS sid, min(hit_sid)::INT AS hit_sid
        |  FROM expanded GROUP BY query_id, sourcedoc, ctx_sid)
        |SELECT w.query_id, c.sourcedoc, c.sid, c.doc_id, w.hit_sid
        |FROM chunks c JOIN want w USING (sourcedoc, sid)
        |ORDER BY query_id, sourcedoc, sid""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"), col("source").as("sourcedoc"),
          (row_number().over(w) - 1).cast("int").as("sid"))
      val hits = chunks.filter(col("doc_id").isin(10, 137))
        .withColumn("query_id", lit(0))
        .unionByName(chunks.filter(col("doc_id").isin(12, 256))
          .withColumn("query_id", lit(1)))
        .withColumn("_scope", lit(2))
      ContextWindow.expandScopedBatch(chunks, hits, "query_id")
        .select(col("query_id"), col("sourcedoc"), col("sid"),
          col("doc_id"), col("hit_sid"))
        .orderBy("query_id", "sourcedoc", "sid")
    })
}

/** Session-scoped once-per-corpus latch for the stored positional index
  * (build+write once, serve many — t12_phrase_stored).
  */
private[queries] object PosIxMemo {
  val memo = new graft.operators.SessionMemo[Boolean]
}

/** Session-scoped once-per-corpus latch for the stored BM25 index
  * (build+write once, serve many — t13_rm3_served / t15_boolean_served).
  */
private[queries] object Bm25StoreMemo {
  val memo = new graft.operators.SessionMemo[Boolean]
}

/** Once-per-corpus latch for s8_bm25_store_append's BASE store (each
  * invocation copies it to a scratch dir before appending).
  */
private[queries] object Bm25AppendBaseMemo {
  val memo = new graft.operators.SessionMemo[Boolean]
}

/** Session-scoped once-per-corpus latch for the stored late-interaction
  * index (build+write once, serve many — t11_late_stored).
  */
private[queries] object LateStoreMemo {
  val memo = new graft.operators.SessionMemo[Boolean]
}
