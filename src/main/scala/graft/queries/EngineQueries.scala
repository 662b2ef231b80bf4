package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}
import graft.embed.Embedder
import graft.functions.TextFunctions
import graft.operators.{Bm25, ContextWindow, Fusion, VectorSearch}
import graft.query.{Enhancement, Rerank}

/** Engine-stage queries: enhancement, deterministic embedding + cache join,
  * weighted fusion, adaptive scope, consecutive grouping, rerank, file-type
  * detection (SURVEY §2.8 F6-F8, §2.9 M1/M5/M7, §2.3 J4, §2.2 P5, §2.5 W3,
  * §2.1 S3).
  */
object EngineQueries {
  import OracleSql._

  /** Learned-M7 artifacts shared by the Spark and SQL sides of
    * m7_rerank_learned: the BM25-tokenized query-term set (the literal
    * idiom m7_rerank's twin uses — must equal tokenizeBm25(QueryText))
    * and the logistic model trained ONCE at definition time on the seeded
    * synthetic relevance set. Training is deterministic pure-JVM math, so
    * both engines see identical weight literals.
    */
  private object LearnedM7 {
    // ORDERED distinct query tokens (the proximity feature's bigrams
    // depend on order — must equal array_distinct(tokenizeBm25(QueryText)))
    val qTokens: Seq[String] = OracleSql.QueryText.toLowerCase
      .split("[^a-z0-9]+").toSeq
      .filter(t => t.length > 1 || t.matches("[0-9]"))
      .filterNot(TextFunctions.EnglishStopwords.contains).distinct
    val model: graft.query.Rerank.LogisticScorer =
      graft.query.Rerank.LogisticScorer.trainPairwise(
        graft.query.Rerank.LogisticScorer.syntheticGradedContexts(qTokens))
  }

  /** The ONE planted-query list every m15_* planted family, both qrels
    * builders, and EvalReceipt's CLI eval derive from. Single-sourced
    * (ADVICE r17): the qrels' query_ids and the eval's positional
    * query_ids come from the same rows, so editing a query here can
    * never silently misalign one side of the A/B.
    */
  private[graft] val PlantedQueryDefs: Seq[(Long, String)] = Seq(
    1L -> "spark join filter window",
    2L -> "hash merge batch scan",
    3L -> "sort table row value")

  /** The `;;`-joined eval-verb argument for the planted batch — the form
    * `Main eval` parses positionally; position i IS query_id i+1 because
    * both come from [[PlantedQueryDefs]] in order.
    */
  private[graft] def plantedQueriesArg: String =
    PlantedQueryDefs.map(_._2).mkString(";;")

  /** Upper bound on any planted query's ordered-bigram count, derived
    * from the queries themselves (ADVICE r17 — was a hard-coded 3, which
    * would silently truncate the SQL oracle's E[bpx] if a query grew).
    * Splitting on non-alphanumerics over-counts vs tokenizeBm25 (which
    * also drops stopwords/short tokens); over-count is exact-safe — the
    * extra unrolled terms are CASE-guarded zeros.
    */
  private[graft] def plantedMaxPairs: Int =
    PlantedQueryDefs.map(_._2.split("[^a-zA-Z0-9]+").length - 1).max

  /** SQL for f6's mean-pooled doc vector over a token-list expr: per
    * dimension j, the mean over tokens of the engine embedder's FLOAT
    * component (the t11-proven rawEmb form), summed as DOUBLE in token
    * order — the bit-parity contract [[graft.query.Rerank.LogisticScorer.pooledVecCol]]
    * keeps on the Spark side. Empty lists pool to the zero vector.
    */
  private def pooledVecSql(toksExpr: String, salt: String = ""): String = {
    val tokenExpr =
      if (salt.isEmpty) "t || '|' || j::VARCHAR"
      else s"'$salt' || t || '|' || j::VARCHAR"
    s"list_transform(range(0, 8), j -> " +
      s"coalesce(list_sum(list_transform($toksExpr, t -> " +
      s"((((${polyHashSql(tokenExpr)}) % 1000) - 500)::DOUBLE" +
      s" / 500.0)::FLOAT::DOUBLE)), 0.0)" +
      s" / greatest(len($toksExpr), 1)::DOUBLE)"
  }

  /** Literal DOUBLE-list SQL of the driver-pooled query vector (query
    * tokens are plan-time constants in every twin that needs f6;
    * Double.toString round-trips through the SQL parser exactly).
    */
  private def pooledQvLitSql(qTokens: Seq[String],
                             salt: String = ""): String =
    graft.query.Rerank.LogisticScorer
      .pooledVecValue(qTokens.distinct.map(salt + _), 8)
      .map(_.toString).mkString("[", ", ", "]")

  /** The f6 SQL term: round(max(cos, 0), 6) of two vector exprs. */
  private def f6Sql(dv: String, qv: String): String =
    s"round(greatest(${cosineSql(dv, qv)}, 0.0), 6)"

  /** SQL for f5's chance-adjacency expectation E[bpx] = Σ_pairs
    * tf(a)·tf(b)/L over the query's ordered bigrams — one indexed term per
    * possible pair (list element access is CASE-guarded), summed in list
    * order so the fold matches the Spark column's `aggregate` bit-for-bit
    * (x + 0.0 for absent pairs is exact). Expects `d.dt` (doc token list)
    * and `qg.qbigrams` (ordered "a b" pair strings) in scope.
    */
  private def proxExpvSql(maxPairs: Int): String =
    (1 to maxPairs).map { i =>
      s"(CASE WHEN len(qg.qbigrams) >= $i THEN " +
        s"len(list_filter(d.dt, t -> t = string_split(qg.qbigrams[$i], ' ')[1]))::DOUBLE * " +
        s"len(list_filter(d.dt, t -> t = string_split(qg.qbigrams[$i], ' ')[2]))::DOUBLE / " +
        s"greatest(len(d.dt)::DOUBLE, 1.0) ELSE 0.0 END)"
    }.mkString(" + ")

  /** Shared SQL twin of the exact MaxSim tier — t11_late_interaction and
    * t11_late_stored serve the identical computation (the stored tier only
    * changes WHERE the token stream and vocabulary embeddings come from),
    * so both hash-gate against this one oracle.
    */
  private lazy val lateInteractionSql: String = {
    def rawEmb(text: String, dims: Int): String =
      s"""list_transform(range(0, $dims), j ->
         | ((((${polyHashSql(s"$text || '|' || j::VARCHAR")}) % 1000) - 500)::DOUBLE
         |   / 500.0)::FLOAT)""".stripMargin.replaceAll("\n", "")
    val vals = graft.operators.LateInteraction.tokenizeValue(OracleSql.QueryText)
      .distinct.sorted.map(t => s"('$t')").mkString(", ")
    s"""WITH dtok AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(${plainTokSql("text")})) AS tok
       |  FROM documents),
       |ve AS MATERIALIZED (
       |  SELECT tok, ${rawEmb("tok", 8)} AS tvec
       |  FROM (SELECT DISTINCT tok FROM dtok)),
       |q(qtok) AS (VALUES $vals),
       |qe AS MATERIALIZED (SELECT qtok, ${rawEmb("qtok", 8)} AS qvec FROM q),
       |sims AS MATERIALIZED (
       |  SELECT tok, qtok, ${cosineSql("tvec", "qvec")} AS sim
       |  FROM ve CROSS JOIN qe),
       |ms AS (SELECT d.doc_id, s.qtok, max(s.sim) AS m
       |       FROM dtok d JOIN sims s USING (tok) GROUP BY 1, 2),
       |sc AS (SELECT doc_id, round(sum(m), 4) AS score FROM ms GROUP BY doc_id)
       |SELECT doc_id, score FROM sc
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  /** The m15_retrieval_planted computation, shared with Rm16EvalGateSpec
    * (which asserts the learned-vs-bm25 inequality the oracle hash gates):
    * plant tf-mass-graded qrels over `documents`, rank the 3-query batch
    * by BM25 (top-20, rounded-4 scores), rerank the head (topK 10) with
    * the PRETRAINED learned scorer, and evaluate both rankings at k=10.
    */
  def retrievalPlanted(s: org.apache.spark.sql.SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame =
    plantedEval(s, dir, plantedQueries(s), tfQrels(s, dir))

  /** Planted tf-mass qrels: grade by corpus query-term tf mass
    * (EvalReceipt's TREC-shape construction — relevance IS the tf-mass
    * rank).
    */
  private[graft] def tfQrels(s: org.apache.spark.sql.SparkSession,
                      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byQ = Window.partitionBy("query_id")
    val docs = Tables.documents(s, dir)
    // r18 (guide §2.3/§2.4): the tf-mass count used to explode EVERY
    // corpus token into rows, broadcast-join the (query, term) pairs and
    // groupBy (query, doc) — a corpus-token-stream explode plus an extra
    // Exchange before the ranking window. The planted queries are
    // plan-time literals, so per (query, doc) the same count is one
    // map-side array expression: size(filter(tokens, t ∈ query's terms))
    // counts exactly the token OCCURRENCES the join counted (same
    // multiset membership). Only matching (query, doc) rows reach the one
    // remaining shuffle (the window).
    val qlits = PlantedQueryDefs.map { case (qid, qt) =>
      (qid, TextFunctions.tokenizeBm25Value(s, qt).distinct.sorted)
    }
    val perQ = qlits.map { case (qid, ts) =>
      struct(lit(qid).as("query_id"),
        size(filter(col("tk"),
          t => t.isin(ts: _*))).cast("long").as("tfm"))
    }
    docs.select(col("doc_id"),
        TextFunctions.tokenizeBm25(col("text")).as("tk"))
      .select(col("doc_id"), explode(array(perQ: _*)).as("q"))
      .select(col("q.query_id").as("query_id"), col("doc_id"),
        col("q.tfm").as("tfm"))
      .filter(col("tfm") > 0)
      .withColumn("rk", row_number().over(
        byQ.orderBy(col("tfm").desc, col("doc_id"))))
      .filter(col("rk") <= 100)
      .select(col("query_id"), col("doc_id"),
        when(col("rk") <= 20, 3.0).when(col("rk") <= 50, 2.0)
          .otherwise(1.0).as("grade"))
  }

  /** The m15_retrieval_planted_prox computation (verdict r16 #2 — the
    * DE-CIRCULARIZED qrels family): the tf-mass family's +50% nDCG win
    * demonstrated feature-signal alignment, because the winning scorer's
    * decisive feature IS saturating tf mass. This family grades documents
    * by ORDERED-BIGRAM PROXIMITY — the count of positions where two
    * CONSECUTIVE query terms appear adjacent in order in the document —
    * a positional signal NONE of the five [[Rerank.LogisticScorer]]
    * features can see (they are set/tf/length/retrieval statistics over
    * unordered token multisets). Grades band by proximity VALUE
    * (px ≥ 3 → 3, = 2 → 2, = 1 → 1; value-banded, so no arbitrary
    * rank-tie grading). Same BM25 head, same pretrained rerank, same
    * metrics — only the grading signal changes, so learned-vs-bm25 here
    * measures generalization, not alignment.
    */
  def retrievalPlantedProx(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame =
    plantedEval(s, dir, plantedQueries(s), proxQrels(s, dir))

  /** Planted proximity qrels (see [[retrievalPlantedProx]]). */
  private[graft] def proxQrels(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val qbg = PlantedQueryDefs
      .map { case (qid, qt) =>
        (qid, TextFunctions.tokenizeBm25Value(s, qt)
          .sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq)
      }.toDF("query_id", "qbigrams")
    val t = TextFunctions.tokenizeBm25(col("text"))
    val n1 = greatest(size(t) - 1, lit(0))
    val docBg = docs.select(col("doc_id"),
      zip_with(slice(t, lit(1), n1), slice(t, lit(2), n1),
        (a, b) => concat(a, lit(" "), b)).as("bigrams"))
    docBg.crossJoin(broadcast(qbg))
      .select(col("query_id"), col("doc_id"),
        size(filter(col("bigrams"),
          x => array_contains(col("qbigrams"), x))).as("px"))
      .filter(col("px") > 0)
      .select(col("query_id"), col("doc_id"),
        when(col("px") >= 3, 3.0).when(col("px") === 2, 2.0)
          .otherwise(1.0).as("grade"))
  }

  /** The m15_retrieval_planted_sem computation (verdict r18 #4 — the
    * THIRD, SEMANTIC qrels family): documents graded by a HELD-OUT
    * hash-embedder's pooled cosine — per doc, the mean over its full
    * token list of per-token embeddings under a salt ("sem|") no serving
    * path uses, against the same-salt pooled query vector; grades band
    * by cosine RANK (top-20 → 3, next 30 → 2, next 50 → 1, the tf
    * family's TREC shape). BM25 cannot see this signal at all, and the
    * scorer's dense feature f6 reads the same FUNCTIONAL CLASS (pooled
    * cosine) under a DIFFERENT salt — so learned-vs-bm25 here measures
    * whether the pooling geometry generalizes across embedders, not
    * alignment with the grader's own noise.
    */
  def retrievalPlantedSem(s: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame =
    plantedEval(s, dir, plantedQueries(s), semQrels(s, dir))

  /** Positive-safe double cosine fold (the f6 arithmetic shape). */
  private def cosFoldCol(a: org.apache.spark.sql.Column,
                         b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), _ + _)
    val na = aggregate(transform(a, x => x * x), lit(0.0d), _ + _)
    val nb = aggregate(transform(b, x => x * x), lit(0.0d), _ + _)
    when(sqrt(na) * sqrt(nb) > 0, dot / (sqrt(na) * sqrt(nb)))
      .otherwise(lit(0.0))
  }

  /** Planted semantic qrels (see [[retrievalPlantedSem]]) — DEPTH-POOLED
    * like real TREC judgments: the assessed pool is the BM25 top-200 per
    * query (grading the whole corpus by a retrieval-orthogonal signal
    * leaves the head with zero relevant docs at 50k+ docs — every
    * variant reads 0.0000 and the family measures nothing, receipted
    * r18), and pool documents band by the held-out-salt pooled cosine
    * rank within the pool (top-20 → 3, next 30 → 2, next 50 → 1).
    */
  private[graft] def semQrels(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val byQ = Window.partitionBy("query_id")
    val docs = Tables.documents(s, dir)
    val ix = Bm25.cachedIndex(dir, docs, "doc_id", "text")
    val pool = Bm25.scoreBatch(ix, broadcast(plantedQueries(s)),
        "query_id", "qtext")
      .select(col("query_id"), col("doc_id"),
        round(col("score"), 4).as("score"))
      .withColumn("prk", row_number().over(
        byQ.orderBy(col("score").desc, col("doc_id"))))
      .filter(col("prk") <= 200)
      .select("query_id", "doc_id")
    val qv = PlantedQueryDefs.map { case (qid, qt) =>
      (qid, graft.query.Rerank.LogisticScorer.pooledVecValue(
        qt.split(" ").distinct.toSeq.map("sem|" + _), 8))
    }.toDF("query_id", "qv")
    val toks = TextFunctions.tokenizeBm25(col("text"))
    val dvec = graft.query.Rerank.LogisticScorer.pooledVecCol(
      transform(toks, t => concat(lit("sem|"), t)), 8)
    // join the (queries × 200)-row pool BEFORE projecting the pooled
    // vector so the embed work is pool-bounded, not corpus-bounded
    docs.join(pool, "doc_id")
      .select(col("query_id"), col("doc_id"), dvec.as("dv"))
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col("doc_id"),
        round(cosFoldCol(col("dv"), col("qv")), 6).as("c"))
      .withColumn("rk", row_number().over(
        byQ.orderBy(col("c").desc, col("doc_id"))))
      .filter(col("rk") <= 100)
      .select(col("query_id"), col("doc_id"),
        when(col("rk") <= 20, 3.0).when(col("rk") <= 50, 2.0)
          .otherwise(1.0).as("grade"))
  }

  /** [[plantedEval]] with a caller-supplied scorer against either qrels
    * family — the eval-harness seam Rm17 gate specs and weight-tuning
    * receipts use.
    */
  private[graft] def plantedEvalWith(s: org.apache.spark.sql.SparkSession,
                                     dir: String,
                                     m: graft.query.Rerank.LogisticScorer,
                                     family: String)
      : org.apache.spark.sql.DataFrame =
    plantedEval(s, dir, plantedQueries(s), family match {
      case "prox" => proxQrels(s, dir)
      case "sem"  => semQrels(s, dir)
      case _      => tfQrels(s, dir)
    }, m)

  private[graft] def plantedQueries(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    PlantedQueryDefs.toDF("query_id", "qtext")
  }

  /** Shared ranking+eval core of the planted families: BM25 top-20
    * (rounded-4, (score DESC, doc_id)), the PRETRAINED learned rerank of
    * the top-10 head, both evaluated at k=10 against the caller's graded
    * qrels.
    */
  private def plantedEval(s: org.apache.spark.sql.SparkSession, dir: String,
                          qdf: org.apache.spark.sql.DataFrame,
                          qrels: org.apache.spark.sql.DataFrame,
                          m: graft.query.Rerank.LogisticScorer =
                            graft.query.Rerank.LogisticScorer.pretrained)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byQ = Window.partitionBy("query_id")
    val docs = Tables.documents(s, dir)
    val ix = Bm25.cachedIndex(dir, docs, "doc_id", "text")
    val ktop = Bm25.scoreBatch(ix, qdf, "query_id", "qtext")
      .select(col("query_id"), col("doc_id"),
        round(col("score"), 4).as("score"))
      .withColumn("rank", row_number().over(
        byQ.orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= 20)
    val withText = broadcast(ktop)
      .join(docs.select("doc_id", "text"), "doc_id")
      .join(broadcast(qdf), "query_id")
    val learned = Rerank.rerankHeadBatch(withText, "query_id", "score", 10,
        m.scoreCols(
          array_distinct(TextFunctions.tokenizeBm25(col("qtext"))),
          col("text"), col("score")))
      .select(col("query_id"), col("doc_id"),
        col("final_rank").cast("int").as("rank"))
    def metrics(variant: String, ranking: org.apache.spark.sql.DataFrame) =
      graft.operators.RetrievalMetrics.evaluate(ranking, qrels, k = 10)
        .withColumn("variant", lit(variant))
    metrics("bm25", ktop.select("query_id", "doc_id", "rank"))
      .unionByName(metrics("learned", learned))
      .select(col("variant"), col("query_id"), col("n_rel"), col("hits"),
        col("ndcg"), col("mrr"), col("p_at_k"), col("r_at_k"))
      .orderBy("variant", "query_id")
  }

  /** Crafted strings that exercise normalization/spelling/synonym paths the
    * word-soup documents table can't (smart quotes, repeated punctuation,
    * stretched letters). Same literals live in the oracle VALUES list.
    */
  private val EnhanceSamples: Seq[(Int, String)] = Seq(
    1 -> "what   is a fast   query plan??",
    2 -> "sooooo   slow join performance!!!",
    3 -> "filter the window,, please",
    4 -> "document error   handling",
    5 -> "plain words only")

  private def sqlQuote(s: String): String = s.replace("'", "''")

  /** Entity-bearing fixtures for the deterministic NER (F5/F2): honorific
    * persons, corporate-suffix orgs, gazetteer places, dates, numbers, and
    * a no-entity row. Same literals live in the oracle VALUES list.
    */
  private val EntitySamples: Seq[(Int, String)] = Seq(
    1 -> "Dr. Alice Johnson and Mrs. Carol Danvers met Mr Bob Smith in New York on 2024-03-15.",
    2 -> "Acme Corp and Globex Corporation shipped 42 crates to Berlin and the United Kingdom.",
    3 -> "no entities in this lowercase sentence at all",
    4 -> "Stanford University partnered with Wayne Foundation in San Francisco; see 1999-12-31 and 7 items.",
    5 -> "Prof. Xavier visited Tokyo, London and Paris with 1000 students on 2020-01-02.")

  /** Spelling-correction fixtures: a distance-1 typo of corpus words, known
    * words (untouched), short tokens (skipped), a transposition (distance 2
    * — deliberately NOT corrected), and gibberish (no candidate). The
    * expected corrections are COMPUTED identically by both engines from the
    * corpus vocabulary, so no pinned answers are needed.
    */
  private val SpellSamples: Seq[(Int, String)] = Seq(
    1 -> "spak join filtr window",
    2 -> "the quick brown fox",
    3 -> "ab cd efg",
    4 -> "window windwo",
    5 -> "zzzzqqq spark",
    // tokenizes to NOTHING — exercises the keep-empty contract (the
    // correction keeps the query as an empty string rather than dropping it)
    6 -> "?!,, ... !!")

  /** PII fixture rows (the synthetic corpus contains no PII, deliberately):
    * planted email/phone/card/SSN/IP plus clean and adversarial-adjacency
    * rows — card-vs-phone precedence, dotted-number-vs-IP.
    */
  private val PiiFixture: Seq[(Int, String)] = Seq(
    1 -> "Contact john.doe@example.com or call (555) 123-4567 now",
    2 -> "SSN 123-45-6789 card 4111-1111-1111-1111 server 10.0.0.1",
    3 -> "no pii at all here",
    4 -> "edge: 1234 5678 9012 3456 and 999.999.999.999 and a@b.co",
    5 -> "phones 555.123.4567 and 555 123 4567; ref 12-34 stays")

  /** `Enhancement.enhance("fast spark join and filter queries")`, pinned as
    * a literal so the e2e oracle SQL can embed it. KbPipelineSpec asserts
    * the live enhancement still produces exactly this string — any drift in
    * the synonym table or normalization breaks the build, not the oracle.
    */
  val E2eQueryText = "fast spark join and filter queries"
  val E2eEnhancedQuery: String =
    "(fast OR quick OR rapid) spark (join OR merge OR combine) and (filter OR predicate OR where) queries"

  /** Second pinned pair for the BATCHED e2e oracle (same drift guard in
    * KbPipelineSpec). */
  val E2eQueryText2 = "window sort and document scan"
  val E2eEnhancedQuery2: String =
    "(window OR frame OR range) sort and (document OR text OR record) scan"

  /** Twenty pinned (text, enhanced) pairs for the 20-query batched e2e
    * oracle — the reference's own serving-SLO regime ("batch of 20 queries
    * < 5 s", `/root/reference/tests/performance/test_performance.py:326-327`).
    * KbPipelineSpec asserts every pinned enhancement equals live
    * [[Enhancement]] output, the same drift guard as [[E2eEnhancedQuery]].
    */
  val E2eBatch20: Seq[(String, String)] = Seq(
    ("fast spark join and filter queries", "(fast OR quick OR rapid) spark (join OR merge OR combine) and (filter OR predicate OR where) queries"),
    ("window sort and document scan", "(window OR frame OR range) sort and (document OR text OR record) scan"),
    ("hash merge batch scan", "hash merge batch scan"),
    ("sort table row value", "sort table row value"),
    ("quick filter on document text", "quick (filter OR predicate OR where) on (document OR text OR record) text"),
    ("large table scan and merge", "large table scan and merge"),
    ("spark window frame range query", "spark (window OR frame OR range) frame range (query OR search OR lookup)"),
    ("document record text search", "(document OR text OR record) record text search"),
    ("fast hash join on keys", "(fast OR quick OR rapid) hash (join OR merge OR combine) on keys"),
    ("batch scan with predicate filter", "batch scan with predicate (filter OR predicate OR where)"),
    ("merge sorted runs into one table", "merge sorted runs into one table"),
    ("rapid document retrieval query", "rapid (document OR text OR record) retrieval (query OR search OR lookup)"),
    ("combine join results with filter", "combine (join OR merge OR combine) results with (filter OR predicate OR where)"),
    ("text record scan and sort", "text record scan and sort"),
    ("where clause on table rows", "where clause on table rows"),
    ("spark batch query on values", "spark batch (query OR search OR lookup) on values"),
    ("frame based window aggregation", "frame based (window OR frame OR range) aggregation"),
    ("filter and sort document rows", "(filter OR predicate OR where) and sort (document OR text OR record) rows"),
    ("key value table merge scan", "key value table merge scan"),
    ("quick text search in records", "quick text search in records"))

  /** DuckDB rendition of [[Enhancement.enhance]] on expr `q`. RE2 has no
    * pattern backreferences, so run-collapsing is a per-character chain in
    * BOTH engines (see [[Enhancement]]); backslashes here are single —
    * Scala triple-quoted strings are raw.
    */
  private def enhanceSql(q: String): String = {
    val punctCollapsed = Enhancement.PunctMarks.foldLeft(q) { (e, ch) =>
      s"regexp_replace($e, '\\${ch}{2,}', '$ch', 'g')"
    }
    val norm = s"""trim(regexp_replace(regexp_replace($punctCollapsed,
                  | '\\s+', ' ', 'g'),
                  | '\\s+([!?.,;:])', '\\1', 'g'))""".stripMargin.replaceAll("\n", "")
    val fixed = "abcdefghijklmnopqrstuvwxyz".foldLeft(s"lower($norm)") { (e, ch) =>
      s"regexp_replace($e, '$ch{3,}', '$ch$ch', 'g')"
    }
    val toks = plainTokSql(fixed)
    val cases = Enhancement.Synonyms.toSeq.sortBy(_._1).map { case (w, syns) =>
      s"WHEN t = '$w' THEN '${(w +: syns).mkString("(", " OR ", ")")}'"
    }.mkString(" ")
    val stop = Enhancement.ExpansionStopwords.toSeq.sorted.map(w => s"'$w'").mkString(", ")
    s"""list_aggregate(list_transform($toks,
       | t -> CASE WHEN len(t) >= 4 AND t NOT IN ($stop) THEN (CASE $cases ELSE t END)
       |           ELSE t END), 'string_agg', ' ')""".stripMargin.replaceAll("\n", "")
  }

  /** DuckDB rendition of [[Embedder.deterministicEmbed]] with `dims`
    * components, each rounded to 6 dp as DOUBLE.
    */
  private def embedSql(text: String, dims: Int): String =
    s"""list_transform(range(0, $dims), j ->
       | round(((((${polyHashSql(s"$text || '|' || j::VARCHAR")}) % 1000) - 500)
       |   / 500.0)::FLOAT::DOUBLE, 6))""".stripMargin.replaceAll("\n", "")

  /** [[embedSql]] quantized to integer micro-units and comma-joined — the
    * driver's pandas comparator cannot sort array columns, so embedding
    * queries emit the vector as one exact-integer string. Lockstep with
    * [[embedStrCol]].
    */
  private def embedStrSql(text: String, dims: Int): String =
    s"array_to_string(list_transform(${embedSql(text, dims)}, " +
      "x -> (round(x * 1000000.0, 0))::BIGINT), ',')"

  /** Spark twin of [[embedStrSql]]: same round(·,6) → ×1e6 → round(·,0) →
    * BIGINT chain over an embedding array column.
    */
  private def embedStrCol(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_join(transform(vec, v =>
      round(round(v.cast("double"), 6) * 1000000.0, 0).cast("long").cast("string")), ",")

  /** DuckDB twin of the FULL formatter document (f_format_xml/_md): w3
    * consecutive-run grouping over the bounded chunk slice, sid-ordered
    * string_agg per block, per-block format string, block-ordered
    * string_agg into the one-document frame. The non-regex replace chain
    * must apply in the [[graft.format.Formatters.xmlEscape]] order
    * (& first, quotes last).
    */
  private def formatDocSql(style: String): String = {
    def esc(e: String): String =
      s"replace(replace(replace(replace(replace($e," +
        " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')," +
        " '\"', '&quot;'), '''', '&apos;')"
    // JSON string escaping matching Spark's to_json (Jackson): backslash
    // first, then quote, the short-form controls (\b \t \n \f \r), and
    // EVERY remaining char below 0x20 as \u00XX uppercase hex — a corpus
    // byte like 0x01 must escape identically on both engines or the
    // full-document hash diverges (chr(0) is unrepresentable in both
    // engines' strings and excluded)
    def jesc(e: String): String = {
      val base =
        s"""replace(replace(replace(replace(replace(replace(replace($e,
           | '\\', '\\\\'), '"', '\\"'), chr(10), '\\n'),
           | chr(13), '\\r'), chr(9), '\\t'), chr(8), '\\b'),
           | chr(12), '\\f')""".stripMargin.replaceAll("\n", "")
      (1 until 32).filterNot(Set(8, 9, 10, 12, 13))
        .foldLeft(base)((acc, c) => f"replace($acc, chr($c), '\\u00$c%02X')")
    }
    val (body, frame) = style match {
      case "xml" => (
        s"'<reference source=\"' || ${esc("sourcedoc")} || '\" start=\"' ||" +
          s" start_sid || '\" end=\"' || end_sid || '\">' || chr(10) ||" +
          s" ${esc("block_text")} || chr(10) || '</reference>'",
        "'<references>' || chr(10) || agg || chr(10) || '</references>'")
      case "json" => (
        s"""'{"sourcedoc":"' || ${jesc("sourcedoc")} ||
           | '","start_sid":' || start_sid ||
           | ',"end_sid":' || end_sid ||
           | ',"text":"' || ${jesc("block_text")} || '"}'"""
          .stripMargin.replaceAll("\n", ""),
        "'[' || agg || ']'")
      case "plain" => (
        "'From ' || sourcedoc || ' (chunks ' || start_sid || '-' ||" +
          " end_sid || '):' || chr(10) || block_text",
        "agg")
      case _ => ( // markdown
        "'### ' || sourcedoc || ' [' || start_sid || '-' || end_sid ||" +
          " ']' || chr(10) || chr(10) || block_text",
        "agg")
    }
    val sep = style match {
      case "xml" => "chr(10)"
      case "json" => "',' || chr(10)"
      case _ => "chr(10) || chr(10)"
    }
    s"""WITH chunks AS (
       |  SELECT doc_id, source AS sourcedoc,
       |         (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)::INT AS sid,
       |         text
       |  FROM documents WHERE doc_id < 300),
       |ctx AS (SELECT * FROM chunks WHERE sid % 7 < 3),
       |lagged AS (
       |  SELECT sourcedoc, sid, text,
       |         lag(sid) OVER (PARTITION BY sourcedoc ORDER BY sid) AS prev_sid
       |  FROM ctx),
       |flagged AS (
       |  SELECT sourcedoc, sid, text,
       |         CASE WHEN prev_sid IS NULL OR sid != prev_sid + 1 THEN 1 ELSE 0 END AS ng
       |  FROM lagged),
       |grouped AS (
       |  SELECT sourcedoc, sid, text,
       |         sum(ng) OVER (PARTITION BY sourcedoc ORDER BY sid
       |                       ROWS UNBOUNDED PRECEDING)::BIGINT AS group_id
       |  FROM flagged),
       |blocks AS (
       |  SELECT sourcedoc, group_id, min(sid) AS start_sid, max(sid) AS end_sid,
       |         string_agg(text, chr(10) ORDER BY sid) AS block_text
       |  FROM grouped GROUP BY sourcedoc, group_id),
       |fmt AS (SELECT sourcedoc, start_sid, $body AS formatted FROM blocks),
       |joined AS (
       |  SELECT string_agg(formatted, $sep ORDER BY sourcedoc, start_sid) AS agg
       |  FROM fmt)
       |SELECT $frame AS doc FROM joined""".stripMargin
  }

  /** Spark side of f_format_xml/_md/_json/_plain: the REAL serving path —
    * [[graft.format.Formatters.blocks]] → document (the bounded block rows
    * collected and rendered on the driver), re-wrapped as a 1-row
    * DataFrame for the comparator.
    */
  private def formatDocDf(s: org.apache.spark.sql.SparkSession,
                          dir: String, style: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import graft.format.Formatters
    val w = Window.partitionBy("source").orderBy("doc_id")
    val chunks = Tables.documents(s, dir).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("source").as("sourcedoc"),
        (row_number().over(w) - 1).cast("int").as("sid"), col("text"))
    val ctx = chunks.filter(col("sid") % 7 < 3)
    Seq(Tuple1(Formatters.document(Formatters.blocks(ctx, "text"), style))).toDF("doc")
  }

  /** The complete single-query lifecycle as one DuckDB SQL statement,
    * parameterized by the PINNED enhanced-query literal (spec-asserted to
    * equal live Enhancement output). Used directly by e2e_hybrid_query and
    * twice (unioned) by e2e_hybrid_batch.
    *
    * @param vectorStage  the vector-stage CTE block — must define
    *                     `vtop(doc_id, score)` (score rounded 6dp), may
    *                     define extra `vx_`-prefixed CTEs, and sees the
    *                     query embedding as `(SELECT v FROM qv)`. Empty →
    *                     the exact full-scan stage; the ANN-served e2e
    *                     entries (e2e_hybrid_ivfpq / e2e_hybrid_graph)
    *                     splice in their seeded index's SQL rendition.
    */
  private def e2eCoreSql(enh: String, vectorStage: String = ""): String = {
    // raw (UNrounded) deterministic embedding: ((h%1000)-500)/500 as
    // float32 — exact-integer double division rounded once to FLOAT,
    // bit-identical to Embedder.Deterministic's float arithmetic
    def embedRawSql(text: String, dims: Int): String =
      s"""list_transform(range(0, $dims), j ->
         | ((((${polyHashSql(s"$text || '|' || j::VARCHAR")}) % 1000) - 500)::DOUBLE
         |   / 500.0)::FLOAT)""".stripMargin.replaceAll("\n", "")
    val enhLit = s"'$enh'"
    val qToks = enh.toLowerCase.split("[^a-z0-9]+")
      .filter(t => t.length > 1 || t.matches("[0-9]"))
      .filterNot(graft.functions.TextFunctions.EnglishStopwords.contains)
      .distinct.map(t => s"'$t'").mkString("[", ",", "]")
    val dt = s"list_distinct(${tokSql("text")})"
    s"""WITH chunks AS (
         |  SELECT doc_id, text, source AS sourcedoc,
         |         (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)::INT AS sid
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(${tokSql("text")}) AS term FROM documents),
         |post AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
         |lens AS (SELECT doc_id, sum(tf)::BIGINT AS doc_len FROM post GROUP BY 1),
         |stats AS (SELECT avg(doc_len::DOUBLE) AS avgdl FROM lens),
         |corpus AS (SELECT count(*)::BIGINT AS n FROM documents),
         |idf AS (
         |  SELECT term, ln(((SELECT n FROM corpus)::DOUBLE - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
         |  FROM post GROUP BY term),
         |qt AS (SELECT term, count(*)::BIGINT AS qtf
         |       FROM (SELECT unnest(${tokSql(enhLit)}) AS term) GROUP BY term),
         |bm25 AS (
         |  SELECT p.doc_id,
         |         sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) AS score
         |  FROM post p JOIN qt q USING (term) JOIN idf i USING (term)
         |  JOIN lens l USING (doc_id) CROSS JOIN stats s
         |  GROUP BY p.doc_id
         |  HAVING sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) > 0),
         |kcand AS (SELECT doc_id, round(score, 4) AS score FROM bm25
         |          ORDER BY round(score, 4) DESC, doc_id LIMIT 1000),
         |ktop AS (SELECT doc_id, score FROM kcand ORDER BY score DESC, doc_id LIMIT 50),
         |qv AS (SELECT ${embedRawSql(enhLit, 64)} AS v),
         |${if (vectorStage.nonEmpty) vectorStage
           else s"""cos AS (SELECT vec_id AS doc_id,
             |        ${cosineSql("embedding", "(SELECT v FROM qv)")} AS c FROM embeddings),
             |vtop AS (SELECT doc_id, round(c, 6) AS score FROM cos
             |         ORDER BY round(c, 6) DESC, doc_id LIMIT 50),""".stripMargin}
         |vrank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM vtop),
         |krank AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM ktop),
         |rrf AS (SELECT doc_id, sum(1.0 / (60.0 + rk)) AS score
         |        FROM (SELECT * FROM vrank UNION ALL SELECT * FROM krank)
         |        GROUP BY doc_id),
         |wt AS (SELECT r.doc_id, r.score, c.text, c.sourcedoc, c.sid
         |       FROM rrf r JOIN chunks c USING (doc_id)),
         |ranked AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS orig_rank FROM wt),
         |hd AS (
         |  SELECT doc_id, score, text, sourcedoc, sid,
         |         CASE WHEN len(list_distinct(list_concat($dt, $qToks))) > 0
         |              THEN len(list_filter($dt, t -> list_contains($qToks, t)))::DOUBLE
         |                   / len(list_distinct(list_concat($dt, $qToks)))::DOUBLE
         |              ELSE 0.0 END AS rerank_score
         |  FROM ranked WHERE orig_rank <= 20),
         |hd2 AS (SELECT doc_id, score, text, sourcedoc, sid, rerank_score,
         |               row_number() OVER (ORDER BY rerank_score DESC, doc_id) AS new_rank,
         |               0 AS grp
         |        FROM hd),
         |tl AS (SELECT doc_id, score, text, sourcedoc, sid, NULL::DOUBLE AS rerank_score,
         |              orig_rank AS new_rank, 1 AS grp
         |       FROM ranked WHERE orig_rank > 20),
         |fin AS (SELECT doc_id, score, text, sourcedoc, sid, rerank_score,
         |               row_number() OVER (ORDER BY grp, new_rank) AS final_rank
         |        FROM (SELECT * FROM hd2 UNION ALL SELECT * FROM tl))
         |SELECT doc_id, score, text, sourcedoc, sid, rerank_score, final_rank::INT AS final_rank
         |FROM fin ORDER BY final_rank LIMIT 50""".stripMargin
  }

  /** DuckDB rendition of [[graft.functions.TextFunctions.entitiesCanonical]]
    * ∘ [[graft.functions.TextFunctions.extractEntities]]: per label (already
    * alphabetical in EntityPatterns) the sorted-distinct regex matches as
    * `LABEL:a|b`, labels with no matches dropped (NULL → concat_ws skips),
    * joined by `;`. Same pattern strings as the Spark side — RE2-safe.
    */
  private def entitiesCanonicalSql(textExpr: String): String = {
    val parts = graft.functions.TextFunctions.EntityPatterns.map { case (label, re) =>
      val l = s"list_sort(list_distinct(regexp_extract_all($textExpr, '$re')))"
      s"CASE WHEN len($l) > 0 THEN '$label:' || array_to_string($l, '|') END"
    }
    s"concat_ws(';', ${parts.mkString(", ")})"
  }

  /** The corpus key of the late-interaction vocab memo: the directory at
    * the documents table's [[graft.operators.PathFingerprint]] (the
    * [[graft.operators.Bm25.readIndex]] rule), so a rewrite of the
    * documents misses the memo instead of serving the old vocabulary.
    */
  private def lateVocabKey(dir: String): String =
    s"$dir@${graft.operators.PathFingerprint(s"$dir/documents.parquet")}"

  /** Seeded IVFPQ serving artifacts (centroids = vec_id < 8, codebook from
    * the subvectors of vec_id < 16, m = 8), memoized per (session, corpus)
    * with the encoded table persisted — an index: built once, served many
    * (the [[graft.operators.Bm25.cachedIndex]] economics; rebuilding
    * assignment + PQ codes per query would charge serving for build work).
    */
  private val ivfPqCache =
    new graft.operators.SessionMemo[graft.operators.VectorSearch.Serving.IvfPq]
  private def cachedSeededIvfPq(s: org.apache.spark.sql.SparkSession, dir: String,
                                emb: org.apache.spark.sql.DataFrame): graft.operators.VectorSearch.Serving.IvfPq = {
    import graft.operators.VectorSearch
    ivfPqCache.getOrBuild(s, dir) {
      val centSeq = emb.filter(col("doc_id") < 8)
        .select(col("doc_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1))).sortBy(_._1).toSeq
      val assigned = VectorSearch.seededIvfAssign(emb, "doc_id", "embedding", centSeq)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cb = VectorSearch.seededPqCodebook(emb, "doc_id", "embedding",
        seedIds = 0L until 16L, m = 8)
      val ivfIx = VectorSearch.IvfIndex(assigned,
        centSeq.map(_._2.toArray).toArray, "doc_id", "embedding")
      VectorSearch.Serving.IvfPq(ivfIx, cb,
        VectorSearch.pqEncode(assigned, "doc_id", "embedding", cb)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        shortlist = 100)
    }
  }

  /** IVFPQ-served vector stage for [[e2eCoreSql]]: seeded coarse quantizer
    * (centroids = vec_id < 8, nprobe 2), seeded PQ codebook (subvectors of
    * vec_id < 16, 8 subspaces × 16 codewords), ADC shortlist 100, exact
    * re-rank — the FAISS IVFPQ+refine regime KbPipeline.query dispatches
    * under `Serving.IvfPq`. Same CTE text as sim_knn_ivfpq with the corpus
    * query vector swapped for the pipeline's deterministic query embedding.
    */
  private def e2eIvfPqVectorSql: String = {
    def l2sqSql(a: String, b: String): String =
      s"""list_reduce(list_prepend(0.0::DOUBLE,
         | list_transform(list_zip($a, $b),
         |   p -> (p[1]::DOUBLE - p[2]::DOUBLE) * (p[1]::DOUBLE - p[2]::DOUBLE))),
         | (acc, x) -> acc + x)""".stripMargin.replaceAll("\n", "")
    s"""vx_cent AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
       |            WHERE vec_id < 8),
       |vx_iasg AS (
       |  SELECT e.vec_id AS doc_id, e.embedding AS ev, c.cid,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${cosineSql("e.embedding", "c.cv")} DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN vx_cent c),
       |vx_a2 AS (SELECT doc_id, ev, cid FROM vx_iasg WHERE rn = 1),
       |vx_probe AS (
       |  SELECT cid FROM (
       |    SELECT cid, row_number() OVER (
       |      ORDER BY ${cosineSql("cv", "(SELECT v FROM qv)")} DESC, cid) AS rn
       |    FROM vx_cent) WHERE rn <= 2),
       |vx_pr AS (SELECT doc_id, ev FROM vx_a2
       |          WHERE cid IN (SELECT cid FROM vx_probe)),
       |vx_cbj AS (
       |  SELECT s.s, e.vec_id AS j,
       |         list_slice(e.embedding, s.s*8 + 1, s.s*8 + 8) AS cv
       |  FROM embeddings e, LATERAL (SELECT unnest(range(0, 8)) AS s) s
       |  WHERE e.vec_id < 16),
       |vx_qsub AS (
       |  SELECT s.s, list_slice((SELECT v FROM qv), s.s*8 + 1, s.s*8 + 8) AS qs
       |  FROM (SELECT unnest(range(0, 8)) AS s) s),
       |vx_pasg AS (
       |  SELECT p.doc_id, c.s, c.j,
       |         row_number() OVER (PARTITION BY p.doc_id, c.s
       |           ORDER BY ${l2sqSql("list_slice(p.ev, c.s*8 + 1, c.s*8 + 8)", "c.cv")} ASC, c.j) AS rn
       |  FROM vx_pr p CROSS JOIN vx_cbj c),
       |vx_codes AS (SELECT doc_id, list(j ORDER BY s) AS codes
       |             FROM vx_pasg WHERE rn = 1 GROUP BY doc_id),
       |vx_lut0 AS (SELECT c.s, c.j, ${l2sqSql("q.qs", "c.cv")} AS d
       |            FROM vx_cbj c JOIN vx_qsub q USING (s)),
       |vx_lutArr AS (SELECT list(d ORDER BY s, j) AS lt FROM vx_lut0),
       |vx_dists AS (
       |  SELECT doc_id, list_reduce(list_prepend(0.0::DOUBLE,
       |           list_transform(range(0, 8), s -> lt[s*16 + codes[s + 1] + 1])),
       |           (acc, x) -> acc + x) AS dist
       |  FROM vx_codes CROSS JOIN vx_lutArr),
       |vx_short AS (SELECT doc_id FROM vx_dists
       |             ORDER BY round(dist, 6) ASC, doc_id LIMIT 100),
       |vx_rr AS (SELECT p.doc_id, ${cosineSql("p.ev", "(SELECT v FROM qv)")} AS c
       |          FROM vx_pr p JOIN vx_short s ON p.doc_id = s.doc_id),
       |vtop AS (SELECT doc_id, round(c, 6) AS score FROM vx_rr
       |         ORDER BY round(c, 6) DESC, doc_id LIMIT 50),""".stripMargin
  }

  /** Graph-served vector stage for [[e2eCoreSql]]: the sim_knn_graph
    * build+search rendition (deterministic small-world kNN graph + 3-hop
    * beam search, beam 64 ≥ topK 50) with the corpus query vector swapped
    * for the pipeline's deterministic query embedding — what
    * KbPipeline.query dispatches under `Serving.Graph`.
    *
    * `deduped = true` renders the DUPLICATE-ROBUST tier instead
    * (`Serving.GraphDeduped` → [[graft.operators.VectorSearch
    * .graphSearchDeduped]]): the graph is built over representatives (min
    * id per distinct vector value), entry points are the 4 smallest rep
    * ids, and the rep top-50 expands to every copy before the final
    * (rounded score, id) top-50.
    */
  private def e2eGraphVectorSql(deduped: Boolean = false): String = {
    def signSql(p: String, j: String, seed: Long): String =
      s"(CASE WHEN ((($p * 1000003 + $j) * 2654435761 + ${seed * 97L}) % 1000000007) % 2 = 0 " +
        "THEN 1.0 ELSE -1.0 END)"
    def bucketSql(seed: Long): String = {
      val dotPlane =
        s"""list_reduce(list_prepend(0.0::DOUBLE,
           | list_transform(range(0, len(v)),
           |                j -> v[j + 1]::DOUBLE * ${signSql("p", "j", seed)})),
           | (a, x) -> a + x)""".stripMargin.replaceAll("\n", "")
      s"""list_reduce(list_prepend(0::BIGINT,
         | list_transform(range(0, 4), p ->
         |   CASE WHEN $dotPlane >= 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END)),
         | (a, x) -> a + x)""".stripMargin.replaceAll("\n", "")
    }
    def hop(prev: String, i: Int): String =
      s"""vx_c$i AS (SELECT query_id, doc_id FROM $prev
         | UNION SELECT f.query_id, e.dst AS doc_id
         |        FROM $prev f JOIN vx_edges e ON f.doc_id = e.doc_id),
         |vx_f${i}s AS (SELECT c.query_id, c.doc_id,
         |          ${cosineSql("emb.v", "q.gqv")} AS score
         |          FROM vx_c$i c JOIN vx_emb emb ON emb.id = c.doc_id
         |          JOIN vx_q q ON q.query_id = c.query_id),
         |vx_f$i AS (SELECT query_id, doc_id, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |            ORDER BY score DESC, doc_id) AS rk FROM vx_f${i}s) WHERE rk <= 64)""".stripMargin
    val src = if (deduped) "vx_reps" else "vx_emb"
    val dedupCtes =
      if (deduped)
        """vx_dupmap AS (SELECT min(id) OVER (PARTITION BY v) AS rep, id AS dup
          |           FROM vx_emb),
          |vx_reps AS (SELECT min(id) AS id, v FROM vx_emb GROUP BY v),
          |""".stripMargin
      else ""
    val entSql =
      if (deduped) s"vx_ent AS (SELECT id AS doc_id FROM vx_reps ORDER BY id LIMIT 4)"
      else "vx_ent(doc_id) AS (VALUES (0::BIGINT), (100::BIGINT), (200::BIGINT), (300::BIGINT))"
    s"""vx_emb AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
       |${dedupCtes}vx_nb AS (SELECT greatest(1, count(*) // 32) AS nblocks FROM $src),
       |vx_sg AS (SELECT id, v, ${bucketSql(42L)} AS b0, ${bucketSql(43L)} AS b1,
       |       ((id * 2654435761 + ${42L * 131L}) % 1000000007)
       |         % (SELECT nblocks FROM vx_nb) AS bg
       |       FROM $src),
       |vx_lrn0 AS (SELECT id, b0 AS bk,
       |         row_number() OVER (PARTITION BY b0 ORDER BY id) AS rn FROM vx_sg),
       |vx_lup0 AS (SELECT a.id AS src, b.id AS dst FROM vx_lrn0 a JOIN vx_lrn0 b
       |         ON a.bk = b.bk AND b.rn > a.rn AND b.rn <= a.rn + 16),
       |vx_lrn1 AS (SELECT id, b1 AS bk,
       |         row_number() OVER (PARTITION BY b1 ORDER BY id) AS rn FROM vx_sg),
       |vx_lup1 AS (SELECT a.id AS src, b.id AS dst FROM vx_lrn1 a JOIN vx_lrn1 b
       |         ON a.bk = b.bk AND b.rn > a.rn AND b.rn <= a.rn + 16),
       |vx_lcand AS (SELECT src, dst FROM vx_lup0 UNION SELECT dst, src FROM vx_lup0
       |          UNION SELECT src, dst FROM vx_lup1 UNION SELECT dst, src FROM vx_lup1),
       |vx_lcos AS (SELECT c.src, c.dst, ${cosineSql("va.v", "vb.v")} AS cs
       |         FROM vx_lcand c JOIN vx_emb va ON c.src = va.id
       |         JOIN vx_emb vb ON c.dst = vb.id),
       |vx_ltop AS (SELECT src, dst FROM (
       |  SELECT src, dst, row_number() OVER (PARTITION BY src
       |         ORDER BY cs DESC, dst) AS rk FROM vx_lcos) WHERE rk <= 8),
       |vx_gcand AS (SELECT a.id AS src, b.id AS dst FROM vx_sg a JOIN vx_sg b
       |            ON a.bg = b.bg AND a.id <> b.id),
       |vx_gcos AS (SELECT c.src, c.dst, ${cosineSql("va.v", "vb.v")} AS cs
       |         FROM vx_gcand c JOIN vx_emb va ON c.src = va.id
       |         JOIN vx_emb vb ON c.dst = vb.id),
       |vx_gtop AS (SELECT src, dst FROM (
       |  SELECT src, dst, row_number() OVER (PARTITION BY src
       |         ORDER BY cs DESC, dst) AS rk FROM vx_gcos) WHERE rk <= 4),
       |vx_e0 AS (SELECT src, dst FROM vx_ltop UNION SELECT src, dst FROM vx_gtop),
       |vx_edges AS (SELECT src AS doc_id, dst FROM vx_e0
       |          UNION SELECT dst, src FROM vx_e0),
       |vx_q AS (SELECT 0 AS query_id, (SELECT v FROM qv) AS gqv),
       |$entSql,
       |vx_f0s AS (SELECT q.query_id, vx_ent.doc_id,
       |        ${cosineSql("emb.v", "q.gqv")} AS score
       |        FROM vx_q q CROSS JOIN vx_ent JOIN vx_emb emb ON emb.id = vx_ent.doc_id),
       |vx_f0 AS (SELECT query_id, doc_id, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY score DESC, doc_id) AS rk FROM vx_f0s) WHERE rk <= 64),
       |${hop("vx_f0", 1)},
       |${hop("vx_f1", 2)},
       |${hop("vx_f2", 3)},
       |${if (deduped)
           """vx_rep50 AS (SELECT doc_id, round(score, 6) AS score FROM (
             |  SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
             |  FROM vx_f3) WHERE rk <= 50),
             |vx_expd AS (SELECT m.dup AS doc_id, r.score
             |            FROM vx_rep50 r JOIN vx_dupmap m ON m.rep = r.doc_id),
             |vtop AS (SELECT doc_id, score FROM (
             |  SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
             |  FROM vx_expd) WHERE rk <= 50),""".stripMargin
         else
           """vtop AS (SELECT doc_id, round(score, 6) AS score FROM (
             |  SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
             |  FROM vx_f3) WHERE rk <= 50),""".stripMargin}""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ── F6-F8: query enhancement chain ────────────────────────────────────
    QueryDef.sql("f6_enhance", {
      val vals = EnhanceSamples.map { case (i, s) => s"($i, '${sqlQuote(s)}')" }.mkString(", ")
      s"""WITH samples(qid, q) AS (VALUES $vals)
         |SELECT qid, ${enhanceSql("q")} AS enhanced FROM samples ORDER BY qid""".stripMargin
    }) { (s, _) =>
      import s.implicits._
      EnhanceSamples.toDF("qid", "q")
        .select(col("qid"), Enhancement.enhance(col("q")).as("enhanced"))
        .orderBy("qid")
    },

    // ── F8: vocabulary spelling correction (SymSpell deletes-hash against
    //    the corpus vocabulary; enhancement.py:129-175,267-319). Fully
    //    deterministic: candidate = levenshtein-1 vocab word via shared
    //    deletion keys, best by (df DESC, word); known/short/no-candidate
    //    tokens pass through. Both engines compute the SAME vocab from
    //    `documents`, so the oracle needs no pinned corpus knowledge. ──────
    QueryDef.sql("f8_spell_correct", {
      val samples = SpellSamples.map { case (i, s) => s"($i, '${sqlQuote(s)}')" }.mkString(", ")
      def keysSql(w: String): String =
        s"""list_distinct(list_prepend($w,
           | list_transform(range(1, len($w) + 1),
           |   i -> substr($w, 1, i - 1) || substr($w, i + 1))))""".stripMargin.replaceAll("\n", "")
      s"""WITH samples(qid, q) AS (VALUES $samples),
         |vocab AS (
         |  SELECT word, count(*)::BIGINT AS df FROM (
         |    SELECT doc_id, unnest(list_distinct(${plainTokSql("text")})) AS word
         |    FROM documents) GROUP BY word),
         |toks AS (
         |  SELECT qid, unnest(range(0, len(l))) AS pos, unnest(l) AS tok
         |  FROM (SELECT qid, ${plainTokSql("q")} AS l FROM samples)),
         |unknown AS (
         |  SELECT qid, pos, tok FROM toks
         |  WHERE len(tok) > 2 AND tok NOT IN (SELECT word FROM vocab)),
         |ukeys AS (SELECT qid, pos, tok, unnest(${keysSql("tok")}) AS key FROM unknown),
         |vkeys AS (SELECT word, df, unnest(${keysSql("word")}) AS key FROM vocab),
         |cand AS (
         |  SELECT DISTINCT qid, pos, tok, word, df
         |  FROM ukeys JOIN vkeys USING (key)
         |  WHERE levenshtein(tok, word) = 1),
         |best AS (
         |  SELECT qid, pos, word AS best FROM (
         |    SELECT qid, pos, word,
         |           row_number() OVER (PARTITION BY qid, pos
         |                              ORDER BY df DESC, word) AS rn
         |    FROM cand) WHERE rn = 1),
         |corrected AS (
         |  SELECT t.qid, t.pos, coalesce(b.best, t.tok) AS ctok
         |  FROM toks t LEFT JOIN best b ON t.qid = b.qid AND t.pos = b.pos),
         |cagg AS (
         |  SELECT qid, string_agg(ctok, ' ' ORDER BY pos) AS corrected
         |  FROM corrected GROUP BY qid)
         |SELECT s.qid, coalesce(a.corrected, '') AS corrected
         |FROM samples s LEFT JOIN cagg a USING (qid) ORDER BY s.qid""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val vocab = graft.query.Spelling.vocabulary(Tables.documents(s, dir), "text")
      graft.query.Spelling.correctQueries(
          SpellSamples.toDF("qid", "q"), "qid", "q", vocab)
        .orderBy("qid")
    },

    // ── S4: filename sanitization (shell-metacharacter replacement,
    //    db_manager sanitize; exercised over real source names + crafted
    //    nasty literals) ─────────────────────────────────────────────────────
    QueryDef.sql("s4_sanitize_names",
      "WITH names(id, raw) AS (\n" +
        "  SELECT doc_id, source FROM documents\n" +
        "  UNION ALL\n" +
        "  SELECT * FROM (VALUES (CAST(1000001 AS BIGINT), 'evil<file>.txt'),\n" +
        "                        (CAST(1000002 AS BIGINT), 'a&b;c`d$e|f.md')) t(id, raw))\n" +
        "SELECT id, regexp_replace(raw, '[<>|&;`$]', '_', 'g') AS clean\n" +
        "FROM names ORDER BY id") { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id").as("id"), col("source").as("raw"))
      val nasty = Seq((1000001L, "evil<file>.txt"), (1000002L, "a&b;c`d$e|f.md"))
        .toDF("id", "raw")
      docs.unionByName(nasty)
        .select(col("id"), graft.ingest.Ingest.sanitizeName(col("raw")).as("clean"))
        .orderBy("id")
    },

    // ── F5: metadata extraction (heading, section-type classifier, counts —
    //    db_manager.py:168-237) flattened to scalar columns ─────────────────
    QueryDef.sql("f5_metadata", {
      val sectionCase =
        """CASE WHEN regexp_matches(text, '```') THEN 'code_block'
          |     WHEN regexp_matches(text, '(?m)^\s*[\|\+][-\|\+ ]+') THEN 'table'
          |     WHEN regexp_matches(text, '(?m)^\s*[-\*]\s') THEN 'list'
          |     WHEN regexp_matches(text, '(?m)^\s*\d+[\.\)]\s') THEN 'numbered_list'
          |     ELSE 'prose' END""".stripMargin.replaceAll("\n", " ")
      s"""SELECT doc_id,
         |       trim(regexp_extract(substr(text, 1, 200), '^#*\\s*([^\\n]{0,120})', 1)) AS heading,
         |       $sectionCase AS section_type,
         |       length(text)::INT AS char_length,
         |       len(${plainTokSql("text")})::INT AS word_count,
         |       ${entitiesCanonicalSql("substr(text, 1, 500)")} AS entities
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.ingest.Ingest.extractMetadata(col("text")).as("m"))
        .select(col("doc_id"), col("m.heading").as("heading"),
          col("m.section_type").as("section_type"),
          col("m.char_length").as("char_length"),
          col("m.word_count").as("word_count"),
          TextFunctions.entitiesCanonical(col("m.entities")).as("entities"))
        .orderBy("doc_id")
    },

    // ── F5 entities on entity-bearing fixtures: the deterministic
    //    regex/gazetteer NER (spaCy re-expression, db_manager.py:168-237)
    //    value-exact per pattern class — the corpus text is lowercase
    //    synthetic, so the capitalized-span classes need literal fixtures
    //    to actually fire ────────────────────────────────────────────────
    QueryDef.sql("f5_entities", {
      val vals = EntitySamples.map { case (i, t) => s"($i, '${sqlQuote(t)}')" }.mkString(", ")
      s"""WITH samples(id, txt) AS (VALUES $vals)
         |SELECT id, ${entitiesCanonicalSql("substr(txt, 1, 500)")} AS entities
         |FROM samples ORDER BY id""".stripMargin
    }) { (s, _) =>
      import s.implicits._
      EntitySamples.toDF("id", "txt")
        .select(col("id"), TextFunctions.entitiesCanonical(
          TextFunctions.extractEntities(col("txt"))).as("entities"))
        .orderBy("id")
    },

    // ── U4: order-preserving token dedup (first occurrence wins in BOTH
    //    engines: Spark array_distinct keeps first-seen order; the oracle
    //    filters on list_position == index) ──────────────────────────────────
    QueryDef.sql("u4_dedup_tokens",
      s"""SELECT doc_id,
         |       array_to_string(list_filter(l, (x, i) -> list_position(l, x) = i), ' ') AS deduped
         |FROM (SELECT doc_id, ${plainTokSql("text")} AS l FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          array_join(TextFunctions.dedupTokens(
            TextFunctions.tokenize(col("text"))), " ").as("deduped"))
        .orderBy("doc_id")
    },

    // ── U1: stopword-set UNION from the tokenizer config — primary
    //    language ∪ additional languages, additional == primary skipped,
    //    unknown codes warn-skipped (db_manager.py:296-327 semantics; 'xx'
    //    below exercises the skip). Oracle rebuilds the same (lang, word)
    //    config table inline ─────────────────────────────────────────────
    QueryDef.sql("u1_stopword_union", {
      val vals = graft.functions.TextFunctions.PerLanguageStopwords.toSeq
        .sortBy(_._1)
        .flatMap { case (lang, ws) => ws.map(w => s"('$lang', '$w')") }
        .mkString(", ")
      s"""WITH cfg(lang, word) AS (VALUES $vals),
         |wanted(lang) AS (VALUES ('en'), ('id'), ('fr'), ('de'), ('sv'))
         |SELECT word,
         |       string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
         |       count(DISTINCT lang)::BIGINT AS n_langs
         |FROM cfg WHERE lang IN (SELECT lang FROM wanted)
         |GROUP BY word ORDER BY word""".stripMargin
    }) { (s, _) =>
      // the reference's default additional_stopword_languages plus an
      // unknown code and a primary-duplicate, both of which must be skipped
      TextFunctions.stopwordUnion(s, "en",
        Seq("id", "fr", "de", "sv", "en", "xx"))
    },

    // ── M3: the retry backoff schedule as data — min(tries², 30 s) base +
    //    proportional jitter per phase, the exact math Retrying sleeps on
    //    (embed_manager.py:296-333). Pure math twin in DuckDB; double
    //    casts pinned so both engines run the same IEEE expression tree ──
    QueryDef.sql("m3_retry_schedule",
      """WITH tries AS (SELECT unnest(range(1, 21)) AS try_no),
        |phases AS (SELECT unnest(range(0, 100)) AS phase),
        |s AS (
        |  SELECT try_no, phase,
        |         least(try_no * try_no, 30) * 1000 AS base_ms
        |  FROM tries, phases)
        |SELECT try_no::INT AS try_no, phase::INT AS phase,
        |       base_ms::BIGINT AS base_ms,
        |       trunc((base_ms::DOUBLE * 0.1::DOUBLE)
        |             * (phase::DOUBLE / 100.0::DOUBLE))::BIGINT AS jitter_ms,
        |       (base_ms + trunc((base_ms::DOUBLE * 0.1::DOUBLE)
        |             * (phase::DOUBLE / 100.0::DOUBLE))::BIGINT)::BIGINT AS sleep_ms
        |FROM s ORDER BY try_no, phase""".stripMargin) { (s, _) =>
      graft.embed.Embedder.backoffSchedule(s, maxRetries = 20)
        .orderBy("try_no", "phase")
    },

    // ── F17: XML escaping (entity-order parity: & first, then < > " ') ────
    QueryDef.sql("f17_xml_escape", {
      val samples = Seq(
        1 -> "a<b & c>\"d\" 'e'", 2 -> "plain text, no entities", 3 -> "&&<<>>''")
      val vals = samples.map { case (i, t) => s"($i, '${sqlQuote(t)}')" }.mkString(", ")
      s"""WITH samples(id, txt) AS (VALUES $vals)
         |SELECT id,
         |       replace(replace(replace(replace(replace(txt,
         |         '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),
         |         '"', '&quot;'), '''', '&apos;') AS escaped
         |FROM samples ORDER BY id""".stripMargin
    }) { (s, _) =>
      import s.implicits._
      Seq((1, "a<b & c>\"d\" 'e'"), (2, "plain text, no entities"), (3, "&&<<>>''"))
        .toDF("id", "txt")
        .select(col("id"), graft.format.Formatters.xmlEscape(col("txt")).as("escaped"))
        .orderBy("id")
    },

    // ── F2: enhanced clean (URL/email preservation + punctuation-keeping +
    //    entity-span preservation via the deterministic NER patterns) ───────
    QueryDef.sql("f2_enhanced_clean", {
      val samples = Seq(
        1 -> "Check https://example.com/page?q=1 for <b>DETAILS</b>; email me@corp.io today!",
        2 -> "The quick BROWN fox... with numbers 42 & symbols #hash",
        3 -> "no specials here at all",
        4 -> "Dr. Alice Johnson from Acme Corp visited New York via https://acme.example.com quickly!")
      val vals = samples.map { case (i, t) => s"($i, '${t.replace("'", "''")}')" }.mkString(", ")
      val urlRe = "https?://[^\\s]+"
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      import graft.functions.TextFunctions.{PersonRegex, OrgRegex, GpeRegex}
      val stop = graft.functions.TextFunctions.EnglishStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH raw(id, txt) AS (VALUES $vals),
         |strip AS (
         |  SELECT id, txt,
         |    regexp_replace(regexp_replace(txt, '$urlRe', ' ', 'g'), '$emailRe', ' ', 'g') AS stripped
         |  FROM raw),
         |pres AS (
         |  SELECT id, stripped,
         |    concat_ws(' ',
         |      nullif(array_to_string(regexp_extract_all(txt, '$urlRe'), ' '), ''),
         |      nullif(array_to_string(regexp_extract_all(regexp_replace(txt, '$urlRe', ' ', 'g'), '$emailRe'), ' '), ''),
         |      nullif(array_to_string(list_transform(list_sort(list_distinct(
         |        regexp_extract_all(stripped, '$PersonRegex') ||
         |        regexp_extract_all(stripped, '$OrgRegex') ||
         |        regexp_extract_all(stripped, '$GpeRegex'))), x -> lower(x)), ' '), '')) AS kept_refs
         |  FROM strip),
         |cleaned AS (
         |  SELECT id, kept_refs,
         |    list_filter(string_split_regex(
         |      regexp_replace(regexp_replace(lower(stripped), '<[^>]*>', ' ', 'g'),
         |                     '[^a-z0-9.!?:;\\- ]+', ' ', 'g'), '\\s+'),
         |      t -> len(t) > 0 AND t NOT IN ($stop)) AS toks
         |  FROM pres)
         |SELECT id,
         |       trim(coalesce(array_to_string(toks, ' '), '') || ' ' || kept_refs) AS cleaned
         |FROM cleaned ORDER BY id""".stripMargin
    }) { (s, _) =>
      import s.implicits._
      Seq(
        (1, "Check https://example.com/page?q=1 for <b>DETAILS</b>; email me@corp.io today!"),
        (2, "The quick BROWN fox... with numbers 42 & symbols #hash"),
        (3, "no specials here at all"),
        (4, "Dr. Alice Johnson from Acme Corp visited New York via https://acme.example.com quickly!"))
        .toDF("id", "txt")
        .select(col("id"),
          graft.functions.TextFunctions.enhancedCleanText(col("txt")).as("cleaned"))
        .orderBy("id")
    },

    // ── PII scrubbing: staged regex redaction + per-type counts (counts
    //    taken stage-wise so a card number is never re-counted as phone
    //    fragments); same RE2-safe pattern strings run in DuckDB ────────────
    QueryDef.sql("f_pii_scrub", {
      val fixture = PiiFixture.map { case (i, t) => s"($i, '${sqlQuote(t)}')" }.mkString(", ")
      // chain one CTE per pattern: sN counts pattern N on the (N-1)-scrubbed
      // text, then applies its replacement
      val stages = graft.operators.Curation.PiiPatterns.zipWithIndex
        .map { case ((name, re, ph), i) =>
          val prev = if (i == 0) "raw" else s"s${i - 1}"
          val prevTxt = if (i == 0) "txt" else s"t${i - 1}"
          val carried = graft.operators.Curation.PiiPatterns.take(i)
            .map { case (n, _, _) => s"n_$n" } match {
            case Nil => ""
            case cs  => cs.mkString(", ", ", ", "")
          }
          s"""s$i AS (
             |  SELECT id$carried,
             |         len(regexp_extract_all($prevTxt, '$re')) AS n_$name,
             |         regexp_replace($prevTxt, '$re', '$ph', 'g') AS t$i
             |  FROM $prev)""".stripMargin
        }.mkString(",\n")
      val last = graft.operators.Curation.PiiPatterns.size - 1
      val counts = graft.operators.Curation.PiiPatterns
        .map { case (n, _, _) => s"n_$n" }.mkString(", ")
      s"""WITH raw(id, txt) AS (VALUES $fixture),
         |$stages
         |SELECT id, t$last AS scrubbed, $counts
         |FROM s$last ORDER BY id""".stripMargin
    }) { (s, _) =>
      import s.implicits._
      val (scrubbed, counts) = graft.operators.Curation.scrubPii(col("txt"))
      PiiFixture.toDF("id", "txt")
        .select(col("id") +: scrubbed.as("scrubbed") +:
          counts.map { case (n, c) => c.as(s"n_$n") }: _*)
        .orderBy("id")
    },

    // ── M1: deterministic embedding as a column expression ────────────────
    QueryDef.sql("m1_embed_deterministic",
      s"""SELECT doc_id, ${embedStrSql("text", 8)} AS vec
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          embedStrCol(Embedder.deterministicEmbed(col("text"), 8)).as("vec"))
        .orderBy("doc_id")
    },

    // ── M2: batch-size planning (embed_manager.py:216-257) as a column
    //    twin — one job plans provider batch sizes for every model over the
    //    same 10-row sample the reference takes (chunks[:10]); the driver
    //    path is Embedder.planBatchSize, spec-matched to this twin ──────────
    QueryDef.sql("m2_batch_plan", {
      val models = Seq(
        ("custom-embed-unknown", 8191),
        ("gemini-embedding-001", 30720),
        ("text-embedding-3-large", 8191),
        ("text-embedding-3-small", 8191),
        ("text-embedding-ada-002", 8191))
      val vals = models.map { case (m, l) => s"('$m', $l)" }.mkString(", ")
      s"""WITH sample AS (
         |  SELECT len(list_filter(string_split_regex(text, '\\s+'), t -> len(t) > 0)) AS wc
         |  FROM documents ORDER BY doc_id LIMIT 10),
         |stats AS (SELECT sum(wc)::BIGINT AS sw, count(*)::BIGINT AS n FROM sample),
         |models(model, token_limit) AS (VALUES $vals)
         |SELECT model, token_limit,
         |       greatest(1, CASE WHEN model LIKE 'gemini-%'
         |         THEN least(least(500, floor(token_limit::DOUBLE / (sw::DOUBLE * 1.3 / n::DOUBLE))::INT), 100)
         |         ELSE least(500, floor(token_limit::DOUBLE / (sw::DOUBLE * 1.3 / n::DOUBLE))::INT) END) AS batch_size
         |FROM models, stats ORDER BY model""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val stats = Tables.documents(s, dir)
        .orderBy("doc_id").limit(10)
        .select(Embedder.wordCount(col("text")).as("wc"))
        .agg(sum(col("wc")).as("sw"), count(lit(1)).as("n"))
      val models = Embedder.ModelTokenLimits.toSeq
        .:+("custom-embed-unknown" -> 8191)
        .sortBy(_._1)
        .toDF("model", "token_limit")
      models.crossJoin(broadcast(stats))
        .select(col("model"), col("token_limit"),
          Embedder.batchSizeCol(col("model"), col("token_limit"),
            col("sw"), col("n"), 500).as("batch_size"))
        .orderBy("model")
    },

    // ── M5/J5/P1: cache-aware embedding (mapPartitions provider + anti-join)
    QueryDef.sql("m5_embed_cache",
      // Values must equal a direct embed of every row — the cache join only
      // changes WHERE vectors come from, never what they are.
      s"""SELECT doc_id, sha256(text) AS content_key,
         |       ${embedStrSql("text", 16)} AS vec
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      // seed cache: first half of the corpus, embedded via the column expr
      val cache = docs.filter(col("doc_id") < 250)
        .select(Embedder.contentKey(col("text")).as("content_key"),
          Embedder.deterministicEmbed(col("text"), 16).as("embedding"))
      val res = Embedder.embedWithCache(docs, "text", cache, Embedder.Deterministic(16))
      res.embedded
        .select(col("doc_id"), col("content_key"),
          embedStrCol(col("embedding")).as("vec"))
        .orderBy("doc_id")
    },

    // ── J4/A7: legacy weighted fusion with max-normalization ──────────────
    QueryDef.sql("j4_weighted_fusion",
      s"""$bm25Cte,
         |qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
         |cos AS (SELECT vec_id AS doc_id,
         |        ${cosineSql("embedding", "(SELECT v FROM qv)")} AS score
         |        FROM embeddings),
         |vtop AS (SELECT doc_id, round(score, 6) AS score FROM cos
         |         ORDER BY round(score, 6) DESC, doc_id LIMIT 50),
         |ktop AS (SELECT doc_id, round(score, 4) AS score FROM bm25
         |         ORDER BY round(score, 4) DESC, doc_id LIMIT 50),
         |vn AS (SELECT doc_id, CASE WHEN (SELECT max(abs(score)) FROM vtop) > 0
         |         THEN score / (SELECT max(abs(score)) FROM vtop) ELSE 0.0 END AS vscore FROM vtop),
         |kn AS (SELECT doc_id, CASE WHEN (SELECT max(abs(score)) FROM ktop) > 0
         |         THEN score / (SELECT max(abs(score)) FROM ktop) ELSE 0.0 END AS kscore FROM ktop)
         |SELECT coalesce(vn.doc_id, kn.doc_id) AS doc_id,
         |       round(coalesce(vscore, 0.0) * 0.7 + coalesce(kscore, 0.0) * 0.3, 6) AS score
         |FROM vn FULL OUTER JOIN kn ON vn.doc_id = kn.doc_id
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val qv = Tables.queryVec(s, dir, 0)
      val vtop = VectorSearch.bruteTopK(emb, "vec_id", "embedding", qv, 500,
        cacheKey = Some(dir))
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(round(col("score"), 6).desc, col("doc_id")).limit(50)
      val ktop = Bm25.topK(
        Bm25.scoreWithIndex(Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text"), s, QueryText)
          .select(col("doc_id"), round(col("score"), 4).as("score")), 50)
      Fusion.weighted(vtop, ktop, 0.7)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("doc_id")
    },

    // ── Late-interaction MaxSim retrieval (Khattab & Zaharia 2020,
    //    ColBERT; builder-prompt extension — the reference scores ONE
    //    pooled vector per chunk, search.py:242): one embedding PER
    //    TOKEN, score(q,d) = Σ_{t∈q} max_{s∈d} cos(E(t),E(s)). Both
    //    engines embed the DISTINCT corpus vocabulary on the fly with the
    //    deterministic per-token embedder (raw float lattice, no display
    //    rounding) and cross it with the handful of query tokens; the
    //    corpus token stream then joins that broadcast-small similarity
    //    table — max per (doc, qtok), sum per doc, round(·,4), top-20.
    //    Nothing is quadratic in corpus size: vocab × |q| pairs only ────
    QueryDef.sql("t11_late_interaction", lateInteractionSql) { (s, dir) =>
      graft.operators.LateInteraction.maxSimTopK(
        Tables.documents(s, dir), "doc_id", "text", QueryText, 20, dims = 8)
    },

    // ── Late interaction from the AT-REST index (verdict r18 #3): the
    //    token stream and the EMBEDDED vocabulary are build-once parquet
    //    (the build-once/serve-many idiom of the BM25/IVF stores), so a
    //    fresh session serves MaxSim without re-tokenizing the corpus or
    //    re-embedding the vocabulary. Value-identical to the computed
    //    tier — same oracle SQL, same hash gate ──────────────────────────
    QueryDef.sql("t11_late_stored", lateInteractionSql) { (s, dir) =>
      import graft.operators.LateInteraction
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_latestore_$suffix").getPath
      LateStoreMemo.memo.getOrBuild(s, dir) {
        LateInteraction.writeIndex(
          LateInteraction.buildIndex(Tables.documents(s, dir), "doc_id",
            "text", dims = 8), root)
        true
      }
      LateInteraction.maxSimTopKStored(
        LateInteraction.readIndex(s, root), QueryText, 20)
    },

    // ── Pruned late interaction — ColBERT's candidate-generation serving
    //    shape: top-50 vocab tokens per query token gate the candidate
    //    docs; exact MaxSim scores candidates only (scores identical to
    //    the exact tier — pruning can only EXCLUDE docs, so the result is
    //    deterministic and value-oracled; recall vs exact is spec-pinned)
    QueryDef.sql("t11_late_pruned", {
      def rawEmb(text: String, dims: Int): String =
        s"""list_transform(range(0, $dims), j ->
           | ((((${polyHashSql(s"$text || '|' || j::VARCHAR")}) % 1000) - 500)::DOUBLE
           |   / 500.0)::FLOAT)""".stripMargin.replaceAll("\n", "")
      val vals = graft.operators.LateInteraction.tokenizeValue(QueryText)
        .distinct.sorted.map(t => s"('$t')").mkString(", ")
      s"""WITH dtok AS MATERIALIZED (
         |  SELECT doc_id, unnest(list_distinct(${plainTokSql("text")})) AS tok
         |  FROM documents),
         |ve AS MATERIALIZED (
         |  SELECT tok, ${rawEmb("tok", 8)} AS tvec
         |  FROM (SELECT DISTINCT tok FROM dtok)),
         |q(qtok) AS (VALUES $vals),
         |qe AS MATERIALIZED (SELECT qtok, ${rawEmb("qtok", 8)} AS qvec FROM q),
         |sims AS MATERIALIZED (
         |  SELECT tok, qtok, ${cosineSql("tvec", "qvec")} AS sim
         |  FROM ve CROSS JOIN qe),
         |cand AS (SELECT DISTINCT tok FROM (
         |  SELECT tok, row_number() OVER (PARTITION BY qtok
         |                                 ORDER BY sim DESC, tok) AS rn
         |  FROM sims) WHERE rn <= 50),
         |cdocs AS (SELECT DISTINCT doc_id FROM dtok JOIN cand USING (tok)),
         |ms AS (SELECT d.doc_id, s.qtok, max(s.sim) AS m
         |       FROM dtok d JOIN cdocs USING (doc_id) JOIN sims s USING (tok)
         |       GROUP BY 1, 2),
         |sc AS (SELECT doc_id, round(sum(m), 4) AS score FROM ms GROUP BY doc_id)
         |SELECT doc_id, score FROM sc
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    }) { (s, dir) =>
      graft.operators.LateInteraction.maxSimTopKPruned(
        Tables.documents(s, dir), "doc_id", "text", QueryText, 20,
        dims = 8, candPerTok = 50, cacheKey = Some(lateVocabKey(dir)))
    },

    // ── Batched late interaction: top-10 MaxSim per query for the 20-query
    //    serving batch (the E2eBatch20 fixture) in ONE DAG — the corpus
    //    token pass and the vocabulary embedding are shared across the
    //    batch; the similarity table stays vocab × Σ|qᵢ| ─────────────────
    QueryDef.sql("t11_late_batch", {
      def rawEmb(text: String, dims: Int): String =
        s"""list_transform(range(0, $dims), j ->
           | ((((${polyHashSql(s"$text || '|' || j::VARCHAR")}) % 1000) - 500)::DOUBLE
           |   / 500.0)::FLOAT)""".stripMargin.replaceAll("\n", "")
      val vals = E2eBatch20.zipWithIndex.flatMap { case ((raw, _), i) =>
        graft.operators.LateInteraction.tokenizeValue(raw).distinct
          .map(t => s"(${i + 1}, '$t')")
      }.mkString(", ")
      s"""WITH dtok AS MATERIALIZED (
         |  SELECT doc_id, unnest(list_distinct(${plainTokSql("text")})) AS tok
         |  FROM documents),
         |ve AS MATERIALIZED (
         |  SELECT tok, ${rawEmb("tok", 8)} AS tvec
         |  FROM (SELECT DISTINCT tok FROM dtok)),
         |q(query_id, qtok) AS (VALUES $vals),
         |qe AS MATERIALIZED (
         |  SELECT query_id, qtok, ${rawEmb("qtok", 8)} AS qvec FROM q),
         |sims AS MATERIALIZED (
         |  SELECT tok, query_id, qtok, ${cosineSql("tvec", "qvec")} AS sim
         |  FROM ve CROSS JOIN qe),
         |ms AS (SELECT d.doc_id, s.query_id, s.qtok, max(s.sim) AS m
         |       FROM dtok d JOIN sims s USING (tok) GROUP BY 1, 2, 3),
         |sc AS (SELECT query_id, doc_id, round(sum(m), 4) AS score
         |       FROM ms GROUP BY 1, 2),
         |rk AS (SELECT query_id, doc_id, score,
         |              row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY score DESC, doc_id) AS rank
         |       FROM sc)
         |SELECT query_id, doc_id, score, rank FROM rk
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      graft.operators.LateInteraction.maxSimTopKBatch(
          Tables.documents(s, dir), "doc_id", "text",
          E2eBatch20.zipWithIndex.map { case ((raw, _), i) => (i + 1).toLong -> raw },
          k = 10, dims = 8)
        .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
        .orderBy("query_id", "rank")
    },

    // ── Batched PRUNED late interaction — the candidate-generation
    //    serving shape for the whole 20-query batch in ONE DAG: per-(query,
    //    token) candidate heads ranked on the VOCABULARY, the corpus token
    //    stream semi-join-pruned to the batch's union keep-set, the shared
    //    wave-guarded scorer on the pruned stream, and each query's own
    //    candidate doc set gating its rows before the ranking window.
    //    Value-identical per query to t11_late_pruned's tier ─────────────
    QueryDef.sql("t11_late_pruned_batch20", {
      def rawEmb(text: String, dims: Int): String =
        s"""list_transform(range(0, $dims), j ->
           | ((((${polyHashSql(s"$text || '|' || j::VARCHAR")}) % 1000) - 500)::DOUBLE
           |   / 500.0)::FLOAT)""".stripMargin.replaceAll("\n", "")
      val vals = E2eBatch20.zipWithIndex.flatMap { case ((raw, _), i) =>
        graft.operators.LateInteraction.tokenizeValue(raw).distinct
          .map(t => s"(${i + 1}, '$t')")
      }.mkString(", ")
      s"""WITH dtok AS MATERIALIZED (
         |  SELECT doc_id, unnest(list_distinct(${plainTokSql("text")})) AS tok
         |  FROM documents),
         |ve AS MATERIALIZED (
         |  SELECT tok, ${rawEmb("tok", 8)} AS tvec
         |  FROM (SELECT DISTINCT tok FROM dtok)),
         |q(query_id, qtok) AS (VALUES $vals),
         |qe AS MATERIALIZED (
         |  SELECT query_id, qtok, ${rawEmb("qtok", 8)} AS qvec FROM q),
         |sims AS MATERIALIZED (
         |  SELECT tok, query_id, qtok, ${cosineSql("tvec", "qvec")} AS sim
         |  FROM ve CROSS JOIN qe),
         |cand AS (SELECT DISTINCT query_id, tok FROM (
         |  SELECT query_id, qtok, tok,
         |         row_number() OVER (PARTITION BY query_id, qtok
         |                            ORDER BY sim DESC, tok) AS rn
         |  FROM sims) WHERE rn <= 50),
         |cdocs AS (SELECT DISTINCT c.query_id, d.doc_id
         |          FROM dtok d JOIN cand c USING (tok)),
         |ms AS (SELECT d.doc_id, s.query_id, s.qtok, max(s.sim) AS m
         |       FROM dtok d JOIN sims s USING (tok)
         |       JOIN cdocs cd ON cd.query_id = s.query_id
         |                    AND cd.doc_id = d.doc_id
         |       GROUP BY 1, 2, 3),
         |sc AS (SELECT query_id, doc_id, round(sum(m), 4) AS score
         |       FROM ms GROUP BY 1, 2),
         |rk AS (SELECT query_id, doc_id, score,
         |              row_number() OVER (PARTITION BY query_id
         |                                 ORDER BY score DESC, doc_id) AS rank
         |       FROM sc)
         |SELECT query_id, doc_id, score, rank FROM rk
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    }) { (s, dir) =>
      graft.operators.LateInteraction.maxSimTopKBatchPruned(
          Tables.documents(s, dir), "doc_id", "text",
          E2eBatch20.zipWithIndex.map { case ((raw, _), i) => (i + 1).toLong -> raw },
          k = 10, dims = 8, candPerTok = 50, cacheKey = Some(lateVocabKey(dir)))
        .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
        .orderBy("query_id", "rank")
    },

    // ── P5: similarity-adaptive context scope ─────────────────────────────
    QueryDef.sql("p5_adaptive_scope",
      s"""WITH qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
         |cos AS (SELECT vec_id AS doc_id,
         |        ${cosineSql("embedding", "(SELECT v FROM qv)")} AS score
         |        FROM embeddings)
         |SELECT doc_id, round(score, 6) AS score,
         |       CASE WHEN score < 0.6 THEN greatest(2, 1) ELSE 4 END AS scope
         |FROM cos ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val qv = Tables.queryVec(s, dir, 0)
      emb.select(col("vec_id").as("doc_id"),
          graft.functions.VectorFunctions.cosine(col("embedding"),
            graft.functions.VectorFunctions.vecLit(qv)).as("score"))
        .select(col("doc_id"), round(col("score"), 6).as("score"),
          ContextWindow.adaptiveScope(col("score"), 4).as("scope"))
        .orderBy("doc_id")
    },

    // ── W3: consecutive-sid grouping for formatters ───────────────────────
    QueryDef.sql("w3_consecutive_groups",
      """WITH chunks AS (
        |  SELECT doc_id, source AS sourcedoc,
        |         (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)::INT AS sid
        |  FROM documents),
        |ctx AS (SELECT sourcedoc, sid, doc_id FROM chunks
        |        WHERE sid % 7 < 3), -- gappy selection => multiple runs
        |lagged AS (
        |  SELECT sourcedoc, sid, doc_id,
        |         lag(sid) OVER (PARTITION BY sourcedoc ORDER BY sid) AS prev_sid
        |  FROM ctx),
        |flagged AS (
        |  SELECT sourcedoc, sid, doc_id,
        |         CASE WHEN prev_sid IS NULL OR sid != prev_sid + 1 THEN 1 ELSE 0 END AS ng
        |  FROM lagged)
        |SELECT sourcedoc, sid, doc_id,
        |       sum(ng) OVER (PARTITION BY sourcedoc ORDER BY sid
        |                     ROWS UNBOUNDED PRECEDING)::BIGINT AS group_id
        |FROM flagged ORDER BY sourcedoc, sid""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("source").orderBy("doc_id")
      val chunks = Tables.documents(s, dir)
        .select(col("doc_id"), col("source").as("sourcedoc"),
          (row_number().over(w) - 1).cast("int").as("sid"))
      ContextWindow.consecutiveGroups(chunks.filter(col("sid") % 7 < 3))
        .select(col("sourcedoc"), col("sid"), col("doc_id"), col("group_id"))
        .orderBy("sourcedoc", "sid")
    },

    // ── Formatter END OUTPUT, oracle-checked (query/formatters.py:379-523):
    //    the full assembled reference document — w3 consecutive-run blocks
    //    over a bounded chunk slice, per-block strings (XML with the F17
    //    escape chain / Markdown headers), string_agg'd into ONE string in
    //    BOTH engines. A hash match here pins the entire formatting path:
    //    grouping, sid-ordered block joins, escaping, block order, and the
    //    document frame ─────────────────────────────────────────────────
    QueryDef.sql("f_format_xml", formatDocSql("xml")) { (s, dir) =>
      formatDocDf(s, dir, "xml")
    },
    QueryDef.sql("f_format_md", formatDocSql("markdown")) { (s, dir) =>
      formatDocDf(s, dir, "markdown")
    },

    // ── The remaining two formatter styles (query/formatters.py:100-378
    //    has FOUR: xml/json/markdown/plain) under the same full-document
    //    hash oracle — json is Spark's to_json per block (the twin rebuilds
    //    Jackson's field order and escape chain), plain is the prose frame ──
    QueryDef.sql("f_format_json", formatDocSql("json")) { (s, dir) =>
      formatDocDf(s, dir, "json")
    },

    QueryDef.sql("f_format_plain", formatDocSql("plain")) { (s, dir) =>
      formatDocDf(s, dir, "plain")
    },

    // ── M7/T4: head rerank with the deterministic lexical scorer ──────────
    QueryDef.sql("m7_rerank", {
      // literal token list (not a subquery — RE2/DuckDB lambdas can't
      // reference subqueries); must equal tokenizeBm25(QueryText)
      val qToks = QueryText.toLowerCase.split("[^a-z0-9]+")
        .filter(t => t.length > 1 || t.matches("[0-9]"))
        .filterNot(graft.functions.TextFunctions.EnglishStopwords.contains)
        .distinct.map(t => s"'$t'").mkString("[", ",", "]")
      s"""$bm25Cte,
         |ranked AS (
         |  SELECT doc_id, round(score, 4) AS score,
         |         row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS orig_rank
         |  FROM bm25 ORDER BY round(score, 4) DESC, doc_id LIMIT 50),
         |scored AS (
         |  SELECT r.doc_id, r.score, r.orig_rank,
         |         CASE WHEN r.orig_rank <= 20 THEN
         |           (SELECT CASE WHEN len(list_distinct(list_concat(dt, $qToks))) > 0
         |              THEN len(list_filter(list_distinct(dt), t -> list_contains($qToks, t)))::DOUBLE
         |                   / len(list_distinct(list_concat(dt, $qToks)))::DOUBLE
         |              ELSE 0.0 END
         |            FROM (SELECT ${tokSql("d.text")} AS dt FROM documents d WHERE d.doc_id = r.doc_id))
         |         ELSE NULL END AS rerank_score
         |  FROM ranked r),
         |head AS (
         |  SELECT doc_id, score, rerank_score,
         |         row_number() OVER (ORDER BY rerank_score DESC, doc_id) AS new_rank
         |  FROM scored WHERE orig_rank <= 20),
         |tail AS (SELECT doc_id, score, rerank_score, orig_rank AS new_rank
         |         FROM scored WHERE orig_rank > 20),
         |unioned AS (SELECT *, 0 AS grp FROM head UNION ALL SELECT *, 1 AS grp FROM tail)
         |SELECT doc_id, score, round(coalesce(rerank_score, -1.0), 6) AS rerank_score,
         |       row_number() OVER (ORDER BY grp, new_rank) AS final_rank
         |FROM unioned ORDER BY final_rank""".stripMargin
    }) { (s, dir) =>
      val ktop = Bm25.topK(
        Bm25.scoreWithIndex(Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text"), s, QueryText)
          .select(col("doc_id"), round(col("score"), 4).as("score")), 50)
      val withText = ktop.join(
        Tables.documents(s, dir).select("doc_id", "text"), "doc_id")
      Rerank.rerankHead(withText, "score", 20,
          Rerank.lexicalScore(QueryText, col("text")))
        .select(col("doc_id"), col("score"),
          round(coalesce(col("rerank_score"), lit(-1.0)), 6).as("rerank_score"),
          col("final_rank").cast("long").as("final_rank"))
        .orderBy("final_rank")
    },

    // ── M7 with the LEARNED scorer: the same head rerank served by the
    //    in-repo-trained logistic model (Rerank.LogisticScorer — trained
    //    deterministically at query-definition time on the seeded
    //    synthetic relevance set; the reference swaps ms-marco-MiniLM in
    //    at this seam, rerank_manager.py:133-277). The trained WEIGHTS are
    //    embedded as numeric literals in both engines, so the oracle
    //    value-checks the learned scoring math (sigmoid over jaccard /
    //    coverage / length-prior / tf-mass / retrieval-score features)
    //    through the full rerank plumbing — the learned path is ⊕, not
    //    spec-only ──────────────────────────────────────────────────────
    QueryDef.sql("m7_rerank_learned", {
      val m = LearnedM7.model
      val qToks = LearnedM7.qTokens
        .map(t => s"'$t'").mkString("[", ",", "]")
      val qBigrams = LearnedM7.qTokens.sliding(2).filter(_.size == 2)
        .map(p => s"'${p.mkString(" ")}'").mkString("[", ",", "]")
      val nQ = LearnedM7.qTokens.size
      // features over the doc's token list dt (see featureCols): the set
      // features use list_distinct(dt); tf mass counts occurrences in the
      // FULL list; the retrieval feature reads the correlated r.score (the
      // rounded-4 BM25 score the Spark side passes as scoreWithRetrieval's
      // retrieval column — non-negative by the bm25 CTE's HAVING, so the
      // greatest(·,0) clamp is the identity here)
      val inter = s"len(list_filter(list_distinct(dt), t -> list_contains($qToks, t)))::DOUBLE"
      val union = s"len(list_distinct(list_concat(dt, $qToks)))::DOUBLE"
      val dlen = "len(list_distinct(dt))::DOUBLE"
      val tfm = s"len(list_filter(dt, t -> list_contains($qToks, t)))::DOUBLE"
      val bpx = s"len(list_filter(list_transform(range(1, len(dt)), " +
        s"ii -> dt[ii] || ' ' || dt[ii+1]), x -> list_contains($qBigrams, x)))::DOUBLE"
      // E[bpx] expanded per literal pair, summed in pair order (matches
      // the Spark column's aggregate fold bit-for-bit)
      val expAdj = LearnedM7.qTokens.sliding(2).filter(_.size == 2).map { p =>
        s"(len(list_filter(dt, t -> t = '${p(0)}'))::DOUBLE * " +
          s"len(list_filter(dt, t -> t = '${p(1)}'))::DOUBLE / " +
          s"greatest(len(dt)::DOUBLE, 1.0))"
      }.mkString(" + ")
      val exP = s"greatest($bpx - ($expAdj) - 2.0 * sqrt($expAdj), 0.0)"
      val z = s"(${m.w(0)} * (CASE WHEN $union > 0 THEN $inter / $union ELSE 0.0 END)" +
        s" + ${m.w(1)} * ($inter / $nQ.0)" +
        s" + ${m.w(2)} * ($dlen / ($dlen + 20.0))" +
        s" + ${m.w(3)} * ($tfm / ($tfm + 25.0))" +
        s" + ${m.w(4)} * (r.score / (r.score + 5.0))" +
        s" + ${m.w(5)} * ($exP / ($exP + 2.0))" +
        s" + ${m.w(6)} * ${f6Sql(pooledVecSql("dt"),
          pooledQvLitSql(LearnedM7.qTokens))}" +
        s" + ${m.b})"
      s"""$bm25Cte,
         |ranked AS (
         |  SELECT doc_id, round(score, 4) AS score,
         |         row_number() OVER (ORDER BY round(score, 4) DESC, doc_id) AS orig_rank
         |  FROM bm25 ORDER BY round(score, 4) DESC, doc_id LIMIT 50),
         |scored AS (
         |  SELECT r.doc_id, r.score, r.orig_rank,
         |         CASE WHEN r.orig_rank <= 20 THEN
         |           (SELECT 1.0 / (1.0 + exp(-$z))
         |            FROM (SELECT ${tokSql("d.text")} AS dt FROM documents d WHERE d.doc_id = r.doc_id))
         |         ELSE NULL END AS rerank_score
         |  FROM ranked r),
         |head AS (
         |  SELECT doc_id, score, rerank_score,
         |         row_number() OVER (ORDER BY rerank_score DESC, doc_id) AS new_rank
         |  FROM scored WHERE orig_rank <= 20),
         |tail AS (SELECT doc_id, score, rerank_score, orig_rank AS new_rank
         |         FROM scored WHERE orig_rank > 20),
         |unioned AS (SELECT *, 0 AS grp FROM head UNION ALL SELECT *, 1 AS grp FROM tail)
         |SELECT doc_id, score, round(coalesce(rerank_score, -1.0), 6) AS rerank_score,
         |       row_number() OVER (ORDER BY grp, new_rank) AS final_rank
         |FROM unioned ORDER BY final_rank""".stripMargin
    }) { (s, dir) =>
      val ktop = Bm25.topK(
        Bm25.scoreWithIndex(Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text"), s, QueryText)
          .select(col("doc_id"), round(col("score"), 4).as("score")), 50)
      val withText = ktop.join(
        Tables.documents(s, dir).select("doc_id", "text"), "doc_id")
      Rerank.rerankHead(withText, "score", 20,
          LearnedM7.model.scoreWithRetrieval(QueryText, col("text"),
            col("score")))
        .select(col("doc_id"), col("score"),
          round(coalesce(col("rerank_score"), lit(-1.0)), 6).as("rerank_score"),
          col("final_rank").cast("long").as("final_rank"))
        .orderBy("final_rank")
    },

    // ── M16: the reference's QUERY-EMBEDDING cache as a table join
    //    (query/embedding.py:47-143 memoizes the query's vector by its
    //    string) — the query batch embeds COLD through the deterministic
    //    provider, the new cache rows become the table, and the WARM pass
    //    re-embeds the same batch against a provider that THROWS on any
    //    miss: the entry's own execution proves every row was served from
    //    the cache join, and the oracle (a direct embed of each text)
    //    proves hit ≡ recompute ──────────────────────────────────────────
    QueryDef.sql("m16_query_cache", {
      val vals = E2eBatch20.zipWithIndex
        .map { case ((raw, _), i) => s"(${i + 1}, '${raw.replace("'", "''")}')" }
        .mkString(", ")
      s"""WITH q(query_id, text) AS (VALUES $vals)
         |SELECT query_id, sha256(text) AS content_key,
         |       ${embedStrSql("text", 16)} AS vec
         |FROM q ORDER BY query_id""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val queries = E2eBatch20.zipWithIndex
        .map { case ((raw, _), i) => ((i + 1).toLong, raw) }
        .toDF("query_id", "text")
      val empty = Seq.empty[(String, Array[Float])].toDF("content_key", "embedding")
      // cold pass computes every miss; its appends are the cache table
      val cold = Embedder.embedWithCache(queries, "text", empty,
        Embedder.Deterministic(16))
      // warm pass: the provider refuses — only the cache join can serve
      val warm = Embedder.embedWithCache(queries, "text", cold.newCacheRows,
        graft.query.QueryCache.refusingProvider(16))
      warm.embedded
        .select(col("query_id"), col("content_key"),
          embedStrCol(col("embedding")).as("vec"))
        .orderBy("query_id")
    },

    // ── M16: the reference's RERANK-SCORE cache as a table join
    //    (rerank_manager.py:25-130 LRUs (query, passage) → score): cold
    //    pass scores 6 queries × the 50-doc candidate slice with the
    //    lexical scorer; the warm pass re-runs with a POISONED scorer
    //    (-999 literal) against the filled cache — any miss would surface
    //    as a poisoned value and fail the hash, so the green entry itself
    //    proves the warm plan read every score from the table ────────────
    QueryDef.sql("m16_rerank_cache", {
      val vals = E2eBatch20.take(6).zipWithIndex
        .map { case ((raw, _), i) => s"(${i + 1}, '${raw.replace("'", "''")}')" }
        .mkString(", ")
      s"""WITH q(query_id, qtext) AS (VALUES $vals),
         |cand AS (
         |  SELECT q.query_id, ${tokSql("q.qtext")} AS qt,
         |         d.doc_id, ${tokSql("d.text")} AS dt
         |  FROM q CROSS JOIN documents d WHERE d.doc_id < 50)
         |SELECT query_id, doc_id,
         |       round(CASE WHEN len(list_distinct(list_concat(dt, qt))) > 0
         |         THEN len(list_filter(list_distinct(dt), t -> list_contains(qt, t)))::DOUBLE
         |              / len(list_distinct(list_concat(dt, qt)))::DOUBLE
         |         ELSE 0.0 END, 6) AS rscore
         |FROM cand ORDER BY query_id, doc_id""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val queries = E2eBatch20.take(6).zipWithIndex
        .map { case ((raw, _), i) => ((i + 1).toLong, raw) }
        .toDF("query_id", "qtext")
      val cands = queries.crossJoin(broadcast(
        Tables.documents(s, dir).filter(col("doc_id") < 50)
          .select("doc_id", "text")))
      val scorer = Rerank.lexicalScoreCols(
        array_distinct(TextFunctions.tokenizeBm25(col("qtext"))), col("text"))
      val empty = Seq.empty[(String, Long, Double)]
        .toDF("query_key", "doc_id", "rscore")
      val cold = graft.query.QueryCache.rerankWithCache(
        cands, "qtext", "doc_id", empty, scorer)
      val warm = graft.query.QueryCache.rerankWithCache(
        cands, "qtext", "doc_id", cold.newCacheRows, lit(-999.0))
      warm.scored
        .select(col("query_id"), col("doc_id"),
          round(col("rscore"), 6).as("rscore"))
        .orderBy("query_id", "doc_id")
    },

    // ── BATCHED rerank: 3 queries through BM25 top-50 → per-query lexical
    //    head rerank in ONE DAG — the last pipeline stage in batch form
    //    (with hybrid_batch/j5 every stage now has a batched twin) ──────────
    QueryDef.sql("m7_rerank_batch",
      s"""WITH tok AS (SELECT doc_id, unnest(${tokSql("text")}) AS term FROM documents),
         |post AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
         |lens AS (SELECT doc_id, sum(tf)::BIGINT AS doc_len FROM post GROUP BY 1),
         |stats AS (SELECT avg(doc_len::DOUBLE) AS avgdl FROM lens),
         |corpus AS (SELECT count(*)::BIGINT AS n FROM documents),
         |idf AS (SELECT term, ln(((SELECT n FROM corpus)::DOUBLE - count(*) + 0.5)
         |          / (count(*) + 0.5) + 1.0) AS idf FROM post GROUP BY term),
         |qt(query_id, qtext) AS (VALUES (0, 'spark join filter window'),
         |   (100, 'hash merge batch scan'), (200, 'sort table row value')),
         |qtok AS (SELECT query_id, unnest(${tokSql("qtext")}) AS term FROM qt),
         |qterms AS (SELECT query_id, term, count(*)::BIGINT AS qtf
         |           FROM qtok GROUP BY 1, 2),
         |kscores AS (
         |  SELECT q.query_id, p.doc_id,
         |         sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) AS score
         |  FROM post p JOIN qterms q USING (term) JOIN idf i USING (term)
         |  JOIN lens l USING (doc_id) CROSS JOIN stats s
         |  GROUP BY 1, 2 HAVING sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) > 0),
         |ranked AS (
         |  SELECT query_id, doc_id, round(score, 4) AS score,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY round(score, 4) DESC, doc_id) AS orig_rank
         |  FROM kscores QUALIFY orig_rank <= 50),
         |qtoks AS (SELECT query_id, list_distinct(${tokSql("qtext")}) AS qts FROM qt),
         |dtok AS (SELECT doc_id, ${tokSql("text")} AS dt FROM documents),
         |hd AS (
         |  SELECT r.query_id, r.doc_id, r.score,
         |         CASE WHEN len(list_distinct(list_concat(d.dt, q.qts))) > 0
         |              THEN len(list_filter(list_distinct(d.dt), t -> list_contains(q.qts, t)))::DOUBLE
         |                   / len(list_distinct(list_concat(d.dt, q.qts)))::DOUBLE
         |              ELSE 0.0 END AS rerank_score
         |  FROM ranked r JOIN qtoks q USING (query_id) JOIN dtok d USING (doc_id)
         |  WHERE r.orig_rank <= 20),
         |hd2 AS (SELECT query_id, doc_id, score, rerank_score,
         |               row_number() OVER (PARTITION BY query_id
         |                 ORDER BY rerank_score DESC, doc_id) AS new_rank, 0 AS grp
         |        FROM hd),
         |tl AS (SELECT query_id, doc_id, score, NULL::DOUBLE AS rerank_score,
         |              orig_rank AS new_rank, 1 AS grp
         |       FROM ranked WHERE orig_rank > 20)
         |SELECT query_id, doc_id, score,
         |       round(coalesce(rerank_score, -1.0), 6) AS rerank_score,
         |       (row_number() OVER (PARTITION BY query_id ORDER BY grp, new_rank))::BIGINT AS final_rank
         |FROM (SELECT * FROM hd2 UNION ALL SELECT * FROM tl)
         |ORDER BY query_id, final_rank""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ix = Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text")
      val qSeq = Seq((0L, "spark join filter window"),
        (100L, "hash merge batch scan"), (200L, "sort table row value"))
      val qt = qSeq.toDF("query_id", "qtext")
      // warm serving rung: the keyed index scores the 3 driver-held queries
      // in process and emits exactly the rounded top-50 head rows the
      // window below would keep (identity spec-proved); unkeyed/over-limit
      // keeps the distributed batch plan
      val ranked = Bm25.topKBatchInProcess(ix, s, qSeq, 50)
        .getOrElse(Bm25.scoreBatch(ix, qt, "query_id", "qtext")
          .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
          .withColumn("orig_rank", row_number().over(
            Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))))
          .filter(col("orig_rank") <= 50).drop("orig_rank"))
      val withText = ranked
        .join(Tables.documents(s, dir).select("doc_id", "text"), "doc_id")
        .join(broadcast(qt), "query_id")
      Rerank.rerankHeadBatch(withText, "query_id", "score", 20,
          Rerank.lexicalScoreCols(
            array_distinct(graft.functions.TextFunctions.tokenizeBm25(col("qtext"))),
            col("text")))
        .select(col("query_id"), col("doc_id"), col("score"),
          round(coalesce(col("rerank_score"), lit(-1.0)), 6).as("rerank_score"),
          col("final_rank").cast("long").as("final_rank"))
        .orderBy("query_id", "final_rank")
    },

    // ── M8 BATCHED: extractive answer selection for 3 queries in one DAG —
    //    BM25 top-10 supplies each query's context blocks; the answer is the
    //    block with the highest |block ∩ query| / |block| token overlap
    //    (AnswerGen.Extractive's ratio as a column expression; a real LLM
    //    drops in as mapPartitions over the 3 winner rows) ──────────────────
    QueryDef.sql("m8_answer_batch",
      s"""WITH tok AS (SELECT doc_id, unnest(${tokSql("text")}) AS term FROM documents),
         |post AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
         |lens AS (SELECT doc_id, sum(tf)::BIGINT AS doc_len FROM post GROUP BY 1),
         |stats AS (SELECT avg(doc_len::DOUBLE) AS avgdl FROM lens),
         |corpus AS (SELECT count(*)::BIGINT AS n FROM documents),
         |idf AS (SELECT term, ln(((SELECT n FROM corpus)::DOUBLE - count(*) + 0.5)
         |          / (count(*) + 0.5) + 1.0) AS idf FROM post GROUP BY term),
         |qt(query_id, qtext) AS (VALUES (0, 'spark join filter window'),
         |   (100, 'hash merge batch scan'), (200, 'sort table row value')),
         |qtok AS (SELECT query_id, unnest(${tokSql("qtext")}) AS term FROM qt),
         |qterms AS (SELECT query_id, term, count(*)::BIGINT AS qtf
         |           FROM qtok GROUP BY 1, 2),
         |kscores AS (
         |  SELECT q.query_id, p.doc_id,
         |         sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) AS score
         |  FROM post p JOIN qterms q USING (term) JOIN idf i USING (term)
         |  JOIN lens l USING (doc_id) CROSS JOIN stats s
         |  GROUP BY 1, 2 HAVING sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) > 0),
         |ranked AS (
         |  SELECT query_id, doc_id, round(score, 4) AS score,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY round(score, 4) DESC, doc_id) AS orig_rank
         |  FROM kscores QUALIFY orig_rank <= 10),
         |qp AS (SELECT query_id, list_distinct(${plainTokSql("qtext")}) AS qts FROM qt),
         |dtok AS (SELECT doc_id, list_distinct(${plainTokSql("text")}) AS dt, text
         |         FROM documents),
         |scored AS (
         |  SELECT r.query_id, r.doc_id, r.score, d.text,
         |         CASE WHEN len(d.dt) > 0
         |              THEN len(list_filter(d.dt, t -> list_contains(q.qts, t)))::DOUBLE
         |                   / len(d.dt)::DOUBLE
         |              ELSE 0.0 END AS a_score
         |  FROM ranked r JOIN qp q USING (query_id) JOIN dtok d USING (doc_id)),
         |best AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |                    ORDER BY a_score DESC, doc_id) AS rn FROM scored)
         |SELECT query_id, doc_id AS answer_doc, score,
         |       round(a_score, 6) AS a_score, text AS answer
         |FROM best WHERE rn = 1 ORDER BY query_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ix = Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text")
      val qSeq = Seq((0L, "spark join filter window"),
        (100L, "hash merge batch scan"), (200L, "sort table row value"))
      val qt = qSeq.toDF("query_id", "qtext")
      // warm serving rung identical to m7_rerank_batch: the rounded top-10
      // arrives as a rank-ready LocalRelation when the index is resident;
      // the distributed scoreBatch+window plan is the verbatim fallback
      val ranked = Bm25.topKBatchInProcess(ix, s, qSeq, 10)
        .getOrElse(Bm25.scoreBatch(ix, qt, "query_id", "qtext")
          .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
          .withColumn("orig_rank", row_number().over(
            Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))))
          .filter(col("orig_rank") <= 10).drop("orig_rank"))
      val ctx = ranked
        .join(Tables.documents(s, dir).select("doc_id", "text"), "doc_id")
        .join(broadcast(qt.select(col("query_id"),
          array_distinct(TextFunctions.tokenize(col("qtext"))).as("qts"))), "query_id")
      graft.query.AnswerGen.answerBatch(ctx, "query_id", "qts", "doc_id", "text")
        .select(col("query_id"), col("doc_id").as("answer_doc"), col("score"),
          round(col("a_score"), 6).as("a_score"), col("text").as("answer"))
        .orderBy("query_id")
    },

    // ── §3.1 flagship: the full retrieval lifecycle in one DAG ────────────
    // (enhance → deterministic query embed → vector kNN + BM25 → RRF →
    // lexical rerank → final hits), now under a FULL value-exact oracle:
    // every rank boundary in KbPipeline uses rounded sort keys, the
    // enhancement of the fixed query is a pinned literal
    // (KbPipelineSpec asserts it equals Enhancement.enhance), and the
    // deterministic embed is reproduced component-by-component in SQL.
    QueryDef.sql("e2e_hybrid_query", e2eCoreSql(E2eEnhancedQuery)) { (s, dir) =>
      val chunks = Tables.chunksWithSid(s, dir)
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      graft.pipeline.KbPipeline.query(s, chunks, emb, E2eQueryText,
        bm25Index = Some(Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text")),
        corpusKey = Some(dir)).hits
    },

    // ── The FULL lifecycle, BATCHED: two queries through KbPipeline
    //    .queryBatch in one DAG, each value-exact against its own complete
    //    SQL rendition (union of two e2eCoreSql instances) ──────────────────
    QueryDef.sql("e2e_hybrid_batch",
      s"""SELECT 1 AS query_id, f.* FROM (${e2eCoreSql(E2eEnhancedQuery)}) f
         |UNION ALL
         |SELECT 2 AS query_id, f.* FROM (${e2eCoreSql(E2eEnhancedQuery2)}) f
         |ORDER BY query_id, final_rank""".stripMargin) { (s, dir) =>
      val chunks = Tables.chunksWithSid(s, dir)
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      graft.pipeline.KbPipeline.queryBatch(s, chunks, emb,
          Seq(1L -> E2eQueryText, 2L -> E2eQueryText2),
          bm25Index = Some(Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text")),
          corpusKey = Some(dir))
        .select(col("query_id"), col("doc_id"), col("score"), col("text"),
          col("sourcedoc"), col("sid"), col("rerank_score"),
          col("final_rank").cast("int").as("final_rank"))
        .orderBy("query_id", "final_rank")
    },

    // ── The FULL lifecycle at the reference's serving-SLO batch size: 20
    //    queries in ONE DAG (test_performance.py:326-327 budgets 20
    //    sequential queries < 5 s; here the corpus work — BM25 postings
    //    semi-join, one vector scan — is SHARED across the batch). Each of
    //    the 20 results is value-exact against its own complete SQL
    //    rendition ───────────────────────────────────────────────────────
    QueryDef.sql("e2e_hybrid_batch20",
      E2eBatch20.zipWithIndex.map { case ((_, enh), i) =>
        s"SELECT ${i + 1} AS query_id, f.* FROM (${e2eCoreSql(enh)}) f"
      }.mkString("", "\nUNION ALL\n", "\nORDER BY query_id, final_rank")) { (s, dir) =>
      val chunks = Tables.chunksWithSid(s, dir)
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      graft.pipeline.KbPipeline.queryBatch(s, chunks, emb,
          E2eBatch20.zipWithIndex.map { case ((t, _), i) => (i + 1).toLong -> t },
          bm25Index = Some(Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text")),
          corpusKey = Some(dir))
        .select(col("query_id"), col("doc_id"), col("score"), col("text"),
          col("sourcedoc"), col("sid"), col("rerank_score"),
          col("final_rank").cast("int").as("final_rank"))
        .orderBy("query_id", "final_rank")
    },

    // ── The flagship lifecycle SERVED BY THE IVFPQ TIER: same pipeline,
    //    vector stage dispatched through Serving.IvfPq (seeded coarse
    //    quantizer nprobe=2 + seeded PQ codebook + ADC shortlist + exact
    //    re-rank) — proves the chooseIndex policy's largest tier actually
    //    serves the e2e hybrid path, value-exact (search.py:207-231: the
    //    policy output IS the serving index) ───────────────────────────────
    QueryDef.sql("e2e_hybrid_ivfpq",
      e2eCoreSql(E2eEnhancedQuery, e2eIvfPqVectorSql)) { (s, dir) =>
      import graft.operators.VectorSearch
      val chunks = Tables.chunksWithSid(s, dir)
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val serving = cachedSeededIvfPq(s, dir, emb)
      graft.pipeline.KbPipeline.query(s, chunks, emb, E2eQueryText,
        graft.config.KbConfig(indexType = "ivfpq", ivfNprobe = 2),
        bm25Index = Some(Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text")),
        serving = serving, corpusKey = Some(dir)).hits
    },

    // ── The flagship lifecycle SERVED BY THE GRAPH TIER: vector stage
    //    dispatched through Serving.Graph (deterministic small-world kNN
    //    graph + 3-hop beam search, beam 64 ≥ topK 50) — the HNSW-analogue
    //    rung serving the e2e hybrid path, value-exact ─────────────────────
    QueryDef.sql("e2e_hybrid_graph",
      e2eCoreSql(E2eEnhancedQuery, e2eGraphVectorSql(deduped = true))) { (s, dir) =>
      import graft.operators.VectorSearch
      val chunks = Tables.chunksWithSid(s, dir)
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      // the DEFAULT graph tier is the duplicate-robust one: unique-vector
      // graph + copy expansion (recall 0.86 vs 0.08 on 50×-duplicated
      // corpora, tools/recall_r10.txt), memoized under the corpus key
      val serving = VectorSearch.Serving.GraphDeduped(
        cacheKey = s"$dir|e2e-dedup", beam = 64)
      graft.pipeline.KbPipeline.query(s, chunks, emb, E2eQueryText,
        graft.config.KbConfig(indexType = "graph"),
        bm25Index = Some(Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text")),
        serving = serving, corpusKey = Some(dir)).hits
    },

    // ── BATCHED hybrid retrieval: N queries through ONE DAG (the Spark
    //    throughput regime; BASELINE.md "our target") ──────────────────────
    // ── Ranked-retrieval evaluation (Järvelin & Kekäläinen 2002): nDCG@10,
    //    MRR, P@10, R@10 of the BM25 ranking against graded qrels from the
    //    cosine tier (grade 3/2/1 by vector rank tier) for the 3-query
    //    batch — the measurement layer over the engine's own tiers. The
    //    DCG discount is 1/ln(rank+1): nDCG is a ratio, so the log base
    //    cancels and ln sidesteps engine-specific log2 ──────────────────
    QueryDef.sql("m15_retrieval_metrics", {
      val qdefs = Seq(0 -> "spark join filter window",
        100 -> "hash merge batch scan", 200 -> "sort table row value")
      val qtVals = qdefs.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${tokSql("text")}) AS term FROM documents),
         |post AS (
         |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term),
         |lens AS (SELECT doc_id, sum(tf)::BIGINT AS doc_len FROM post GROUP BY doc_id),
         |stats AS (SELECT avg(doc_len::DOUBLE) AS avgdl FROM lens),
         |corpus AS (SELECT count(*)::BIGINT AS n FROM documents),
         |idf AS (
         |  SELECT term, ln(((SELECT n FROM corpus)::DOUBLE - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
         |  FROM post GROUP BY term),
         |qt(query_id, qtext) AS (VALUES $qtVals),
         |qtok AS (SELECT query_id, unnest(${tokSql("qtext")}) AS term FROM qt),
         |qterms AS (SELECT query_id, term, count(*)::BIGINT AS qtf FROM qtok GROUP BY query_id, term),
         |kscores AS (
         |  SELECT q.query_id, p.doc_id,
         |         sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) AS score
         |  FROM post p JOIN qterms q USING (term) JOIN idf i USING (term)
         |  JOIN lens l USING (doc_id) CROSS JOIN stats s
         |  GROUP BY q.query_id, p.doc_id
         |  HAVING sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) > 0),
         |ktop AS (
         |  SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY round(score, 4) DESC, doc_id) AS rk
         |  FROM kscores QUALIFY rk <= 20),
         |qv AS (SELECT vec_id AS query_id, embedding AS v FROM embeddings
         |       WHERE vec_id IN (0, 100, 200)),
         |cos AS (SELECT q.query_id, e.vec_id AS doc_id,
         |        ${cosineSql("e.embedding", "q.v")} AS score
         |        FROM embeddings e CROSS JOIN qv q),
         |vtop AS (
         |  SELECT query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY round(score, 6) DESC, doc_id) AS rk
         |  FROM cos QUALIFY rk <= 20),
         |qrels AS (
         |  SELECT query_id, doc_id,
         |         CASE WHEN rk <= 5 THEN 3.0 WHEN rk <= 10 THEN 2.0
         |              ELSE 1.0 END AS grade
         |  FROM vtop),
         |scored AS (
         |  SELECT k.query_id,
         |         sum((pow(2.0, coalesce(q.grade, 0.0)) - 1.0) / ln(k.rk + 1.0)) AS dcg,
         |         sum(CASE WHEN coalesce(q.grade, 0) > 0 THEN 1 ELSE 0 END)::BIGINT AS hits,
         |         max(CASE WHEN coalesce(q.grade, 0) > 0 THEN 1.0 / k.rk ELSE 0.0 END) AS rr
         |  FROM ktop k LEFT JOIN qrels q USING (query_id, doc_id)
         |  WHERE k.rk <= 10 GROUP BY k.query_id),
         |ideal AS (
         |  SELECT query_id, sum((pow(2.0, grade) - 1.0) / ln(irk + 1.0)) AS idcg
         |  FROM (SELECT query_id, grade, doc_id,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY grade DESC, doc_id) AS irk
         |        FROM qrels WHERE grade > 0)
         |  WHERE irk <= 10 GROUP BY query_id),
         |nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel
         |         FROM qrels WHERE grade > 0 GROUP BY query_id)
         |SELECT s.query_id,
         |       coalesce(n.n_rel, 0)::BIGINT AS n_rel,
         |       coalesce(s.hits, 0)::BIGINT AS hits,
         |       round(CASE WHEN coalesce(i.idcg, 0) > 0 THEN s.dcg / i.idcg
         |             ELSE 0.0 END, 4) AS ndcg,
         |       round(coalesce(s.rr, 0.0), 4) AS mrr,
         |       round(coalesce(s.hits, 0)::DOUBLE / 10, 4) AS p_at_k,
         |       round(CASE WHEN coalesce(n.n_rel, 0) > 0
         |             THEN coalesce(s.hits, 0)::DOUBLE / n.n_rel
         |             ELSE 0.0 END, 4) AS r_at_k
         |FROM scored s LEFT JOIN ideal i USING (query_id)
         |LEFT JOIN nrel n USING (query_id)
         |ORDER BY s.query_id""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ix = Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text")
      val qSeq = Seq((0L, "spark join filter window"),
        (100L, "hash merge batch scan"), (200L, "sort table row value"))
      val ktop = Bm25.scoreBatch(ix, qSeq.toDF("query_id", "qtext"),
          "query_id", "qtext")
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(round(col("score"), 4).desc, col("doc_id"))))
        .filter(col("rank") <= 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val qv = emb.filter(col("vec_id").isin(0L, 100L, 200L))
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val qrels = emb.crossJoin(broadcast(qv))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          graft.functions.VectorFunctions.cosine(col("embedding"), col("qvec")).as("c"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(round(col("c"), 6).desc, col("doc_id"))))
        .filter(col("rk") <= 20)
        .select(col("query_id"), col("doc_id"),
          when(col("rk") <= 5, 3.0).when(col("rk") <= 10, 2.0)
            .otherwise(1.0).as("grade"))
      graft.operators.RetrievalMetrics.evaluate(ktop, qrels, k = 10)
    },

    // ── m15 on PLANTED lexical qrels, bm25 vs learned-reranked — the
    //    hash-gated form of tools/eval_r16.txt's A/B: qrels grade docs by
    //    corpus query-term TF MASS (top-20 grade 3 / next-30 grade 2 /
    //    next-50 grade 1, the TREC-shape construction EvalReceipt plants),
    //    the bm25 top-20 head is reranked (topK 10) by the PRETRAINED
    //    5-feature logistic scorer, and both rankings' nDCG@10/MRR/P/R are
    //    emitted per query. The driver's hash compare re-proves
    //    learned > bm25 every round (Rm16EvalGateSpec asserts the
    //    inequality itself); weights are literals in both engines ────────
    QueryDef.sql("m15_retrieval_planted", {
      val qdefs = PlantedQueryDefs
      val qtVals = qdefs.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
      val qbVals = qdefs.map { case (i, t) =>
        val bgs = t.split(" ").sliding(2).map(_.mkString(" "))
          .map(b => s"'$b'").mkString(", ")
        s"($i, [$bgs])"
      }.mkString(", ")
      val qvVals = qdefs.map { case (i, t) =>
        s"($i, ${pooledQvLitSql(t.split(" ").toSeq)})"
      }.mkString(", ")
      val m = graft.query.Rerank.LogisticScorer.pretrained
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${tokSql("text")}) AS term FROM documents),
         |post AS (
         |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term),
         |lens AS (SELECT doc_id, sum(tf)::BIGINT AS doc_len FROM post GROUP BY doc_id),
         |stats AS (SELECT avg(doc_len::DOUBLE) AS avgdl FROM lens),
         |corpus AS (SELECT count(*)::BIGINT AS n FROM documents),
         |idf AS (
         |  SELECT term, ln(((SELECT n FROM corpus)::DOUBLE - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
         |  FROM post GROUP BY term),
         |qt(query_id, qtext) AS (VALUES $qtVals),
         |qtok AS (SELECT query_id, unnest(${tokSql("qtext")}) AS term FROM qt),
         |qterms AS (SELECT query_id, term, count(*)::BIGINT AS qtf FROM qtok GROUP BY query_id, term),
         |qb(query_id, qbigrams) AS (VALUES $qbVals),
         |qvt(query_id, qv) AS (VALUES $qvVals),
         |tfmass AS (
         |  SELECT q.query_id, t.doc_id, count(*)::BIGINT AS tfm
         |  FROM tok t JOIN (SELECT DISTINCT query_id, term FROM qtok) q USING (term)
         |  GROUP BY q.query_id, t.doc_id),
         |qrels AS (
         |  SELECT query_id, doc_id,
         |         CASE WHEN rk <= 20 THEN 3.0 WHEN rk <= 50 THEN 2.0
         |              ELSE 1.0 END AS grade
         |  FROM (SELECT query_id, doc_id,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY tfm DESC, doc_id) AS rk
         |        FROM tfmass)
         |  WHERE rk <= 100),
         |kscores AS (
         |  SELECT q.query_id, p.doc_id,
         |         sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) AS score
         |  FROM post p JOIN qterms q USING (term) JOIN idf i USING (term)
         |  JOIN lens l USING (doc_id) CROSS JOIN stats s
         |  GROUP BY q.query_id, p.doc_id
         |  HAVING sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) > 0),
         |ktop AS (
         |  SELECT query_id, doc_id, round(score, 4) AS score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY round(score, 4) DESC, doc_id) AS rk
         |  FROM kscores QUALIFY rk <= 20),
         |qlist AS (SELECT query_id, list_distinct(${tokSql("qtext")}) AS qtoks FROM qt),
         |dtok AS (SELECT doc_id, ${tokSql("text")} AS dt FROM documents),
         |feat AS (
         |  SELECT k.query_id, k.doc_id, k.score AS sc,
         |         len(list_filter(list_distinct(d.dt), t -> list_contains(ql.qtoks, t)))::DOUBLE AS i,
         |         len(list_distinct(list_concat(d.dt, ql.qtoks)))::DOUBLE AS u,
         |         len(list_distinct(d.dt))::DOUBLE AS dl,
         |         len(list_filter(d.dt, t -> list_contains(ql.qtoks, t)))::DOUBLE AS tf,
         |         len(ql.qtoks)::DOUBLE AS nq,
         |         len(list_filter(list_transform(range(1, len(d.dt)), ii -> d.dt[ii] || ' ' || d.dt[ii+1]), x -> list_contains(qg.qbigrams, x)))::DOUBLE AS bpxr,
         |         ${proxExpvSql(plantedMaxPairs)} AS expv,
         |         ${pooledVecSql("d.dt")} AS dv, qvt.qv AS qv
         |  FROM ktop k JOIN dtok d USING (doc_id) JOIN qlist ql USING (query_id)
         |  JOIN qb qg USING (query_id) JOIN qvt USING (query_id)
         |  WHERE k.rk <= 10),
         |rescored AS (
         |  SELECT query_id, doc_id,
         |         1.0 / (1.0 + exp(-(${m.w(0)} * (CASE WHEN u > 0 THEN i / u ELSE 0.0 END)
         |           + ${m.w(1)} * (CASE WHEN nq > 0 THEN i / nq ELSE 0.0 END)
         |           + ${m.w(2)} * (dl / (dl + 20.0))
         |           + ${m.w(3)} * (tf / (tf + 25.0))
         |           + ${m.w(4)} * (sc / (sc + 5.0))
         |           + ${m.w(5)} * (greatest(bpxr - expv - 2.0 * sqrt(expv), 0.0) / (greatest(bpxr - expv - 2.0 * sqrt(expv), 0.0) + 2.0))
         |           + ${m.w(6)} * ${f6Sql("dv", "qv")}
         |           + ${m.b}))) AS rscore
         |  FROM feat),
         |rankings AS (
         |  SELECT 'bm25' AS variant, query_id, doc_id, rk AS rank FROM ktop
         |  UNION ALL
         |  SELECT 'learned' AS variant, query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY rscore DESC, doc_id) AS rank
         |  FROM rescored),
         |scored AS (
         |  SELECT r.variant, r.query_id,
         |         sum((pow(2.0, coalesce(q.grade, 0.0)) - 1.0) / ln(r.rank + 1.0)) AS dcg,
         |         sum(CASE WHEN coalesce(q.grade, 0) > 0 THEN 1 ELSE 0 END)::BIGINT AS hits,
         |         max(CASE WHEN coalesce(q.grade, 0) > 0 THEN 1.0 / r.rank ELSE 0.0 END) AS rr
         |  FROM rankings r LEFT JOIN qrels q USING (query_id, doc_id)
         |  WHERE r.rank <= 10 GROUP BY r.variant, r.query_id),
         |ideal AS (
         |  SELECT query_id, sum((pow(2.0, grade) - 1.0) / ln(irk + 1.0)) AS idcg
         |  FROM (SELECT query_id, grade, doc_id,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY grade DESC, doc_id) AS irk
         |        FROM qrels WHERE grade > 0)
         |  WHERE irk <= 10 GROUP BY query_id),
         |nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel
         |         FROM qrels WHERE grade > 0 GROUP BY query_id)
         |SELECT s.variant, s.query_id,
         |       coalesce(n.n_rel, 0)::BIGINT AS n_rel,
         |       coalesce(s.hits, 0)::BIGINT AS hits,
         |       round(CASE WHEN coalesce(i.idcg, 0) > 0 THEN s.dcg / i.idcg
         |             ELSE 0.0 END, 4) AS ndcg,
         |       round(coalesce(s.rr, 0.0), 4) AS mrr,
         |       round(coalesce(s.hits, 0)::DOUBLE / 10, 4) AS p_at_k,
         |       round(CASE WHEN coalesce(n.n_rel, 0) > 0
         |             THEN coalesce(s.hits, 0)::DOUBLE / n.n_rel
         |             ELSE 0.0 END, 4) AS r_at_k
         |FROM scored s LEFT JOIN ideal i USING (query_id)
         |LEFT JOIN nrel n USING (query_id)
         |ORDER BY s.variant, s.query_id""".stripMargin
    }) { (s, dir) =>
      EngineQueries.retrievalPlanted(s, dir)
    },

    // ── m15 on PROXIMITY-planted qrels (verdict r16 #2 — the
    //    de-circularized family): identical BM25 head + pretrained rerank,
    //    but qrels grade by ORDERED-BIGRAM ADJACENCY count (consecutive
    //    query terms adjacent in order in the doc) — a positional signal
    //    none of the scorer's five features can see, so learned-vs-bm25
    //    here is a generalization receipt, not feature-signal alignment.
    //    Grades band by VALUE (px ≥3/==2/==1 → 3/2/1) ────────────────────
    QueryDef.sql("m15_retrieval_planted_prox", {
      val qdefs = PlantedQueryDefs
      val qtVals = qdefs.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
      val qbVals = qdefs.map { case (i, t) =>
        val bgs = t.split(" ").sliding(2).map(_.mkString(" "))
          .map(b => s"'$b'").mkString(", ")
        s"($i, [$bgs])"
      }.mkString(", ")
      val qvVals = qdefs.map { case (i, t) =>
        s"($i, ${pooledQvLitSql(t.split(" ").toSeq)})"
      }.mkString(", ")
      val m = graft.query.Rerank.LogisticScorer.pretrained
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${tokSql("text")}) AS term FROM documents),
         |post AS (
         |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term),
         |lens AS (SELECT doc_id, sum(tf)::BIGINT AS doc_len FROM post GROUP BY doc_id),
         |stats AS (SELECT avg(doc_len::DOUBLE) AS avgdl FROM lens),
         |corpus AS (SELECT count(*)::BIGINT AS n FROM documents),
         |idf AS (
         |  SELECT term, ln(((SELECT n FROM corpus)::DOUBLE - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
         |  FROM post GROUP BY term),
         |qt(query_id, qtext) AS (VALUES $qtVals),
         |qtok AS (SELECT query_id, unnest(${tokSql("qtext")}) AS term FROM qt),
         |qterms AS (SELECT query_id, term, count(*)::BIGINT AS qtf FROM qtok GROUP BY query_id, term),
         |tokarr AS (SELECT doc_id, ${tokSql("text")} AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id,
         |         list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bigrams
         |  FROM tokarr),
         |qb(query_id, qbigrams) AS (VALUES $qbVals),
         |qvt(query_id, qv) AS (VALUES $qvVals),
         |qrels AS (
         |  SELECT query_id, doc_id,
         |         CASE WHEN px >= 3 THEN 3.0 WHEN px = 2 THEN 2.0
         |              ELSE 1.0 END AS grade
         |  FROM (SELECT q.query_id, b.doc_id,
         |          len(list_filter(b.bigrams, x -> list_contains(q.qbigrams, x)))::BIGINT AS px
         |        FROM bg b CROSS JOIN qb q)
         |  WHERE px > 0),
         |kscores AS (
         |  SELECT q.query_id, p.doc_id,
         |         sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) AS score
         |  FROM post p JOIN qterms q USING (term) JOIN idf i USING (term)
         |  JOIN lens l USING (doc_id) CROSS JOIN stats s
         |  GROUP BY q.query_id, p.doc_id
         |  HAVING sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) > 0),
         |ktop AS (
         |  SELECT query_id, doc_id, round(score, 4) AS score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY round(score, 4) DESC, doc_id) AS rk
         |  FROM kscores QUALIFY rk <= 20),
         |qlist AS (SELECT query_id, list_distinct(${tokSql("qtext")}) AS qtoks FROM qt),
         |dtok AS (SELECT doc_id, ${tokSql("text")} AS dt FROM documents),
         |feat AS (
         |  SELECT k.query_id, k.doc_id, k.score AS sc,
         |         len(list_filter(list_distinct(d.dt), t -> list_contains(ql.qtoks, t)))::DOUBLE AS i,
         |         len(list_distinct(list_concat(d.dt, ql.qtoks)))::DOUBLE AS u,
         |         len(list_distinct(d.dt))::DOUBLE AS dl,
         |         len(list_filter(d.dt, t -> list_contains(ql.qtoks, t)))::DOUBLE AS tf,
         |         len(ql.qtoks)::DOUBLE AS nq,
         |         len(list_filter(list_transform(range(1, len(d.dt)), ii -> d.dt[ii] || ' ' || d.dt[ii+1]), x -> list_contains(qg.qbigrams, x)))::DOUBLE AS bpxr,
         |         ${proxExpvSql(plantedMaxPairs)} AS expv,
         |         ${pooledVecSql("d.dt")} AS dv, qvt.qv AS qv
         |  FROM ktop k JOIN dtok d USING (doc_id) JOIN qlist ql USING (query_id)
         |  JOIN qb qg USING (query_id) JOIN qvt USING (query_id)
         |  WHERE k.rk <= 10),
         |rescored AS (
         |  SELECT query_id, doc_id,
         |         1.0 / (1.0 + exp(-(${m.w(0)} * (CASE WHEN u > 0 THEN i / u ELSE 0.0 END)
         |           + ${m.w(1)} * (CASE WHEN nq > 0 THEN i / nq ELSE 0.0 END)
         |           + ${m.w(2)} * (dl / (dl + 20.0))
         |           + ${m.w(3)} * (tf / (tf + 25.0))
         |           + ${m.w(4)} * (sc / (sc + 5.0))
         |           + ${m.w(5)} * (greatest(bpxr - expv - 2.0 * sqrt(expv), 0.0) / (greatest(bpxr - expv - 2.0 * sqrt(expv), 0.0) + 2.0))
         |           + ${m.w(6)} * ${f6Sql("dv", "qv")}
         |           + ${m.b}))) AS rscore
         |  FROM feat),
         |rankings AS (
         |  SELECT 'bm25' AS variant, query_id, doc_id, rk AS rank FROM ktop
         |  UNION ALL
         |  SELECT 'learned' AS variant, query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY rscore DESC, doc_id) AS rank
         |  FROM rescored),
         |scored AS (
         |  SELECT r.variant, r.query_id,
         |         sum((pow(2.0, coalesce(q.grade, 0.0)) - 1.0) / ln(r.rank + 1.0)) AS dcg,
         |         sum(CASE WHEN coalesce(q.grade, 0) > 0 THEN 1 ELSE 0 END)::BIGINT AS hits,
         |         max(CASE WHEN coalesce(q.grade, 0) > 0 THEN 1.0 / r.rank ELSE 0.0 END) AS rr
         |  FROM rankings r LEFT JOIN qrels q USING (query_id, doc_id)
         |  WHERE r.rank <= 10 GROUP BY r.variant, r.query_id),
         |ideal AS (
         |  SELECT query_id, sum((pow(2.0, grade) - 1.0) / ln(irk + 1.0)) AS idcg
         |  FROM (SELECT query_id, grade, doc_id,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY grade DESC, doc_id) AS irk
         |        FROM qrels WHERE grade > 0)
         |  WHERE irk <= 10 GROUP BY query_id),
         |nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel
         |         FROM qrels WHERE grade > 0 GROUP BY query_id)
         |SELECT s.variant, s.query_id,
         |       coalesce(n.n_rel, 0)::BIGINT AS n_rel,
         |       coalesce(s.hits, 0)::BIGINT AS hits,
         |       round(CASE WHEN coalesce(i.idcg, 0) > 0 THEN s.dcg / i.idcg
         |             ELSE 0.0 END, 4) AS ndcg,
         |       round(coalesce(s.rr, 0.0), 4) AS mrr,
         |       round(coalesce(s.hits, 0)::DOUBLE / 10, 4) AS p_at_k,
         |       round(CASE WHEN coalesce(n.n_rel, 0) > 0
         |             THEN coalesce(s.hits, 0)::DOUBLE / n.n_rel
         |             ELSE 0.0 END, 4) AS r_at_k
         |FROM scored s LEFT JOIN ideal i USING (query_id)
         |LEFT JOIN nrel n USING (query_id)
         |ORDER BY s.variant, s.query_id""".stripMargin
    }) { (s, dir) =>
      EngineQueries.retrievalPlantedProx(s, dir)
    },

    QueryDef.sql("m15_retrieval_planted_sem", {
      val qdefs = PlantedQueryDefs
      val qtVals = qdefs.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
      val qbVals = qdefs.map { case (i, t) =>
        val bgs = t.split(" ").sliding(2).map(_.mkString(" "))
          .map(b => s"'$b'").mkString(", ")
        s"($i, [$bgs])"
      }.mkString(", ")
      val qvVals = qdefs.map { case (i, t) =>
        s"($i, ${pooledQvLitSql(t.split(" ").toSeq)})"
      }.mkString(", ")
      // the GRADING vectors: same pooling class, HELD-OUT salt — the
      // serving path (f6, salt "") never sees these components
      val qvSemVals = qdefs.map { case (i, t) =>
        s"($i, ${pooledQvLitSql(t.split(" ").toSeq, "sem|")})"
      }.mkString(", ")
      val m = graft.query.Rerank.LogisticScorer.pretrained
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${tokSql("text")}) AS term FROM documents),
         |post AS (
         |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term),
         |lens AS (SELECT doc_id, sum(tf)::BIGINT AS doc_len FROM post GROUP BY doc_id),
         |stats AS (SELECT avg(doc_len::DOUBLE) AS avgdl FROM lens),
         |corpus AS (SELECT count(*)::BIGINT AS n FROM documents),
         |idf AS (
         |  SELECT term, ln(((SELECT n FROM corpus)::DOUBLE - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
         |  FROM post GROUP BY term),
         |qt(query_id, qtext) AS (VALUES $qtVals),
         |qtok AS (SELECT query_id, unnest(${tokSql("qtext")}) AS term FROM qt),
         |qterms AS (SELECT query_id, term, count(*)::BIGINT AS qtf FROM qtok GROUP BY query_id, term),
         |qb(query_id, qbigrams) AS (VALUES $qbVals),
         |qvt(query_id, qv) AS (VALUES $qvVals),
         |qsem(query_id, qsv) AS (VALUES $qvSemVals),
         |kscores AS (
         |  SELECT q.query_id, p.doc_id,
         |         sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) AS score
         |  FROM post p JOIN qterms q USING (term) JOIN idf i USING (term)
         |  JOIN lens l USING (doc_id) CROSS JOIN stats s
         |  GROUP BY q.query_id, p.doc_id
         |  HAVING sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) > 0),
         |pool AS (
         |  SELECT query_id, doc_id, round(score, 4) AS score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY round(score, 4) DESC, doc_id) AS rk
         |  FROM kscores QUALIFY rk <= 200),
         |dtok AS (SELECT doc_id, ${tokSql("text")} AS dt FROM documents),
         |semv AS (
         |  SELECT p.query_id, p.doc_id,
         |         ${pooledVecSql("d.dt", "sem|")} AS dsv, q.qsv AS qsv
         |  FROM pool p JOIN dtok d USING (doc_id) JOIN qsem q USING (query_id)),
         |semc AS (
         |  SELECT query_id, doc_id, round(${cosineSql("dsv", "qsv")}, 6) AS c
         |  FROM semv),
         |qrels AS (
         |  SELECT query_id, doc_id,
         |         CASE WHEN srk <= 20 THEN 3.0 WHEN srk <= 50 THEN 2.0
         |              ELSE 1.0 END AS grade
         |  FROM (SELECT query_id, doc_id,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY c DESC, doc_id) AS srk
         |        FROM semc)
         |  WHERE srk <= 100),
         |ktop AS (SELECT query_id, doc_id, score, rk FROM pool WHERE rk <= 20),
         |qlist AS (SELECT query_id, list_distinct(${tokSql("qtext")}) AS qtoks FROM qt),
         |feat AS (
         |  SELECT k.query_id, k.doc_id, k.score AS sc,
         |         len(list_filter(list_distinct(d.dt), t -> list_contains(ql.qtoks, t)))::DOUBLE AS i,
         |         len(list_distinct(list_concat(d.dt, ql.qtoks)))::DOUBLE AS u,
         |         len(list_distinct(d.dt))::DOUBLE AS dl,
         |         len(list_filter(d.dt, t -> list_contains(ql.qtoks, t)))::DOUBLE AS tf,
         |         len(ql.qtoks)::DOUBLE AS nq,
         |         len(list_filter(list_transform(range(1, len(d.dt)), ii -> d.dt[ii] || ' ' || d.dt[ii+1]), x -> list_contains(qg.qbigrams, x)))::DOUBLE AS bpxr,
         |         ${proxExpvSql(plantedMaxPairs)} AS expv,
         |         ${pooledVecSql("d.dt")} AS dv, qvt.qv AS qv
         |  FROM ktop k JOIN dtok d USING (doc_id) JOIN qlist ql USING (query_id)
         |  JOIN qb qg USING (query_id) JOIN qvt USING (query_id)
         |  WHERE k.rk <= 10),
         |rescored AS (
         |  SELECT query_id, doc_id,
         |         1.0 / (1.0 + exp(-(${m.w(0)} * (CASE WHEN u > 0 THEN i / u ELSE 0.0 END)
         |           + ${m.w(1)} * (CASE WHEN nq > 0 THEN i / nq ELSE 0.0 END)
         |           + ${m.w(2)} * (dl / (dl + 20.0))
         |           + ${m.w(3)} * (tf / (tf + 25.0))
         |           + ${m.w(4)} * (sc / (sc + 5.0))
         |           + ${m.w(5)} * (greatest(bpxr - expv - 2.0 * sqrt(expv), 0.0) / (greatest(bpxr - expv - 2.0 * sqrt(expv), 0.0) + 2.0))
         |           + ${m.w(6)} * ${f6Sql("dv", "qv")}
         |           + ${m.b}))) AS rscore
         |  FROM feat),
         |rankings AS (
         |  SELECT 'bm25' AS variant, query_id, doc_id, rk AS rank FROM ktop
         |  UNION ALL
         |  SELECT 'learned' AS variant, query_id, doc_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY rscore DESC, doc_id) AS rank
         |  FROM rescored),
         |scored AS (
         |  SELECT r.variant, r.query_id,
         |         sum((pow(2.0, coalesce(q.grade, 0.0)) - 1.0) / ln(r.rank + 1.0)) AS dcg,
         |         sum(CASE WHEN coalesce(q.grade, 0) > 0 THEN 1 ELSE 0 END)::BIGINT AS hits,
         |         max(CASE WHEN coalesce(q.grade, 0) > 0 THEN 1.0 / r.rank ELSE 0.0 END) AS rr
         |  FROM rankings r LEFT JOIN qrels q USING (query_id, doc_id)
         |  WHERE r.rank <= 10 GROUP BY r.variant, r.query_id),
         |ideal AS (
         |  SELECT query_id, sum((pow(2.0, grade) - 1.0) / ln(irk + 1.0)) AS idcg
         |  FROM (SELECT query_id, grade, doc_id,
         |          row_number() OVER (PARTITION BY query_id
         |                             ORDER BY grade DESC, doc_id) AS irk
         |        FROM qrels WHERE grade > 0)
         |  WHERE irk <= 10 GROUP BY query_id),
         |nrel AS (SELECT query_id, count(*)::BIGINT AS n_rel
         |         FROM qrels WHERE grade > 0 GROUP BY query_id)
         |SELECT s.variant, s.query_id,
         |       coalesce(n.n_rel, 0)::BIGINT AS n_rel,
         |       coalesce(s.hits, 0)::BIGINT AS hits,
         |       round(CASE WHEN coalesce(i.idcg, 0) > 0 THEN s.dcg / i.idcg
         |             ELSE 0.0 END, 4) AS ndcg,
         |       round(coalesce(s.rr, 0.0), 4) AS mrr,
         |       round(coalesce(s.hits, 0)::DOUBLE / 10, 4) AS p_at_k,
         |       round(CASE WHEN coalesce(n.n_rel, 0) > 0
         |             THEN coalesce(s.hits, 0)::DOUBLE / n.n_rel
         |             ELSE 0.0 END, 4) AS r_at_k
         |FROM scored s LEFT JOIN ideal i USING (query_id)
         |LEFT JOIN nrel n USING (query_id)
         |ORDER BY s.variant, s.query_id""".stripMargin
    }) { (s, dir) =>
      EngineQueries.retrievalPlantedSem(s, dir)
    },

    QueryDef.sql("hybrid_batch", {
      val qdefs = Seq(0 -> "spark join filter window",
        100 -> "hash merge batch scan", 200 -> "sort table row value")
      val qtVals = qdefs.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${tokSql("text")}) AS term FROM documents),
         |post AS (
         |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term),
         |lens AS (SELECT doc_id, sum(tf)::BIGINT AS doc_len FROM post GROUP BY doc_id),
         |stats AS (SELECT avg(doc_len::DOUBLE) AS avgdl FROM lens),
         |corpus AS (SELECT count(*)::BIGINT AS n FROM documents),
         |idf AS (
         |  SELECT term, ln(((SELECT n FROM corpus)::DOUBLE - count(*) + 0.5) / (count(*) + 0.5) + 1.0) AS idf
         |  FROM post GROUP BY term),
         |qt(query_id, qtext) AS (VALUES $qtVals),
         |qtok AS (SELECT query_id, unnest(${tokSql("qtext")}) AS term FROM qt),
         |qterms AS (SELECT query_id, term, count(*)::BIGINT AS qtf FROM qtok GROUP BY query_id, term),
         |kscores AS (
         |  SELECT q.query_id, p.doc_id,
         |         sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) AS score
         |  FROM post p JOIN qterms q USING (term) JOIN idf i USING (term)
         |  JOIN lens l USING (doc_id) CROSS JOIN stats s
         |  GROUP BY q.query_id, p.doc_id
         |  HAVING sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) > 0),
         |ktop AS (
         |  SELECT query_id, doc_id, round(score, 4) AS score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY round(score, 4) DESC, doc_id) AS rk
         |  FROM kscores QUALIFY rk <= 20),
         |qv AS (SELECT vec_id AS query_id, embedding AS v FROM embeddings
         |       WHERE vec_id IN (0, 100, 200)),
         |cos AS (SELECT q.query_id, e.vec_id AS doc_id,
         |        ${cosineSql("e.embedding", "q.v")} AS score
         |        FROM embeddings e CROSS JOIN qv q),
         |vtop AS (
         |  SELECT query_id, doc_id, round(score, 6) AS score,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY round(score, 6) DESC, doc_id) AS rk
         |  FROM cos QUALIFY rk <= 20),
         |contrib AS (
         |  SELECT query_id, doc_id, 1.0 / (60.0 + rk) AS c FROM vtop
         |  UNION ALL
         |  SELECT query_id, doc_id, 1.0 / (60.0 + rk) AS c FROM ktop)
         |SELECT query_id, doc_id, round(sum(c), 6) AS rrf_score
         |FROM contrib GROUP BY query_id, doc_id
         |ORDER BY query_id, doc_id""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val ix = Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text")
      val qSeq = Seq((0L, "spark join filter window"),
        (100L, "hash merge batch scan"), (200L, "sort table row value"))
      val qt = qSeq.toDF("query_id", "qtext")
      // both stages serve from the resident caches when warm (rounded
      // head rows, spec-pinned identical), distributed plans as fallback
      val ktop = Bm25.topKBatchInProcess(ix, s, qSeq, 20)
        .getOrElse(graft.operators.TopK.explodeRanked(
          Bm25.scoreBatch(ix, qt, "query_id", "qtext")
            .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
            .groupBy("query_id")
            .agg(graft.operators.TopK.topK(20)(col("doc_id"), col("score")).as("tk")),
          "tk", Seq("query_id")))
      val emb = Tables.embeddings(s, dir)
      val vtop = VectorSearch.roundedTopKInProcess(emb, "vec_id", "embedding",
          Seq(0L, 100L, 200L).map(q => q -> Tables.queryVec(s, dir, q).toArray),
          20, scale = 6, cacheKey = Some(dir))
        .getOrElse {
          val qv = emb.filter(col("vec_id").isin(0, 100, 200))
            .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
          val scored = emb.crossJoin(broadcast(qv))
            .select(col("query_id"), col("vec_id").as("doc_id"),
              round(graft.functions.VectorFunctions.cosine(col("embedding"), col("qvec")), 6).as("score"))
          graft.operators.TopK.explodeRanked(
            scored.groupBy("query_id")
              .agg(graft.operators.TopK.topK(20)(col("doc_id"), col("score")).as("tk")),
            "tk", Seq("query_id"))
        }
      Fusion.rrfBatch(Seq(
          vtop.select("query_id", "doc_id", "score"),
          ktop.select("query_id", "doc_id", "score")))
        .select(col("query_id"), col("doc_id"), round(col("rrf_score"), 6).as("rrf_score"))
        .orderBy("query_id", "doc_id")
    },

    // ── Batched weighted fusion: per-query max-normalized merge of the
    //    vector and BM25 top-20 lists for 3 queries in one DAG ──────────────
    QueryDef.sql("j5_weighted_batch",
      s"""WITH qv AS (SELECT vec_id AS query_id, embedding AS v FROM embeddings
         |            WHERE vec_id IN (0, 100, 200)),
         |cos AS (SELECT q.query_id, e.vec_id AS doc_id,
         |        ${cosineSql("e.embedding", "q.v")} AS score
         |        FROM embeddings e CROSS JOIN qv q),
         |vtop AS (
         |  SELECT query_id, doc_id, score FROM (
         |    SELECT query_id, doc_id, round(score, 6) AS score,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY round(score, 6) DESC, doc_id) AS rk
         |    FROM cos) WHERE rk <= 20),
         |tok AS (SELECT doc_id, unnest(${tokSql("text")}) AS term FROM documents),
         |post AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
         |lens AS (SELECT doc_id, sum(tf)::BIGINT AS doc_len FROM post GROUP BY 1),
         |stats AS (SELECT avg(doc_len::DOUBLE) AS avgdl FROM lens),
         |corpus AS (SELECT count(*)::BIGINT AS n FROM documents),
         |idf AS (SELECT term, ln(((SELECT n FROM corpus)::DOUBLE - count(*) + 0.5)
         |          / (count(*) + 0.5) + 1.0) AS idf FROM post GROUP BY term),
         |qt(query_id, qtext) AS (VALUES (0, 'spark join filter window'),
         |   (100, 'hash merge batch scan'), (200, 'sort table row value')),
         |qtok AS (SELECT query_id, unnest(${tokSql("qtext")}) AS term FROM qt),
         |qterms AS (SELECT query_id, term, count(*)::BIGINT AS qtf
         |           FROM qtok GROUP BY 1, 2),
         |kscores AS (
         |  SELECT q.query_id, p.doc_id,
         |         sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) AS score
         |  FROM post p JOIN qterms q USING (term) JOIN idf i USING (term)
         |  JOIN lens l USING (doc_id) CROSS JOIN stats s
         |  GROUP BY 1, 2 HAVING sum(q.qtf * (i.idf * (p.tf * (1.2 + 1.0))) /
         |             (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.doc_len) / s.avgdl))) > 0),
         |ktop AS (
         |  SELECT query_id, doc_id, score FROM (
         |    SELECT query_id, doc_id, round(score, 4) AS score,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY round(score, 4) DESC, doc_id) AS rk
         |    FROM kscores) WHERE rk <= 20),
         |vn AS (SELECT query_id, doc_id,
         |         CASE WHEN max(abs(score)) OVER (PARTITION BY query_id) > 0
         |              THEN score / max(abs(score)) OVER (PARTITION BY query_id)
         |              ELSE 0.0 END AS vscore FROM vtop),
         |kn AS (SELECT query_id, doc_id,
         |         CASE WHEN max(abs(score)) OVER (PARTITION BY query_id) > 0
         |              THEN score / max(abs(score)) OVER (PARTITION BY query_id)
         |              ELSE 0.0 END AS kscore FROM ktop)
         |SELECT coalesce(vn.query_id, kn.query_id) AS query_id,
         |       coalesce(vn.doc_id, kn.doc_id) AS doc_id,
         |       round(coalesce(vscore, 0.0) * 0.7 + coalesce(kscore, 0.0) * 0.3, 6) AS score
         |FROM vn FULL OUTER JOIN kn
         |  ON vn.query_id = kn.query_id AND vn.doc_id = kn.doc_id
         |ORDER BY query_id, doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      // warm serving rungs with verbatim distributed fallbacks (the same
      // pattern as m7/m8): rounded vector top-20 from the resident corpus,
      // BM25 rounded top-20 from the resident index
      val qvecs = Seq(0L, 100L, 200L)
        .map(i => i -> Tables.queryVec(s, dir, i).toArray)
      val vtop = graft.operators.VectorSearch.roundedTopKInProcess(
        emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
        qvecs, 20, scale = 6, cacheKey = Some(dir)).getOrElse {
        val qv = emb.filter(col("vec_id").isin(0, 100, 200))
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
        val scored = emb.crossJoin(broadcast(qv))
          .select(col("query_id"), col("vec_id").as("doc_id"),
            round(graft.functions.VectorFunctions.cosine(col("embedding"), col("qvec")), 6).as("score"))
        graft.operators.TopK.explodeRanked(
          scored.groupBy("query_id")
            .agg(graft.operators.TopK.topK(20)(col("doc_id"), col("score")).as("tk")),
          "tk", Seq("query_id")).drop("rank")
      }
      val ix = Bm25.cachedIndex(dir, Tables.documents(s, dir), "doc_id", "text")
      val qSeq = Seq((0L, "spark join filter window"),
        (100L, "hash merge batch scan"), (200L, "sort table row value"))
      val ktop = Bm25.topKBatchInProcess(ix, s, qSeq, 20).getOrElse {
        val qt = qSeq.toDF("query_id", "qtext")
        graft.operators.TopK.explodeRanked(
          Bm25.scoreBatch(ix, qt, "query_id", "qtext")
            .select(col("query_id"), col("doc_id"), round(col("score"), 4).as("score"))
            .groupBy("query_id")
            .agg(graft.operators.TopK.topK(20)(col("doc_id"), col("score")).as("tk")),
          "tk", Seq("query_id")).drop("rank")
      }
      Fusion.weightedBatch(vtop, ktop, 0.7, 0.3)
        .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy("query_id", "doc_id")
    },

    // ── S3: file-type detection from filename (synthetic extensions) ──────
    QueryDef.sql("s3_file_type",
      """WITH files AS (
        |  SELECT doc_id, source || '/f' || doc_id::VARCHAR ||
        |    CASE doc_id % 8 WHEN 0 THEN '.md' WHEN 1 THEN '.html' WHEN 2 THEN '.py'
        |      WHEN 3 THEN '.json' WHEN 4 THEN '.yaml' WHEN 5 THEN '.xml'
        |      WHEN 6 THEN '.cfg' ELSE '.txt' END AS path
        |  FROM documents)
        |SELECT doc_id, path,
        |  CASE lower(regexp_extract(path, '\.([a-z0-9]+)$', 1))
        |    WHEN 'md' THEN 'markdown' WHEN 'html' THEN 'html' WHEN 'py' THEN 'code'
        |    WHEN 'json' THEN 'json' WHEN 'yaml' THEN 'yaml' WHEN 'xml' THEN 'xml'
        |    WHEN 'cfg' THEN 'config' ELSE 'text' END AS file_type
        |FROM files ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val path = concat(col("source"), lit("/f"), col("doc_id").cast("string"),
        element_at(lit(Array(".md", ".html", ".py", ".json", ".yaml", ".xml", ".cfg", ".txt")),
          (col("doc_id") % 8).cast("int") + 1))
      Tables.documents(s, dir)
        .select(col("doc_id"), path.as("path"),
          graft.ingest.Ingest.fileType(path).as("file_type"))
        .orderBy("doc_id")
    },

    // ── S2: the encoding-detect decode chain (utils/text_utils.py:339-422:
    //    UTF-8 strict → windows-1252 → latin-1 → UTF-8-replace), proved
    //    value-exact by round-trip: each document is ENCODED with a
    //    doc_id-chosen charset — cp1252 with a suffix whose 'ï' byte (0xEF
    //    followed by ASCII) is guaranteed-invalid UTF-8, multi-byte UTF-8,
    //    or plain bytes — and the chain must recover the original string.
    //    The oracle only knows the expected TEXT; any mis-detection (e.g.
    //    decoding the cp1252 branch as UTF-8-replace) hash-mismatches ──────
    QueryDef.sql("s2_decode_chain",
      """SELECT doc_id,
        |  CASE doc_id % 3
        |    WHEN 0 THEN text || ' naïve café©'
        |    WHEN 1 THEN text || ' — résumé…'
        |    ELSE text END AS decoded
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val enc = udf { (text: String, mode: Int) =>
        mode match {
          case 0 => (text + " naïve café©").getBytes("windows-1252")
          case 1 => (text + " — résumé…").getBytes("UTF-8")
          case _ => text.getBytes("UTF-8")
        }
      }
      Tables.documents(s, dir)
        .select(col("doc_id"),
          enc(col("text"), (col("doc_id") % 3).cast("int")).as("raw"))
        .select(col("doc_id"),
          graft.ingest.Ingest.decodeText(col("raw")).as("decoded"))
        .orderBy("doc_id")
    },

    // ── S9: query-log sink round-trip (query/processing.py:134-146):
    //    two append batches into the at-rest parquet log, then a read-back
    //    that must reproduce every logged row value-exactly. The log dir is
    //    cleared first so the check is idempotent across bench passes ───────
    QueryDef.sql("s9_query_log",
      """SELECT '2026-01-01T00:00:00Z' AS ts, 'kb_main' AS kb,
        |       substr(text, 1, 40) AS query,
        |       'answer:' || doc_id::VARCHAR AS answer,
        |       n_chars AS latency_ms
        |FROM documents WHERE doc_id < 6 ORDER BY answer""".stripMargin) { (s, dir) =>
      val logDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_s9_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmrf)
        f.delete(); ()
      }
      if (logDir.exists()) rmrf(logDir)
      val base = Tables.documents(s, dir).filter(col("doc_id") < 6)
        .select(col("doc_id"),
          lit("2026-01-01T00:00:00Z").as("ts"), lit("kb_main").as("kb"),
          substring(col("text"), 1, 40).as("query"),
          concat(lit("answer:"), col("doc_id").cast("string")).as("answer"),
          col("n_chars").as("latency_ms"))
      graft.sources.KbStorage.logQueries(
        base.filter(col("doc_id") < 3).drop("doc_id"), logDir.getPath)
      graft.sources.KbStorage.logQueries(
        base.filter(col("doc_id") >= 3).drop("doc_id"), logDir.getPath)
      s.read.parquet(logDir.getPath).orderBy("answer")
    },

    // ── S1: binaryFile glob scan (db_manager.py:240-410's os.walk+glob):
    //    deterministic fixture files are materialized from the documents
    //    table, scanned back through the production scanFiles path, and
    //    (name, byte length, decoded text) must round-trip value-exactly ──
    QueryDef.sql("s1_glob_scan",
      """SELECT 'doc' || doc_id::VARCHAR || '.txt' AS name,
        |       strlen(text)::BIGINT AS length, text
        |FROM documents WHERE doc_id < 20 ORDER BY name""".stripMargin) { (s, dir) =>
      val inDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_s1_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
      inDir.mkdirs()
      Tables.documents(s, dir).filter(col("doc_id") < 20)
        .select("doc_id", "text").collect().foreach { r =>
          java.nio.file.Files.write(
            inDir.toPath.resolve(s"doc${r.getLong(0)}.txt"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      graft.ingest.Ingest.scanFiles(s, s"${inDir.getPath}/*.txt")
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          col("length"),
          graft.ingest.Ingest.decodeText(col("content")).as("text"))
        .orderBy("name")
    },

    // ── S10: encoding-converter job (utils/encoding_converter.py): legacy
    //    cp1252 files (suffix crafted invalid-UTF-8, as in s2) are batch-
    //    converted to UTF-8 on disk; the converted files re-read under
    //    STRICT UTF-8 must yield the original text — a mis-converted byte
    //    stream fails the strict decode or hash-mismatches ─────────────────
    QueryDef.sql("s10_convert_encoding",
      """SELECT 'leg' || doc_id::VARCHAR || '.txt' AS name,
        |       text || ' naïve café©' AS text
        |FROM documents WHERE doc_id < 8 ORDER BY name""".stripMargin) { (s, dir) =>
      val suffix = dir.replaceAll("[^A-Za-z0-9]", "_")
      val inDir = new java.io.File(sys.props("java.io.tmpdir"), s"graft_s10_in_$suffix")
      val outDir = new java.io.File(sys.props("java.io.tmpdir"), s"graft_s10_out_$suffix")
      inDir.mkdirs(); outDir.mkdirs()
      Tables.documents(s, dir).filter(col("doc_id") < 8)
        .select("doc_id", "text").collect().foreach { r =>
          java.nio.file.Files.write(
            inDir.toPath.resolve(s"leg${r.getLong(0)}.txt"),
            (r.getString(1) + " naïve café©").getBytes("windows-1252"))
        }
      graft.sources.KbStorage.convertEncoding(s, s"${inDir.getPath}/*.txt",
        outDir.getPath)
      val strictUtf8 = udf { (bytes: Array[Byte]) =>
        java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .decode(java.nio.ByteBuffer.wrap(bytes)).toString
      }
      graft.ingest.Ingest.scanFiles(s, s"${outDir.getPath}/*.txt")
        .select(element_at(split(col("path"), "/"), -1).as("name"),
          strictUtf8(col("content")).as("text"))
        .orderBy("name")
    },

    // ── S11: context-file source (query/processing.py:30-52): two context
    //    files prepended to the prompt, read driver-side in caller order
    //    and joined blank-line-separated ────────────────────────────────────
    QueryDef.sql("s11_context_files",
      """SELECT string_agg(text, chr(10) || chr(10) ORDER BY doc_id) AS ctx
        |FROM documents WHERE doc_id IN (0, 1)""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ctxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_s11_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
      ctxDir.mkdirs()
      val paths = Tables.documents(s, dir).filter(col("doc_id") < 2)
        .select("doc_id", "text").orderBy("doc_id").collect().map { r =>
          val p = ctxDir.toPath.resolve(s"ctx${r.getLong(0)}.txt")
          java.nio.file.Files.write(p,
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          p.toString
        }
      Seq(graft.sources.KbStorage.readContextFiles(paths.toIndexedSeq))
        .toDF("ctx")
    },

    // ── M6: embedding-dimension probe + config sync (embed_manager.py:
    //    616-626): probe the registry-resolved provider by actually
    //    embedding a sample and measuring the vector, then reconcile against
    //    the at-rest corpus — the reference's "model dims changed?" check.
    //    The oracle pins the provider's contract dims (64); a provider whose
    //    probe disagrees with its registry entry hash-mismatches ────────────
    QueryDef.sql("m6_dims_sync",
      """SELECT len(embedding)::INT AS corpus_dim, count(*)::BIGINT AS n_vecs,
        |       64 AS probed_dim, len(embedding)::INT = 64 AS dims_match
        |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val provider = graft.models.ModelRegistry.embedderFor("deterministic", 64)
      val probed = Embedder.probeDims(provider)
      Tables.embeddings(s, dir)
        .groupBy(size(col("embedding")).as("corpus_dim"))
        .agg(count(lit(1)).as("n_vecs"))
        .withColumn("probed_dim", lit(probed))
        .withColumn("dims_match", col("corpus_dim") === col("probed_dim"))
        .orderBy("corpus_dim")
    })
}
