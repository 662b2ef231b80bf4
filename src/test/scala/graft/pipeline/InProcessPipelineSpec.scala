package graft.pipeline

import graft.SparkSpec
import graft.embed.Embedder
import graft.operators.Bm25
import org.apache.spark.sql.functions._

/** The fully in-process hit-serving path (`KbPipeline.hitsInProcess`) must
  * be value-identical, column for column and row for row, to the
  * distributed DAG it replaces — the same pinning contract
  * InMemoryServingSpec holds for the vector tier, extended through fusion,
  * the text-fetch join, and the head/tail lexical rerank. The fixture
  * deliberately exercises the contract's edges: a null-text chunk (Jaccard
  * null path → 0.0), an embedding id absent from the chunk table (the
  * inner-join drop), and a corpus larger than rerankingTopK (a non-empty
  * tail kept at its original ranks).
  */
class InProcessPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val texts: Seq[(Long, String)] =
    (1L to 30L).map { i =>
      i -> (s"document number $i about " +
        (if (i % 3 == 0) "spark joins and shuffles" else "window ranking functions") +
        s" with extra tokens t$i")
    } :+ (31L -> null.asInstanceOf[String])

  private def chunks = texts.zipWithIndex
    .map { case ((id, t), i) => (id, t, if (id % 2 == 0) "a" else "b", i) }
    .toDF("doc_id", "text", "sourcedoc", "sid")

  private def embeddings = {
    val p = Embedder.Deterministic(16)
    // id 100 exists only on the vector side: the distributed text fetch is
    // an inner join, so the warm path must drop it identically
    (texts.map { case (id, t) =>
      (id, p.embedBatch(Seq(Option(t).getOrElse(""))).head)
    } :+ (100L, p.embedBatch(Seq("spark joins")).head))
      .toDF("doc_id", "embedding")
  }

  test("warm in-process hits == distributed DAG hits, column for column") {
    val ch = chunks.localCheckpoint(true)
    val emb = embeddings.localCheckpoint(true)
    val q = "spark joins ranking"
    val ix = Bm25.cachedIndex("inproc-spec", ch, "doc_id", "text")
    val warmRes = KbPipeline.query(spark, ch, emb, q,
      bm25Index = Some(ix), corpusKey = Some("inproc-spec"))
    val distRes = KbPipeline.query(spark, ch, emb, q,
      bm25Index = Some(ix), corpusKey = None)
    // the null-text chunk keeps formatting on the distributed chain
    assert(warmRes.formatted == distRes.formatted)
    val (warm, dist) = (warmRes.hits, distRes.hits)
    assert(warm.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"warm path did not serve a LocalRelation:\n${warm.queryExecution.optimizedPlan}")
    assert(warm.columns.toSeq == dist.columns.toSeq,
      s"${warm.columns.toSeq} vs ${dist.columns.toSeq}")
    val w = warm.collect().map(_.toSeq).toSeq
    val d = dist.collect().map(_.toSeq).toSeq
    assert(w == d, s"warm:\n${w.mkString("\n")}\ndistributed:\n${d.mkString("\n")}")
    // the fixture genuinely exercised head AND tail
    assert(w.size > 20, s"expected a non-empty rerank tail, got ${w.size} rows")
    assert(w.exists(_.last.asInstanceOf[Int] > 20))
  }

  test("learned rerank scorer: warm in-process == distributed, and order differs from lexical") {
    val ch = chunks.localCheckpoint(true)
    val emb = embeddings.localCheckpoint(true)
    val q = "spark joins ranking"
    val cfg = graft.config.KbConfig(rerankingModel = "learned")
    val ix = Bm25.cachedIndex("inproc-spec-l", ch, "doc_id", "text")
    val warm = KbPipeline.query(spark, ch, emb, q, cfg,
      bm25Index = Some(ix), corpusKey = Some("inproc-spec-l")).hits
    val dist = KbPipeline.query(spark, ch, emb, q, cfg,
      bm25Index = Some(ix), corpusKey = None).hits
    assert(warm.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val w = warm.collect().map(_.toSeq).toSeq
    val d = dist.collect().map(_.toSeq).toSeq
    assert(w == d, s"warm:\n${w.mkString("\n")}\ndistributed:\n${d.mkString("\n")}")
    // the learned sigmoid produces different rerank scores than the
    // lexical jaccard (same plumbing, different model — the seam works)
    val lex = KbPipeline.query(spark, ch, emb, q,
      bm25Index = Some(ix), corpusKey = None).hits.collect().map(_.toSeq).toSeq
    assert(lex != d, "learned scorer should change rerank scores vs lexical")
  }

  test("vector-side id missing from chunks is dropped on both paths") {
    val ch = chunks.localCheckpoint(true)
    val emb = embeddings.localCheckpoint(true)
    val ix = Bm25.cachedIndex("inproc-spec2", ch, "doc_id", "text")
    val warm = KbPipeline.query(spark, ch, emb, "spark joins",
      bm25Index = Some(ix), corpusKey = Some("inproc-spec2")).hits
    assert(!warm.collect().exists(_.getLong(0) == 100L))
  }

  test("warm in-process BATCH hits == distributed batch DAG, per query") {
    val ch = chunks.localCheckpoint(true)
    val emb = embeddings.localCheckpoint(true)
    val qs = Seq(1L -> "spark joins ranking", 2L -> "window functions")
    val ix = Bm25.cachedIndex("inproc-spec-b", ch, "doc_id", "text")
    val warm = KbPipeline.queryBatch(spark, ch, emb, qs,
      bm25Index = Some(ix), corpusKey = Some("inproc-spec-b"))
    val dist = KbPipeline.queryBatch(spark, ch, emb, qs,
      bm25Index = Some(ix), corpusKey = None)
    assert(warm.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(warm.columns.toSeq == dist.columns.toSeq)
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getInt(7))
    val w = warm.collect().sortBy(key).map(_.toSeq).toSeq
    val d = dist.collect().sortBy(key).map(_.toSeq).toSeq
    assert(w == d, s"warm:\n${w.mkString("\n")}\ndistributed:\n${d.mkString("\n")}")
  }

  test("non-flat tier: warm stitch (collected vtop + driver fusion/rerank) == distributed") {
    val ch = chunks.localCheckpoint(true)
    val emb = embeddings.localCheckpoint(true)
    val ix = Bm25.cachedIndex("inproc-spec-ivf", ch, "doc_id", "text")
    val srv = graft.operators.VectorSearch.buildServing(emb, "doc_id",
      "embedding", graft.operators.VectorSearch.IndexStrategy.Ivf(4))
    val cfgIvf = graft.config.KbConfig(indexType = "ivf", ivfNprobe = 2)
    val warm = KbPipeline.query(spark, ch, emb, "spark joins ranking",
      cfg = cfgIvf, bm25Index = Some(ix), serving = srv,
      corpusKey = Some("inproc-spec-ivf")).hits
    val dist = KbPipeline.query(spark, ch, emb, "spark joins ranking",
      cfg = cfgIvf, bm25Index = Some(ix), serving = srv,
      corpusKey = None).hits
    assert(warm.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val w = warm.collect().map(_.toSeq).toSeq
    val d = dist.collect().map(_.toSeq).toSeq
    assert(w == d, s"warm:\n${w.mkString("\n")}\ndistributed:\n${d.mkString("\n")}")
  }

  test("IVFPQ tier: resident ADC+refine == distributed probe/ADC/re-rank") {
    val ch = chunks.localCheckpoint(true)
    val emb = embeddings.localCheckpoint(true)
    val ix = Bm25.cachedIndex("inproc-spec-pq", ch, "doc_id", "text")
    val srv = graft.operators.VectorSearch.buildServing(emb, "doc_id",
      "embedding", graft.operators.VectorSearch.IndexStrategy.IvfPq(4, 4))
    val cfgPq = graft.config.KbConfig(indexType = "ivfpq", ivfNprobe = 2)
    val warm = KbPipeline.query(spark, ch, emb, "spark joins ranking",
      cfg = cfgPq, bm25Index = Some(ix), serving = srv,
      corpusKey = Some("inproc-spec-pq")).hits
    val dist = KbPipeline.query(spark, ch, emb, "spark joins ranking",
      cfg = cfgPq, bm25Index = Some(ix), serving = srv,
      corpusKey = None).hits
    assert(warm.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val w = warm.collect().map(_.toSeq).toSeq
    val d = dist.collect().map(_.toSeq).toSeq
    assert(w == d, s"warm:\n${w.mkString("\n")}\ndistributed:\n${d.mkString("\n")}")
  }

  test("duplicate query ids decline warm batch serving (distributed merges them)") {
    val ch = chunks.localCheckpoint(true)
    val emb = embeddings.localCheckpoint(true)
    val ix = Bm25.cachedIndex("inproc-spec-dup", ch, "doc_id", "text")
    val qs = Seq(1L -> "spark joins", 1L -> "window functions")
    val out = KbPipeline.queryBatch(spark, ch, emb, qs,
      bm25Index = Some(ix), corpusKey = Some("inproc-spec-dup"))
    assert(!out.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      "duplicated query_id must fall back to the distributed batch")
  }

  test("category filter and weighted fusion keep the distributed plan") {
    val ch = chunks.localCheckpoint(true)
    val emb = embeddings.localCheckpoint(true)
    val ix = Bm25.cachedIndex("inproc-spec3", ch, "doc_id", "text")
    val weighted = KbPipeline.query(spark, ch, emb, "spark joins",
      cfg = graft.config.KbConfig(fusionMethod = "weighted"),
      bm25Index = Some(ix), corpusKey = Some("inproc-spec3")).hits
    assert(!weighted.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
  }

  // ── context expansion and formatting on the rung ──────────────────────
  // Four sourcedocs: XML/JSON metacharacters, and non-ASCII names whose
  // UTF-8 order (Spark's) differs from String.compareTo's (U+FF21 vs
  // U+1F600). Sids have gaps; texts carry control characters; the
  // threshold splits RRF scores so some hits get the halved scope.
  private val fmtCfg = graft.config.KbConfig(queryTopK = 8, rerankingTopK = 4,
    queryContextScope = 2, similarityThreshold = 0.025)
  private val fmtQuery = "spark joins ranking"
  private val fmtDocs = Seq("docs/a&b<c>\"d'.md", "docs/\uFF21.md",
    "docs/\u00e9.md", "docs/\uD83D\uDE00.md")
  private type ChunkRow = (Long, String, String, Option[Int])
  private val fmtRows: Seq[ChunkRow] = for {
    (sd, j) <- fmtDocs.zipWithIndex
    sid <- Seq(0, 1, 2, 3, 5, 6, 7, 10, 11, 14)
  } yield {
    val topic = if ((sid + j) % 3 == 0) "spark joins ranking" else "window functions"
    (j * 100L + sid, s"chunk $sid of <$j> & \"$topic\" 'q' \\ tab\there " +
      "\u0000\u0001\u001f\u007f\u2028 \u00eb", sd, Some(sid))
  }

  private def fmtFrames(rows: Seq[ChunkRow]) = {
    val p = Embedder.Deterministic(64)
    (rows.toDF("doc_id", "text", "sourcedoc", "sid").localCheckpoint(true),
      rows.map { case (id, t, _, _) =>
        (id, p.embedBatch(Seq(Option(t).getOrElse(""))).head)
      }.toDF("doc_id", "embedding").localCheckpoint(true))
  }

  /** Per style: warm `.formatted`, the jobs it ran, distributed `.formatted`
    * and the distributed context rendered by Spark column expressions.
    */
  private def formattedBothWays(rows: Seq[ChunkRow], key: String,
                                styles: Seq[String]) = {
    val (ch, emb) = fmtFrames(rows)
    val ix = Bm25.cachedIndex(key, ch, "doc_id", "text")
    styles.map { style =>
      val cfg = fmtCfg.copy(referenceFormat = style)
      val warm = KbPipeline.query(spark, ch, emb, fmtQuery, cfg,
        bm25Index = Some(ix), corpusKey = Some(key))
      val dist = KbPipeline.query(spark, ch, emb, fmtQuery, cfg,
        bm25Index = Some(ix), corpusKey = None)
      val (w, jobs) = graft.JobCount(spark)(warm.formatted)
      (style, w, jobs, dist.formatted,
        graft.format.ColumnRender(graft.format.Formatters.blocks(dist.context, "text"), style))
    }
  }

  test("warm formatted == distributed formatted, byte for byte, in every style") {
    val (ch, emb) = fmtFrames(fmtRows)
    val ix = Bm25.cachedIndex("inproc-fmt", ch, "doc_id", "text")
    val hits = KbPipeline.query(spark, ch, emb, fmtQuery, fmtCfg,
        bm25Index = Some(ix), corpusKey = Some("inproc-fmt"))
      .hits.select("sourcedoc", "sid", "score").as[(String, Int, Double)].collect()
    // the fixture reaches the edges it exists for
    assert(hits.exists(_._2 == 0), "no hit at sid 0")
    assert(hits.exists(_._3 < fmtCfg.similarityThreshold) &&
      hits.exists(_._3 >= fmtCfg.similarityThreshold), "no halved-and-full scope mix")
    assert(hits.groupBy(_._1).values.exists(hs =>
      hs.combinations(2).exists(p => math.abs(p(0)._2 - p(1)._2) <= 2)),
      "no overlapping windows")
    assert(Set("docs/\uFF21.md", "docs/\uD83D\uDE00.md").subsetOf(hits.map(_._1).toSet),
      s"the UTF-8-ordered pair is not both hit: ${hits.toSeq}")
    formattedBothWays(fmtRows, "inproc-fmt", Seq("xml", "json", "markdown", "plain"))
      .foreach { case (style, w, jobs, d, columns) =>
        assert(jobs == 0, s"$style: warm formatting ran $jobs jobs")
        assert(w == d, s"$style warm:\n$w\ndistributed:\n$d")
        assert(d == columns, s"$style distributed:\n$d\ncolumn-rendered:\n$columns")
      }
  }

  test("chunk sets the driver window does not replicate decline; output unchanged") {
    val isolated = fmtRows.find(r => r._3 == fmtDocs.head && r._4.contains(14)).get
    Seq(
      // identical text: the duplicate's two one-chunk blocks tie in order
      // but render the same, so the distributed output is deterministic
      "dup" -> (fmtRows :+ isolated.copy(_1 = 9999L)),
      "nullsd" -> (fmtRows :+ ((9998L, "spark joins ranking", null, Some(3)))),
      "nullsid" -> (fmtRows :+ ((9997L, "spark joins ranking", fmtDocs.head, None))),
      "nulltext" -> (fmtRows :+ ((9996L, null, fmtDocs.head, Some(4))))
    ).foreach { case (name, rows) =>
      formattedBothWays(rows, s"inproc-fmt-$name", Seq("xml", "json"))
        .foreach { case (style, w, jobs, d, columns) =>
          assert(jobs > 0, s"$name/$style: the driver path did not decline")
          assert(w == d, s"$name/$style warm:\n$w\ndistributed:\n$d")
          assert(d == columns, s"$name/$style")
        }
    }
  }

  test("a warm keyed query runs zero Spark jobs, formatted included") {
    val (ch, emb) = fmtFrames(fmtRows)
    val ix = Bm25.cachedIndex("inproc-fmt-jobs", ch, "doc_id", "text")
    def ask(key: Option[String]) = KbPipeline.query(spark, ch, emb, fmtQuery,
      fmtCfg, bm25Index = Some(ix), corpusKey = key)
    ask(Some("inproc-fmt-jobs")).formatted // fills the serving memos
    val (_, formatJobs) = graft.JobCount(spark)(ask(Some("inproc-fmt-jobs")).formatted)
    assert(formatJobs == 0, s"warm query + formatted ran $formatJobs jobs")
    val (_, opJobs) = graft.JobCount(spark) {
      val r = ask(Some("inproc-fmt-jobs")); r.formatted; r.hits.collect()
    }
    assert(opJobs == 0, s"warm query op ran $opJobs jobs")
    val (_, distJobs) = graft.JobCount(spark)(ask(None).formatted)
    assert(distJobs > 0, "the listener saw no distributed jobs")
  }
}
