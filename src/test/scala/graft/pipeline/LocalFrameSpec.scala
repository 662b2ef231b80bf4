package graft.pipeline

import graft.SparkSpec
import graft.embed.Embedder
import graft.operators.{Bm25, TopK, VectorSearch}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** The in-process rungs build their results with
  * `GraftShims.localFrame` from driver rows and a constant schema. Each
  * frame must keep the schema `Seq(...).toDF` gave it (names, types and
  * nullability), stay a `LocalRelation` leaf, and round-trip its values.
  */
class LocalFrameSpec extends SparkSpec {
  import spark.implicits._

  private def leavesLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  private val texts: Seq[(Long, String)] = (1L to 30L).map { i =>
    i -> (s"document $i about " +
      (if (i % 3 == 0) "spark joins and shuffles" else "window ranking functions"))
  }

  private lazy val chunks = texts.zipWithIndex
    .map { case ((id, t), i) => (id, t, if (id % 2 == 0) "a" else "b", i) }
    .toDF("doc_id", "text", "sourcedoc", "sid").localCheckpoint(true)

  private lazy val embeddings = {
    val p = Embedder.Deterministic(16)
    texts.map { case (id, t) => (id, p.embedBatch(Seq(t)).head) }
      .toDF("doc_id", "embedding").localCheckpoint(true)
  }

  private val hitNames = Seq("doc_id", "score", "text", "sourcedoc", "sid",
    "rerank_score", "final_rank")
  private lazy val hitSchema = Seq.empty[KbPipeline.HitRow].toDF(hitNames: _*).schema
  private lazy val docScore = Seq.empty[(Long, Double)].toDF("doc_id", "score").schema
  private lazy val queryDocScore =
    Seq.empty[(Long, Long, Double)].toDF("query_id", "doc_id", "score").schema

  test("the shared ranked-list schemas are the toDF schemas") {
    assert(TopK.DocScore == docScore)
    assert(TopK.QueryDocScore == queryDocScore)
    assert(TopK.QueryDocScoreRank ==
      Seq.empty[(Long, Long, Double, Int)].toDF("query_id", "doc_id", "score", "rank").schema)
  }

  test("hit frames round-trip a None rerank score and an empty hit list") {
    val rows: Seq[KbPipeline.HitRow] = Seq(
      (7L, 0.5, "some text", "a", 3, Some(0.25), 1),
      (9L, 0.125, null, null, 4, None, 2))
    val df = KbPipeline.hitFrame(spark, rows)
    assert(df.schema == hitSchema)
    assert(df.collect().toSeq == Seq(
      Row(7L, 0.5, "some text", "a", 3, 0.25, 1),
      Row(9L, 0.125, null, null, 4, null, 2)))
    assert(df.as[KbPipeline.HitRow].collect().toSeq == rows)
    val empty = KbPipeline.hitFrame(spark, Nil)
    assert(empty.schema == hitSchema)
    assert(empty.collect().isEmpty && leavesLocal(empty))
  }

  test("warm single and batch hits keep the toDF schema and only LocalRelation leaves") {
    val ix = Bm25.cachedIndex("localframe-hits", chunks, "doc_id", "text")
    val hits = KbPipeline.query(spark, chunks, embeddings, "spark joins ranking",
      bm25Index = Some(ix), corpusKey = Some("localframe-hits")).hits
    assert(hits.schema == hitSchema)
    assert(leavesLocal(hits), hits.queryExecution.analyzed.toString)
    // rows past rerankingTopK keep their ranks with a null rerank score
    val got = hits.collect()
    assert(got.exists(_.isNullAt(5)) && got.exists(!_.isNullAt(5)))

    val batch = KbPipeline.queryBatch(spark, chunks, embeddings,
      Seq(1L -> "spark joins", 2L -> "window functions"),
      bm25Index = Some(ix), corpusKey = Some("localframe-hits"))
    assert(batch.schema ==
      Seq.empty[(Long, Long, Double, String, String, Int, Option[Double], Int)]
        .toDF("query_id" +: hitNames: _*).schema)
    assert(leavesLocal(batch) && batch.count() > 0)
  }

  test("vector rungs build toDF-schema LocalRelations") {
    val qv = embeddings.head().getSeq[Float](1)
    val brute = VectorSearch.bruteTopK(embeddings, "doc_id", "embedding", qv, 5,
      cacheKey = Some("localframe-vec"))
    assert(brute.schema == docScore && leavesLocal(brute) && brute.count() == 5)

    val rounded = VectorSearch.roundedTopKInProcess(embeddings, "doc_id",
      "embedding", Seq((1L, qv.toArray)), 5, scale = 6,
      cacheKey = Some("localframe-vec")).get
    assert(rounded.schema == queryDocScore && leavesLocal(rounded))

    val queries = Seq((1L, qv.toArray)).toDF("query_id", "qvec")
    val batch = VectorSearch.bruteTopKBatch(embeddings, "doc_id", "embedding",
      queries, "query_id", "qvec", 5, cacheKey = Some("localframe-vec"))
    assert(batch.schema == TopK.QueryDocScoreRank && leavesLocal(batch))
    assert(batch.collect().map(_.getInt(3)).toSeq == (1 to 5))

    val ivf = VectorSearch.IvfIndex(embeddings.withColumn("cluster_id", lit(0)),
      Array(qv.toArray), "doc_id", "embedding", cacheKey = Some("localframe-ivf"))
    val probed = VectorSearch.roundedIvfTopKInProcess(ivf,
      Seq((1L, qv.toArray, Seq(0))), 5, scale = 6).get
    assert(probed.schema == queryDocScore && leavesLocal(probed))
    assert(probed.collect().toSeq == rounded.collect().toSeq)
  }

  test("BM25 rungs keep the index's native doc_id type") {
    val docs = texts.map { case (id, t) => (id.toInt, t) }.toDF("doc_id", "text")
      .localCheckpoint(true)
    val ix = Bm25.cachedIndex("localframe-bm25-int", docs, "doc_id", "text")
    val intDocScore = StructType(docScore.map(f =>
      if (f.name == "doc_id") f.copy(dataType = IntegerType) else f))

    val scored = Bm25.scoreWithIndex(ix, spark, "spark joins")
    assert(scored.schema == intDocScore && leavesLocal(scored))
    val batch = Bm25.topKBatchInProcess(ix, spark, Seq(1L -> "spark joins"), 3).get
    assert(batch.schema == StructType(queryDocScore.map(f =>
      if (f.name == "doc_id") f.copy(dataType = IntegerType) else f)))
    assert(leavesLocal(batch) && batch.count() == 3)

    // the distributed plan's query side: one (term, qtf) LocalRelation
    val dist = Bm25.scoreWithIndex(ix.keyless, spark, "spark joins spark")
    val qSide = dist.queryExecution.analyzed.collectLeaves()
      .collect { case lr: LocalRelation => lr.schema }
    assert(qSide == Seq(Seq.empty[(String, Long)].toDF("term", "qtf").schema))
    assert(dist.schema("doc_id").dataType == IntegerType)
    // raw sums may differ in the last bits by accumulation order; the
    // scored documents may not
    assert(dist.collect().map(_.getInt(0)).toSet ==
      scored.collect().map(_.getInt(0)).toSet)
  }
}
