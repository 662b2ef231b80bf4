package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField, StructType}

/** Per-group top-k as a typed Aggregator (SURVEY §2.10: "a per-partition
  * top-k Aggregator is an optimization option for T1").
  *
  * The window-function formulation of batched k-NN
  * ([[VectorSearch.bruteTopKBatch]]) shuffles EVERY scored (query, doc) row
  * to rank it: corpus×queries rows through the exchange. This Aggregator
  * keeps a bounded sorted buffer per partition (Spark runs it as a partial
  * aggregate with map-side combine), so only k rows PER PARTITION per query
  * reach the shuffle — at 10⁹ corpus rows × 100 queries × k=50 that is the
  * difference between shuffling 10¹¹ rows and shuffling
  * partitions × 100 × 50.
  *
  * Determinism: buffer order is (score desc, doc_id asc), insertion and
  * merge preserve it, merge is commutative/associative → identical output
  * to the `row_number` window for any partitioning.
  */
final case class ScoredDoc(doc_id: Long, score: Double)
final case class TopKBuf(items: Seq[ScoredDoc])

class TopKAggregator(k: Int, distinct: Boolean = false)
    extends Aggregator[ScoredDoc, TopKBuf, TopKBuf] {

  private def better(a: ScoredDoc, b: ScoredDoc): Boolean =
    a.score > b.score || (a.score == b.score && a.doc_id < b.doc_id)

  private def insert(b: TopKBuf, in: ScoredDoc): TopKBuf =
    if (b.items.length >= k && better(b.items.last, in)) b // bounded: fast reject
    // distinct mode: a doc_id already buffered carries the same score (the
    // score is a function of the (group, doc) pair), so dropping the
    // duplicate here equals a pre-aggregation `.distinct()` — without its
    // extra shuffle. The fast-reject above can never wrongly drop a dup
    // whose twin is buffered: the twin sorts no worse than `last`, so `in`
    // (same key) cannot be strictly worse than `last`.
    else if (distinct && b.items.exists(_.doc_id == in.doc_id)) b
    else {
      val (before, after) = b.items.span(it => better(it, in))
      TopKBuf(((before :+ in) ++ after).take(k))
    }

  override def zero: TopKBuf = TopKBuf(Vector.empty)
  override def reduce(b: TopKBuf, in: ScoredDoc): TopKBuf = insert(b, in)
  override def merge(x: TopKBuf, y: TopKBuf): TopKBuf = y.items.foldLeft(x)(insert)
  override def finish(b: TopKBuf): TopKBuf = b
  override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
  override def outputEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
}

object TopK {

  /** The ranked lists the in-process rungs build on the driver
    * ([[org.apache.spark.sql.graftshim.GraftShims.localFrame]]), with the
    * schemas `Seq[(Long, Double)].toDF("doc_id", "score")` and its
    * `query_id` / `rank` forms produce — the distributed plans they stand in
    * for see one schema either way.
    */
  val DocScore: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))
  val QueryDocScore: StructType =
    StructType(StructField("query_id", LongType, nullable = false) +: DocScore.fields)
  val QueryDocScoreRank: StructType =
    QueryDocScore.add(StructField("rank", IntegerType, nullable = false))

  /** Driver-side rounded head: the top-`k` of `(id, raw score)` rows under
    * the pipeline's (round(score, scale) desc, id asc) ranking, with the
    * BigDecimal HALF_UP rounding applied ONLY to heap candidates — a row
    * more than one 10^-scale below the current k-th ROUNDED score cannot
    * round into the heap (|round(x) − x| ≤ 0.5·10^-scale), so cold rows
    * cost one double compare instead of a BigDecimal allocation. On a
    * ~100k-row BM25 score list that is the difference between rounding 100k
    * values and rounding ~k. Identical output to mapping round over every
    * row and sorting.
    */
  def roundedHead(rows: Iterable[(Long, Double)], k: Int,
                  scale: Int): Seq[(Long, Double)] = {
    val agg = new TopKAggregator(k)
    var b = agg.zero
    val band = math.pow(10.0, -scale)
    val it = rows.iterator
    while (it.hasNext) {
      val (id, raw) = it.next()
      if (b.items.length < k || raw >= b.items.last.score - band)
        b = agg.reduce(b, ScoredDoc(id,
          graft.functions.HashAlgos.roundHalfUp(raw, scale)))
    }
    b.items.map(sd => (sd.doc_id, sd.score))
  }

  /** Column function: `topK(k)(doc_id, score)` usable in `groupBy().agg`. */
  def topK(k: Int): (Column, Column) => Column = { (docId, score) =>
    udaf(new TopKAggregator(k), Encoders.product[ScoredDoc])(docId, score)
  }

  /** Duplicate-dropping variant: input rows repeating a doc_id within a
    * group (each carrying the same score) occupy ONE buffer slot — fuses a
    * pre-aggregation `.distinct()` into the bounded agg, removing that
    * shuffle entirely. The graph-search hop step is the consumer: frontier
    * ∪ expanded-neighbors repeats candidates reached via several edges.
    */
  def topKDistinct(k: Int): (Column, Column) => Column = { (docId, score) =>
    udaf(new TopKAggregator(k, distinct = true),
      Encoders.product[ScoredDoc])(docId, score)
  }

  /** Explode an aggregated top-k struct back to (rank, doc_id, score) rows. */
  def explodeRanked(grouped: DataFrame, tkCol: String, keep: Seq[String]): DataFrame =
    grouped
      .select(keep.map(col) :+ posexplode(col(s"$tkCol.items")): _*)
      .select(keep.map(col) ++ Seq(
        col("col.doc_id").as("doc_id"),
        col("col.score").as("score"),
        (col("pos") + 1).cast("int").as("rank")): _*)

  /** Per-group top-k of `(idCol, scoreCol)` rows by (score DESC, id ASC)
    * — the shared ending of every batched serving plan. Long-id/Double-
    * score inputs take the BOUNDED AGGREGATION (map-side combine: only k
    * rows per partition per group reach the shuffle, no per-partition
    * sort of the full scored set — the window formulation shuffles and
    * sorts EVERY row to rank it); other types keep the `row_number`
    * window, which is output-identical by the aggregator's determinism
    * contract. Returns exactly `(groupCol, idCol, scoreCol[, rank])`.
    */
  def perGroupTopK(df: DataFrame, groupCol: String, idCol: String,
                   scoreCol: String, k: Int,
                   includeRank: Boolean = false): DataFrame = {
    val fast = df.schema(idCol).dataType == LongType &&
      df.schema(scoreCol).dataType == DoubleType
    val out =
      if (fast)
        explodeRanked(
          df.groupBy(groupCol)
            .agg(topK(k)(col(idCol), col(scoreCol)).as("tk")),
          "tk", Seq(groupCol))
          .select(col(groupCol), col("doc_id").as(idCol),
            col("score").as(scoreCol), col("rank"))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(groupCol).orderBy(col(scoreCol).desc, col(idCol))
        df.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col(groupCol), col(idCol), col(scoreCol), col("rank"))
      }
    if (includeRank) out else out.drop("rank")
  }
}
