package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Context-window expansion around search hits (SURVEY §2.3 J2, §2.5 W2/W3).
  *
  * The reference issues one SQLite range query per hit —
  * `WHERE sourcedoc=? AND sid BETWEEN ? AND ? ORDER BY sid`
  * (`/root/reference/query/search.py:37-58,575-583`) — N point queries
  * against a covering B-tree index. Spark-native: ONE equi-join of the
  * (tiny, broadcast) hit set against the chunk table, with the band
  * predicate evaluated inside the join. With the chunk table bucketed/sorted
  * by `(sourcedoc, sid)` the probe is a pruned scan at rest; no per-hit
  * round-trips exist at any scale.
  */
object ContextWindow {

  /** P5 adaptive scope (`/root/reference/query/search.py:561-565`): halve
    * the window (floor 1) when hit similarity is below the threshold.
    */
  def adaptiveScope(scoreCol: org.apache.spark.sql.Column, scope: Int,
                    threshold: Double = 0.6, factor: Double = 0.5): org.apache.spark.sql.Column =
    when(scoreCol < threshold,
      greatest(lit((scope * factor).toInt), lit(1))).otherwise(lit(scope))

  /** [[adaptiveScope]] on a value. */
  def adaptiveScopeValue(score: Double, scope: Int, threshold: Double,
                         factor: Double): Int =
    if (score < threshold) math.max((scope * factor).toInt, 1) else scope

  /** Expand each hit `(sourcedoc, sid, ...)` into the band
    * [sid - scope, sid + scope] of chunks from the same sourcedoc.
    *
    * Implementation: `sequence(lo, hi)` + `explode` on the HIT side (tiny),
    * then a broadcast EQUI-join on `(sourcedoc, sid)` — turning a band join
    * into an equi-join keeps it hash-joinable (no nested-loop), the same
    * trick as interval-flattening in range-join optimizers.
    */
  def expand(chunks: DataFrame, hits: DataFrame, scope: Int): DataFrame =
    expandScoped(chunks, hits.withColumn("_scope", lit(scope)))

  /** [[expand]] with a per-hit `_scope` column — the P5 adaptive form:
    * `hits.withColumn("_scope", adaptiveScope(col("score"), cfg...))`.
    */
  def expandScoped(chunks: DataFrame, hits: DataFrame): DataFrame = {
    val want = hits
      .select(col("sourcedoc"), col("sid").as("hit_sid"), col("_scope"))
      .withColumn("sid",
        explode(sequence(greatest(col("hit_sid") - col("_scope"), lit(0)),
          col("hit_sid") + col("_scope"))))
      .groupBy("sourcedoc", "sid")
      .agg(min("hit_sid").as("hit_sid")) // dedup overlapping windows
    chunks.join(broadcast(want), Seq("sourcedoc", "sid"))
  }

  /** [[expandScoped]] for driver-held hits over a driver-resident chunk
    * index — the reference's per-hit range read against its open store,
    * with no job. Same band (`sequence(max(sid - scope, 0), sid + scope)`,
    * which counts down when its start passes its end), same dedup of
    * overlapping bands, same inner-join drop of sids absent from the index.
    *
    * @param index  sourcedoc → (ascending unique sids, their texts)
    * @param hits   `(sourcedoc, sid, scope)` per hit
    * @return the context rows `(sourcedoc, sid, text)`, each sourcedoc's
    *         rows contiguous and in ascending sid order
    */
  def expandValues(index: Map[String, (Array[Long], Array[String])],
                   hits: Seq[(String, Long, Int)]): Seq[(String, Long, String)] =
    hits.groupBy(_._1).toSeq.flatMap { case (sd, hs) =>
      index.get(sd).toSeq.flatMap { case (sids, texts) =>
        val keep = new java.util.BitSet(sids.length)
        hs.foreach { case (_, sid, scope) =>
          val (a, b) = (math.max(sid - scope, 0L), sid + scope)
          val (lo, hi) = (math.min(a, b), math.max(a, b))
          val at = java.util.Arrays.binarySearch(sids, lo)
          var i = if (at >= 0) at else -at - 1
          while (i < sids.length && sids(i) <= hi) { keep.set(i); i += 1 }
        }
        keep.stream().toArray.toSeq.map(i => (sd, sids(i), texts(i)))
      }
    }

  /** BATCHED [[expandScoped]]: hits from N queries expand in one DAG, window
    * dedup keyed by (query, sourcedoc, sid) so each query keeps its OWN
    * context set (cross-query merging would leak one query's context into
    * another's). A chunk row wanted by several queries is emitted once per
    * query — the serving answer needs exactly that.
    */
  def expandScopedBatch(chunks: DataFrame, hits: DataFrame,
                        qidCol: String): DataFrame = {
    val want = hits
      .select(col(qidCol), col("sourcedoc"), col("sid").as("hit_sid"), col("_scope"))
      .withColumn("sid",
        explode(sequence(greatest(col("hit_sid") - col("_scope"), lit(0)),
          col("hit_sid") + col("_scope"))))
      .groupBy(col(qidCol), col("sourcedoc"), col("sid"))
      .agg(min("hit_sid").as("hit_sid"))
    chunks.join(broadcast(want), Seq("sourcedoc", "sid"))
  }

  /** W3 consecutive-run grouping for formatters
    * (`/root/reference/query/formatters.py:414-519`): assign a group id that
    * increments whenever sid != prev_sid + 1 within a sourcedoc — lag +
    * cumulative sum.
    */
  def consecutiveGroups(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy("sourcedoc").orderBy("sid")
    rows
      .withColumn("prev_sid", lag("sid", 1).over(w))
      .withColumn("new_group",
        when(col("prev_sid").isNull || col("sid") =!= col("prev_sid") + 1, 1).otherwise(0))
      .withColumn("group_id", sum("new_group").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("prev_sid", "new_group")
  }
}
