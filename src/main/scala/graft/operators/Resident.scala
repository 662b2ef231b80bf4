package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

/** The residency guard of the in-process serving rungs (flat, IVF, PQ,
  * graph, BM25, chunk map): which tables may become driver-resident, decided
  * once per (session, key). Each rung keeps its own collect and layout.
  * A keyless call answers None, the distributed plan: a per-call collect
  * has no reuse to pay for it. Above the limits (the 100 TB regime) every
  * rung declines and its distributed plan runs unchanged.
  */
private[graft] object Resident {
  val VectorRows = 200000 // flat, IVF, PQ and graph rows
  val PostingsRows = 2000000 // BM25 postings rows
  val ChunkRows = 200000 // chunk map rows

  /** Float budget of a vector collect, rows × dim (64M ≈ 256 MB): a
    * 1536-d corpus under the row limit would otherwise collect ~1 GB to
    * the driver. The query-vector cache's resident map reads it too.
    */
  val MaxFloats = 64L * 1024 * 1024

  /** The id rule, checked with no job: BIGINT or INT ids, held as driver
    * `Long`s; the BM25 and chunk rungs cast results back to the id type.
    */
  def ids(df: DataFrame, idCol: String): Boolean = integral(df, idCol)

  /** The id rule of a vector table or query set: BIGINT ids, ARRAY&lt;FLOAT&gt;
    * vectors. The vector rungs return the driver `Long` ids as they are,
    * and the distributed plans keep an INT id in some results and widen it
    * in others, so an INT-id vector table stays distributed.
    */
  def vectors(df: DataFrame, idCol: String, vecCol: String): Boolean =
    df.schema(idCol).dataType == LongType &&
      (df.schema(vecCol).dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })

  def integral(df: DataFrame, c: String): Boolean =
    Seq[DataType](LongType, IntegerType).contains(df.schema(c).dataType)

  /** The guard: at most `maxRows` rows by a LIMIT-bounded count, and with
    * a `vecCol`, rows × dim within `maxFloats` by a `take(1)` dimension
    * probe. The probe runs only when the count admits, so a table over the
    * row limit declines in one job; the rung's collect follows an admit.
    */
  def fits(rows: DataFrame, maxRows: Int, vecCol: Option[String] = None,
           maxFloats: Long = MaxFloats): Boolean = {
    val n = rows.limit(maxRows + 1).count()
    n <= maxRows && vecCol.forall { v =>
      val dim = rows.select(size(col(v))).take(1)
        .headOption.map(_.getInt(0).toLong).getOrElse(0L)
      n * math.max(dim, 1L) <= maxFloats
    }
  }

  /** The memo step: `build` once per (session, `key|tag`) in the rung's
    * own `cache`; a build that throws is memoised as None like a declined
    * one, so a session pays the guard's jobs once.
    */
  def memo[V](cache: SessionMemo[Option[V]], spark: SparkSession,
              key: Option[String], tag: String)(build: => Option[V]): Option[V] =
    key.flatMap(k => cache.getOrBuild(spark, s"$k|$tag")(
      scala.util.Try(build).toOption.flatten))
}
