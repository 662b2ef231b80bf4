package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.types.StructType

/** Bridge from Catalyst [[Expression]]s to the public [[Column]] API.
  *
  * Spark 4 made `Column` expression-free (ColumnNode-backed); lifting a raw
  * Catalyst expression requires `classic.ExpressionUtils`, which is
  * `private[sql]` — hence this one-object shim living under
  * `org.apache.spark.sql`. `classic.Dataset.ofRows`, behind [[localFrame]],
  * is `private[sql]` too. No Spark internals are modified.
  */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over driver-held rows of a fixed schema: the
    * `LocalRelation` handed straight to `Dataset.ofRows`. `Seq(...).toDF`
    * derives an encoder from the tuple's TypeTag and builds its serializer
    * on every call; a serving rung whose rows are already on the driver
    * pays none of that, and its result is still a `LocalRelation` leaf.
    * Each row carries Catalyst values in schema order: `UTF8String` for a
    * string, a boxed primitive, or null.
    */
  def localFrame(spark: SparkSession, schema: StructType,
                 rows: Seq[InternalRow]): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Register a SQL function on an ALREADY-BUILT session (sessionState is
    * `private[sql]`): lets Verify/Bench/test sessions reach the graft SQL
    * surface without rebuilding with `withExtensions`.
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
