package graft.format

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference document rendered by Spark's own functions — per-block
  * `concat` / `to_json` (Jackson escaping), `orderBy(sourcedoc, start_sid)`
  * (Spark's string order), then the style's frame. Specs hold the driver
  * renderer ([[Formatters.render]]) to it byte for byte.
  */
object ColumnRender {
  def apply(blocks: DataFrame, style: String): String = {
    val body = style match {
      case "xml" =>
        concat(lit("<reference source=\""), Formatters.xmlEscape(col("sourcedoc")),
          lit("\" start=\""), col("start_sid"), lit("\" end=\""), col("end_sid"),
          lit("\">\n"), Formatters.xmlEscape(col("block_text")), lit("\n</reference>"))
      case "json" =>
        to_json(struct(col("sourcedoc"), col("start_sid"), col("end_sid"),
          col("block_text").as("text")))
      case "markdown" =>
        concat(lit("### "), col("sourcedoc"),
          lit(" ["), col("start_sid"), lit("-"), col("end_sid"), lit("]\n\n"),
          col("block_text"))
      case _ =>
        concat(lit("From "), col("sourcedoc"),
          lit(" (chunks "), col("start_sid"), lit("-"), col("end_sid"), lit("):\n"),
          col("block_text"))
    }
    val parts = blocks.select(col("sourcedoc"), col("start_sid"), body.as("f"))
      .orderBy("sourcedoc", "start_sid").select("f").collect().map(_.getString(0))
    style match {
      case "xml"  => parts.mkString("<references>\n", "\n", "\n</references>")
      case "json" => parts.mkString("[", ",\n", "]")
      case _      => parts.mkString("\n\n")
    }
  }
}
