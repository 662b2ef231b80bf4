package graft.format

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.ContextWindow

/** Reference formatting (SURVEY §3.1 step 7;
  * `/root/reference/query/formatters.py:379-523`).
  *
  * The reference walks hit rows in Python, grouping consecutive sids from
  * the same sourcedoc into one block (W3) and emitting XML / JSON / Markdown
  * / plain text. Spark-native: the grouping is a window (lag + cumulative
  * sum) and block assembly is `array_join(collect_list)` per group; only
  * the block rows (bounded by top-k · context window) reach the driver,
  * where ONE renderer ([[render]]) turns them into the final document. The
  * in-process serving rung builds the same blocks from driver-held rows
  * ([[blockValues]]) and renders them through the same function.
  */
object Formatters {

  /** F17 XML escaping (`/root/reference/query/formatters.py:63-95`);
    * includes quote entities — sourcedoc is emitted inside a double-quoted
    * attribute, and quotes are legal in file paths.
    */
  def xmlEscape(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(c,
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;"), "\"", "&quot;"), "'", "&apos;")

  /** [[xmlEscape]] on a value — the same replacements in the same order. */
  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;").replace("'", "&apos;")

  /** A JSON string literal escaped as Spark's `to_json` (Jackson) writes
    * it: quote and backslash, the short control escapes, every other char
    * below 0x20 as `\u00XX` in upper-case hex; everything else verbatim.
    */
  private def jsonString(s: String): String = {
    val sb = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04X")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }

  /** One consecutive-sid run of one sourcedoc, texts joined in sid order. */
  final case class Block(sourcedoc: String, startSid: Long, endSid: Long, text: String)

  /** Group context rows `(sourcedoc, sid, text, ...)` into consecutive-run
    * blocks: one row per block with the texts joined in sid order.
    */
  def blocks(rows: DataFrame, textCol: String): DataFrame =
    ContextWindow.consecutiveGroups(rows)
      .groupBy("sourcedoc", "group_id")
      .agg(
        min("sid").as("start_sid"),
        max("sid").as("end_sid"),
        array_join(array_sort(collect_list(struct(col("sid"), col(textCol).as("t"))))
          .getField("t"), "\n").as("block_text"))

  /** [[blocks]] over driver-held context rows: each sourcedoc's rows
    * contiguous, sids ascending and unique within a sourcedoc, texts
    * non-null (what [[ContextWindow.expandValues]] returns).
    */
  def blockValues(rows: Seq[(String, Long, String)]): Seq[Block] = {
    val runs = scala.collection.mutable.ArrayBuffer[Vector[(String, Long, String)]]()
    rows.foreach { r =>
      // a new run starts where consecutiveGroups' lag test fires
      if (runs.nonEmpty && runs.last.last._1 == r._1 && runs.last.last._2 + 1 == r._2)
        runs(runs.size - 1) = runs.last :+ r
      else runs += Vector(r)
    }
    runs.toSeq.map(run =>
      Block(run.head._1, run.head._2, run.last._2, run.map(_._3).mkString("\n")))
  }

  /** The final reference document over [[blocks]]' rows: collect them
    * (bounded by top-k · context window) and [[render]] on the driver.
    * Block keys are non-null — context rows come from an equi-join on them.
    */
  def document(blocks: DataFrame, style: String): String =
    render(blocks.select("sourcedoc", "start_sid", "end_sid", "block_text")
      .collect().toSeq.map(r => Block(r.getString(0),
        r.getAs[Number](1).longValue, r.getAs[Number](2).longValue,
        r.getString(3))), style)

  /** Render blocks by style and frame them into one document, blocks in
    * `(sourcedoc, start_sid)` order with sourcedoc compared as unsigned
    * UTF-8 bytes — Spark's string order, not `String.compareTo`'s UTF-16.
    */
  def render(blocks: Seq[Block], style: String): String = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val parts = blocks
      .map(b => (b.sourcedoc.getBytes(utf8), b))
      .sortWith { case ((ka, a), (kb, b)) =>
        val c = java.util.Arrays.compareUnsigned(ka, kb)
        c < 0 || (c == 0 && a.startSid < b.startSid)
      }
      .map { case (_, b) =>
        style match {
          case "xml" =>
            s"""<reference source="${xmlEscape(b.sourcedoc)}" start="${b.startSid}" end="${b.endSid}">""" +
              s"\n${xmlEscape(b.text)}\n</reference>"
          case "json" =>
            s"""{"sourcedoc":${jsonString(b.sourcedoc)},"start_sid":${b.startSid},""" +
              s""""end_sid":${b.endSid},"text":${jsonString(b.text)}}"""
          case "markdown" =>
            s"### ${b.sourcedoc} [${b.startSid}-${b.endSid}]\n\n${b.text}"
          case _ => // plain
            s"From ${b.sourcedoc} (chunks ${b.startSid}-${b.endSid}):\n${b.text}"
        }
      }
    style match {
      case "xml"  => parts.mkString("<references>\n", "\n", "\n</references>")
      case "json" => parts.mkString("[", ",\n", "]")
      case _      => parts.mkString("\n\n")
    }
  }
}
