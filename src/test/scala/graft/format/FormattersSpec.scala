package graft.format

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FormattersSpec extends SparkSpec {
  import spark.implicits._

  private val ctx = Seq(
    ("docs/a.md", 0, "first chunk"), ("docs/a.md", 1, "second chunk"),
    ("docs/a.md", 5, "later chunk"), ("docs/b\"q\".md", 0, "<tag> & text"))
    .toDF("sourcedoc", "sid", "text")

  test("blocks group consecutive sids and join texts in order") {
    val b = Formatters.blocks(ctx, "text").collect()
      .map(r => (r.getString(0), r.getInt(r.fieldIndex("start_sid")),
        r.getInt(r.fieldIndex("end_sid")), r.getString(r.fieldIndex("block_text"))))
    assert(b.exists(x => x._1 == "docs/a.md" && x._2 == 0 && x._3 == 1 &&
      x._4 == "first chunk\nsecond chunk"))
    assert(b.exists(x => x._1 == "docs/a.md" && x._2 == 5 && x._3 == 5))
    assert(b.length == 3)
    // the driver twin groups the same rows into the same blocks
    val rows = ctx.as[(String, Int, String)].collect().toSeq
      .sortBy(r => (r._1, r._2)).map(r => (r._1, r._2.toLong, r._3))
    assert(Formatters.blockValues(rows).map(x => (x.sourcedoc, x.startSid.toInt,
      x.endSid.toInt, x.text)).toSet == b.toSet)
  }

  test("xml style escapes entities AND attribute quotes; assemble wraps") {
    val out = Formatters.document(Formatters.blocks(ctx, "text"), "xml")
    assert(out.startsWith("<references>"))
    assert(out.contains("source=\"docs/b&quot;q&quot;.md\""), out)
    assert(out.contains("&lt;tag&gt; &amp; text"))
    assert(!out.replace("<references>", "").replace("</references>", "")
      .split("\n").exists(l => l.contains("\"q\"")), "raw quote leaked into attribute")
  }

  test("json and markdown and plain styles render") {
    Seq("json", "markdown", "plain").foreach { style =>
      val s = Formatters.document(Formatters.blocks(ctx, "text"), style)
      assert(s.nonEmpty, style)
      if (style == "json") assert(s.startsWith("[") && s.endsWith("]"))
    }
  }

  // sourcedocs whose UTF-8 byte order (Spark's) differs from
  // String.compareTo's UTF-16 order: U+FF21 sorts after U+1F600 in UTF-16
  // (0xFF21 > 0xD83D) and before it in UTF-8 (EF BC A1 < F0 9F 98 80)
  private val tricky = Seq(
    ("docs/\uFF21.md", 0, "full-width"), ("docs/\uD83D\uDE00.md", 2, "emoji"),
    ("docs/\uD83D\uDE00.md", 3, "ctl \u0000\u0001\u001f\b\f\r\t\\ \u007f\u2028 end"),
    ("a&b<c>\"d'.md", 7, "quote \" apos ' amp & lt < gt >"),
    ("a&b<c>\"d'.md", 9, "\u00e9t\u00e9\nsecond line"))
    .toDF("sourcedoc", "sid", "text")

  test("driver renderer matches Spark's column rendering byte for byte") {
    val sds = tricky.select("sourcedoc").distinct().as[String].collect().toSeq
    assert(sds.sorted != sds.sortWith((a, b) => java.util.Arrays.compareUnsigned(
        a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0),
      "fixture must order differently under UTF-16 and UTF-8")
    val blocks = Formatters.blocks(tricky, "text")
    Seq("xml", "json", "markdown", "plain").foreach { style =>
      assert(Formatters.document(blocks, style) == ColumnRender(blocks, style), style)
    }
    assert(Formatters.document(blocks, "json").contains("\\u0001\\u001F\\b\\f\\r\\t\\\\"))
  }
}
