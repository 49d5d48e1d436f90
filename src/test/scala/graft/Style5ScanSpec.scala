package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Style5Scan
import graft.parse.Style5

/** Hand-written style-5 edge cases for the scan's differential specs. */
object Style5ScanSpec {

  val base: String =
    "66.31.5.190 - - [13/Oct/2002:09:04:38 -0700] " +
    "\"GET /media/promo/clip01.rm RTSP/1.0\" 200 1482931 " +
    "[WinNT_5.1_6.0.11.818_play32_RN01_EN_586_0] " +
    "[01234567-89ab-cdef-0123-456789abcdef] " +
    "[Stat1: 1042 3 7 0 2 sipr] " +
    "1482931 180 164 5 1 41"

  private def req(r: String): String = base.replace("GET /media/promo/clip01.rm RTSP/1.0", r)

  /** Lines a `String` can hold (any UTF-16, line terminators included). */
  val cases: Seq[String] = Seq(
    base, "", " ", "x", "[", "]", "\"", "\"\"", "[]", "[[]]",
    // tab, CR, LF, U+0085, U+2028, U+2029 inside fields
    base.replace("GET /media", "GET\t/media"),
    base.replace("WinNT_5.1", "Win\tNT_5.1"),
    base.replace(" 180 ", " 18\r0 "),
    base.replace(" 180 ", "\t180\t"),
    base.replace("[Stat1:", "\n[Stat1:"),
    req("GET /a\u0085b RTSP/1.0"), req("GET /a\u2028b RTSP/1.0"),
    req("GET /a\u2029b RTSP/1.0"), req("GET /a\rb RTSP/1.0"),
    req("GET /a\u0085b RTSP/1.0\" \"GET /c d RTSP/1.0"),
    // a terminator at the end: `$` matches before a final one only
    base + "\n", base + "\r", base + "\r\n", base + "\u0085", base + "\u2028",
    base + "\u2029", base + "\n\n", base + "\n\r", base + " ", base + "x",
    base.dropRight(2) + "\u20284 1",
    // non-ASCII, surrogate pairs and the U+FFFD a bad byte decodes to
    req("GET /aé中😀b RTSP/1.0"), base.replace("sipr", "\uFFFD\uFFFD"),
    base.replace("66.31.5.190", "éé"),
    // `[` with no `]`, and unbalanced brackets
    base + " [open", base.replace("[Stat1: ", "[Stat1 [: "), "a [b c",
    base.replace("] [01234567", " [01234567"),
    "[13/Oct/2002:09:04:38 -0700", base.replace("-0700]", "-0700"),
    // `"` inside request tokens
    req("GE\"T /a b\" RTSP/1.0"), "\"\"GET /x P\" 1 2", req("GET /a\" RTSP/1.0"),
    req("GET /a RT\"SP\"1.0"), req("GET /a\" b\" RTSP/1.0"), "\"GET a\"b \"c",
    req("GET /a RTSP/1.0\" \"x"), "\"a b c\" \"d e f\"", "\"a b \"c\"",
    // extra spaces in the request, and empty middles
    req("GET  /a  b  RTSP/1.0"), req("GET /a b c RTSP/1.0 "), req("GET  RTSP/1.0"),
    req(" GET /a RTSP/1.0"), req("GET /a RTSP/1.0"), req("GET"), req(""),
    // an empty leading token
    " " + base, "\t" + base, "- - - [13/Oct/2002:09:04:38 -0700] \"G / P\" 1 2 3",
    // the timestamp and the GMT offset
    base.replace("13/Oct/2002", "1/Oct/2002"), base.replace("13/Oct/2002", "13/Oc/2002"),
    base.replace("13/Oct/2002", "13/O_t/2002"), base.replace("13/Oct/2002", "13/Oct/02"),
    base.replace("-0700]", "-07000]"), base.replace("-0700]", "- 0700]"),
    base.replace("-0700]", "-0700 ]"), base.replace("-0700]", "+0700]"),
    "[13/Oct/2002:09:04:38 x [14/Oct/2002:09:04:38 -0800] -1234]",
    "[13/Oct/2002:09:04:38" + base, base.replace("- - [", "- [12/Jan/2001:01:02:03 ["),
    // 7 vs 8 numeric tokens
    "1.2.3.4 - - [13/Oct/2002:09:04:38 -0700] \"GET /m/clip.rm RTSP/1.0\" " +
      "200 999 [i] [g] 180 164 5 1 41",
    "1.2.3.4 - - [13/Oct/2002:09:04:38 -0700] \"GET /m/clip.rm RTSP/1.0\" " +
      "200 999 [i] [g] 999 180 164 5 1 41",
    // 6… and 9… head-drop tokens
    req("GET /m/clip 612.rm RTSP/1.0"), req("GET /m/clip 9x.rm RTSP/1.0"),
    req("GET /m/clip 6 x.rm RTSP/1.0"), req("GET /m/clip 99 RTSP/1.0"),
    req("GET /m/6 9 RTSP/1.0"), base.replace("\" 200 ", "\" 612 "),
    // long tokens and digits glued to other characters
    base.replace(" 1042 ", " 12345678901234567890123 "), base.replace(" 41", " 41x"),
    base.replace(" 164 ", " 164a "), base.replace(" 5 1 ", " 5\u000B1 "),
    base.replace(" 5 1 ", " 5\f1 "))

  /** Lines only bytes can hold: invalid UTF-8 in each field. */
  val byteCases: Seq[Array[Byte]] = {
    val b = base.getBytes("UTF-8")
    def at(i: Int, bytes: Int*): Array[Byte] = b.patch(i, bytes.map(_.toByte), 1)
    Seq(
      at(0, 0xC3), at(base.indexOf("Oct"), 0xFF), at(base.indexOf("GET") + 1, 0x80),
      at(base.indexOf("clip01"), 0xE4, 0xB8), at(base.indexOf("1482931"), 0xF8),
      at(base.indexOf("sipr"), 0xC0, 0xAF), at(base.indexOf(" 41"), 0xED, 0xA0, 0x80),
      b ++ Array(0xE4, 0xB8).map(_.toByte), Array(0xFF, 0xFE).map(_.toByte))
  }

  /** `lines` (a `line` column) where a [[Style5Scan]] field differs
    * from its regex twin, with the differing field names. */
  def mismatches(lines: DataFrame): Seq[(String, Seq[String])] = {
    val scanned = lines.select(col("line"), Style5Scan(col("line")).as("s"))
      .select(col("line") +: Style5Regex.fields.map { case (name, re) =>
        when(not(col(s"s.$name") <=> re(col("line"))), lit(name)).as(name)
      }: _*)
    scanned.collect().toSeq.map { r =>
      r.getString(0) -> (1 until r.length).filterNot(r.isNullAt).map(r.getString)
    }.filter(_._2.nonEmpty)
  }

  def handFrame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    // through an exchange, so the projection above runs in generated
    // code instead of folding into the local relation
    cases.toDF("line").repartition(2)
  }

  def byteFrame(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.read.text(LineFuzz.writeLines(byteCases, "graft_scan_bytes")).toDF("line")
}

/** Differential spec: every [[Style5Scan]] field equals the composed
  * Java-regex form it replaced ([[Style5Regex]]) on the rendered sf0.01
  * lines, on the fuzz corpora and on hand-written edge cases. */
class Style5ScanSpec extends AnyFunSuite {
  import TestSpark._
  import Style5ScanSpec._

  private def assertSame(lines: DataFrame, what: String, atLeast: Long): Unit = {
    assert(lines.count() >= atLeast, s"$what: fewer than $atLeast lines")
    val bad = mismatches(lines)
    assert(bad.isEmpty, s"$what: ${bad.length} lines differ, first: " +
      bad.take(3).map { case (l, f) => s"${f.mkString(",")} on '${l.take(200)}'" }.mkString("; "))
  }

  test("Style5Scan equals the regex captures on the rendered sf0.01 lines") {
    assertSame(Style5.renderedLines(spark, sf01).select("line"),
      "sf0.01", 10000)
  }

  test("Style5Scan equals the regex captures on the style-5 and web fuzz corpora") {
    val (s5, _) = LineFuzz.corpus(LineFuzz.recGen, LineFuzz.render, 400, 2718L)
    val (web, _) = LineFuzz.corpus(LineFuzz.webGen, (LineFuzz.renderWeb _).tupled, 400, 3141L)
    assertSame(spark.read.text(LineFuzz.writeLines(s5 ++ web, "graft_scan_fuzz")).toDF("line"),
      "fuzz", 800)
  }

  test("Style5Scan equals the regex captures on hand-written edge cases") {
    assertSame(handFrame(spark), "hand", cases.size)
    assertSame(byteFrame(spark), "bytes", byteCases.size)
    // a few fixed points, so the twins cannot agree on a wrong answer
    val r = handFrame(spark).filter(col("line") === base)
      .select(Style5Scan(col("line")).as("s")).select("s.*").head()
    assert(r.toSeq.take(6) == Seq("66.31.5.190", "13/Oct/2002:09:04:38", "0700", "GET",
      "/media/promo/clip01.rm", "RTSP/1.0"))
    assert(r.getSeq[String](6) == Seq("200", "1482931", "1042", "3", "7", "0", "2",
      "1482931", "180", "164", "5", "1", "41"))
    assert(r.getSeq[String](7).length == 4 && r.getBoolean(8))
    val nul = spark.range(1).select(Style5Scan(lit(null).cast("string")).as("s")).head()
    assert(nul.isNullAt(0), "a null line must scan to null")
  }

  test("Style5Scan is one projection in whole-stage codegen, and the line is scanned once") {
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      // gate and binding (the parse lane), and the binding alone
      for (df <- Seq(Style5.accepted(handFrame(spark)),
                     Style5.parsed(handFrame(spark)).select("client_ip_address", "path"))) {
        df.collect()
        val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
        val scans = plan.linesIterator.filter(_.contains("style5_scan(")).toSeq
        assert(scans.size == 1 && scans.head.contains("*("), s"scan projections: $scans")
        assert(!plan.contains("regexp_extract_all"), s"a token regex is still in the parse:\n$plan")
      }
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }
}
