package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Style5Scan
import graft.parse.Style5
import graft.streaming.StreamEtl

/** Unit tests for the §2.2 parser ([[Style5.parsed]] over one
  * [[Style5Scan]] per line) against hand-written log lines covering
  * the reference's edge cases (SURVEY.md §5.2). */
class ParseSpec extends AnyFunSuite {
  import TestSpark._

  private val style5Line =
    "66.31.5.190 - - [13/Oct/2002:09:04:38 -0700] " +
    "\"GET /media/promo/clip01.rm RTSP/1.0\" 200 1482931 " +
    "[WinNT_5.1_6.0.11.818_play32_RN01_EN_586_0] " +
    "[01234567-89ab-cdef-0123-456789abcdef] " +
    "[Stat1: 1042 3 7 0 2 sipr] " +
    "[Stat2: 225000 225000 225000 80000 198000 1050 1042 2 1.500 1 3 sipr] " +
    "1482931 180 164 5 1 41"

  // a space-digit token starting with 6 in the path → P4 head-drop case
  private val tricky = "1.2.3.4 - - [13/Oct/2002:09:04:38 -0700] " +
    "\"GET /m/clip 612.rm RTSP/1.0\" 200 999 [i] [g] 999 180 164 5 1 41"

  private def one(line: String) = {
    val df = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(line)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("line",
          org.apache.spark.sql.types.StringType))))
    df
  }

  private def scanOf(line: String) =
    one(line).select(Style5Scan(col("line")).as("s")).select("s.*").head()

  test("P1: client ip is the leading token") {
    assert(Style5.parsed(one(style5Line)).select("client_ip_address").head().getString(0)
      == "66.31.5.190")
  }

  test("P8: timestamp parses; offset captured but not applied") {
    val r = Style5.parsed(one(style5Line)).select(
      col("datetime").cast("string"), col("gmt_offset")).head()
    assert(r.getString(0) == "2002-10-13 09:04:38")
    assert(r.getString(1) == "0700")
  }

  test("P9/P10: request line, path/name split") {
    val r = scanOf(style5Line)
    assert(r.getAs[String]("method") == "GET")
    assert(r.getAs[String]("file") == "/media/promo/clip01.rm")
    assert(r.getAs[String]("proto") == "RTSP/1.0")
    val n = Style5.parsed(one(style5Line)).select("name", "path").head()
    assert(n.getString(0) == "clip01.rm")
    assert(n.getString(1) == "/media/promo")
  }

  test("P10: query string truncated at extension (real_parse.pl:125)") {
    val r = TestSpark.spark.range(1).select(
      Style5.fileName(lit("/a/clip.rm?start=0")),
      Style5.fileName(lit("/")), Style5.filePath(lit("/")),
      Style5.fileName(lit(""))).head()
    assert(r.getString(0) == "clip.rm")
    assert(r.getString(1) == "")   // bare "/" → ("","")
    assert(r.getString(2) == "")
    assert(r.getString(3) == "")
  }

  test("P3/P4/P6: numeric binding with head-drop heuristic") {
    val r = one(tricky).select(Style5.dropHead(Style5Scan(col("line"))("tokens"))).head()
    val arr = r.getSeq[String](0)
    assert(arr.head == "200", s"head-drop failed: $arr") // "612" dropped
    assert(arr(1) == "999")
    assert(arr.takeRight(6) == Seq("999", "180", "164", "5", "1", "41"))
  }

  test("P6: variable middle absorbed — last six bind from the end") {
    val r = one(style5Line).select(Style5.dropHead(Style5Scan(col("line"))("tokens"))).head()
    val arr = r.getSeq[String](0)
    assert(arr.take(2) == Seq("200", "1482931"))
    assert(arr.takeRight(6) == Seq("1482931", "180", "164", "5", "1", "41"))
  }

  test("reject lane: Style5.wellFormed splits every line into exactly one lane under ANSI") {
    import spark.implicits._
    // past Long.MaxValue, and not a head-drop token (those start with 6 or 9)
    val twenty = "12345678901234567890"
    // in the stats middle a 20-digit token is absorbed: no slot binds it
    // fewer than three brackets: the first line has no guid bracket,
    // the second no client-info bracket either; a missing one binds
    // NULL instead of throwing
    val twoBrackets = "1.2.3.4 - - [13/Oct/2002:09:04:38 -0700] " +
      "\"GET /m/clip.rm RTSP/1.0\" 200 999 [i] 999 180 164 5 1 41"
    val oneBracket = twoBrackets.replace("[i] ", "")
    val good = Seq(style5Line, tricky, style5Line.replace("[Stat1: 1042 ", s"[Stat1: $twenty "),
      twoBrackets, oneBracket)
    val bad = Seq(
      style5Line.take(style5Line.indexOf('"') - 3),             // cut before the request
      "10.0.1.7 - - [13/Oct/2002:09:04:38 -0700] \"GET /web/v7/t3.wmv HTTP/1.1\" " +
        "206 1482 \"-\" \"Windows-Media-Player/3.0\"",         // combined format
      "",                                                        // blank
      style5Line.replaceFirst("\\[[^\\]]*\\]", "[2024-01-01T00:00:00Z]"), // ISO timestamp
      "1.2.3.4 - - [13/Oct/2002:09:04:38 -0700] " +              // 7 numeric tokens
        "\"GET /m/clip.rm RTSP/1.0\" 200 999 [i] [g] 180 164 5 1 41",
      // the shape admits these timestamps, but they do not parse
      style5Line.replace("13/Oct/2002:09", "01/Ocu/2024:09"),
      style5Line.replace("13/Oct/2002:09", "13/Oct/2002:29"),
      style5Line.replace("13/Oct/2002:09", "99/Oct/2002:09"),
      // a token past the long range in a bound slot: status, bytes,
      // file_size, presentation_id (and after a head drop)
      style5Line.replace("\" 200 ", s"\" $twenty "),
      style5Line.replace(" 1482931 [", s" $twenty ["),
      style5Line.replace("] 1482931 180", s"] $twenty 180"),
      style5Line.stripSuffix(" 41") + s" $twenty",
      tricky.replace(" 200 999 ", s" 200 $twenty "))
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      // one line per frame, every parsed column collected: each line
      // lands in exactly one lane and no field expression throws
      def lanes(l: String): (Int, Int) = {
        val in = Seq(l).toDF("value")
        val n = StreamEtl.parseLines(in).collect().length
        assert(Style5.accepted(in.withColumnRenamed("value", "line")).collect().length == n)
        (n, StreamEtl.rejectedLines(in).collect().length)
      }
      good.foreach(l => assert(lanes(l) == (1, 0), s"good line not parsed: $l"))
      bad.foreach(l => assert(lanes(l) == (0, 1), s"bad line not rejected: '$l'"))
      // all together: the lanes partition the input
      val all = (good ++ bad).toDF("value")
      val parsed = StreamEtl.parseLines(all).collect()
      val rejected = StreamEtl.rejectedLines(all).collect().map(_.getString(0))
      assert(parsed.map(_.getAs[String]("client_ip_address")).sorted.toSeq ==
        Seq("1.2.3.4", "1.2.3.4", "1.2.3.4", "66.31.5.190", "66.31.5.190"))
      assert(parsed.map(_.getAs[Long]("presentation_id")).toSeq == Seq.fill(5)(41L))
      assert(rejected.sorted.toSeq == bad.sorted)
      val brackets = Style5.accepted(Seq(twoBrackets, oneBracket).toDF("line"))
        .select("line", "client_info", "client_guid", "stat_blocks").collect()
        .map(r => r.getString(0) -> (Option(r.getString(1)), Option(r.getString(2)),
          r.getSeq[String](3))).toMap
      assert(brackets == Map(twoBrackets -> (Some("i"), None, Seq()),
        oneBracket -> (None, None, Seq())))
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("P7: bracket groups with stats at index >= 3") {
    val r = scanOf(style5Line)
    val b = r.getSeq[String](r.fieldIndex("brackets"))
    assert(b.length == 5)
    assert(b(3).startsWith("Stat1:") && b(4).startsWith("Stat2:"))
  }

  test("P13/P14: full Stat1 (6 fields) and Stat2 (12 fields) arity " +
       "(real_parse.pl:296-331)") {
    val stats = Seq(
      "Stat1: 1042 3 7 0 2 sipr",
      "Stat2: 225000 224000 226000 80000 198000 1050 1042 2 1.500 1 3 cook",
      "Stat1: 10 20 30 40 50",   // no audio_format → UNKNOWN
      "Stat3: raw 17 data")
    val df = spark.createDataFrame(
      java.util.List.of(stats.zipWithIndex.map { case (s, i) =>
        org.apache.spark.sql.Row(i.toLong, s) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("stat",
          org.apache.spark.sql.types.StringType))))
    val r = Style5.statFields(df).orderBy("event_id").collect()
    // Stat1 row: packets_received, out_of_order, missing, early, late, audio
    val s1 = r(0)
    assert(Seq("packets_received", "out_of_order", "missing", "early", "late")
      .map(c => s1.getLong(s1.fieldIndex(c))) == Seq(1042L, 3L, 7L, 0L, 2L))
    assert(s1.getString(s1.fieldIndex("audio_format")) == "sipr")
    // Stat2 row: all 11 numerics + audio
    val s2 = r(1)
    assert(Seq("bandwidth", "available", "highest", "lowest", "average",
               "requested", "received", "s2_late", "transport", "startup")
      .map(c => s2.getLong(s2.fieldIndex(c))) ==
      Seq(225000L, 224000L, 226000L, 80000L, 198000L, 1050L, 1042L, 2L, 1L, 3L))
    assert(s2.getDouble(s2.fieldIndex("rebuffering")) == 1.5)
    assert(s2.getString(s2.fieldIndex("audio_format")) == "cook")
    // missing audio_format → UNKNOWN; Stat1 fields null on Stat2 rows
    assert(r(2).getString(r(2).fieldIndex("audio_format")) == "UNKNOWN")
    assert(s2.isNullAt(s2.fieldIndex("packets_received")))
    assert(s1.isNullAt(s1.fieldIndex("bandwidth")))
    // Stat3 passthrough
    assert(r(3).getString(r(3).fieldIndex("raw_stat_text")) == "Stat3: raw 17 data")
  }

  test("parse_stats handles 0/1/2 stat blocks and UNKNOWN default") {
    val df = SparkEntry.queries("parse_stats")(spark, sf)
    val types = df.select("stat_type").distinct().collect().map(_.getString(0)).toSet
    assert(types.contains("Stat1") && types.contains("Stat2") && types.contains("Stat3"))
    assert(df.filter(col("audio_format") === "UNKNOWN").count() > 0)
  }

  test("P18: fast path parses plain lines, rejects space-in-filename lines") {
    val df = SparkEntry.queries("parse_fastpath")(spark, sf)
    // k%7==2 renders "clip 6<k>.rm" (embedded space): the positional
    // gate must reject exactly those lines
    val kept = df.count()
    val all = graft.parse.Style5.renderedLines(spark, sf).count()
    assert(kept > 0 && kept < all)
    // everything kept carries digit status and sane fields
    assert(df.filter(col("status_code").isNull || col("bytes_sent").isNull ||
      col("identuser") =!= "-").count() == 0)
    // and the fast path agrees with the regex parser on shared fields
    val full = SparkEntry.queries("parse_access")(spark, sf)
      .select(col("event_id"), col("client_ip_address").as("ip_full"))
    assert(df.join(full, "event_id")
      .filter(col("client_ip_address") =!= col("ip_full")).count() == 0)
  }

  test("parse_weblog keeps only .wma/.wmv lines (F2)") {
    val df = SparkEntry.queries("parse_weblog")(spark, sf)
    assert(df.filter(!col("name").rlike("\\.(wma|wmv)$")).count() == 0)
  }
}
