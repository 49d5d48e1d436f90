package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.parse.{Style5, WebLog}
import graft.streaming.StreamEtl

/** Property-based round trip (SURVEY.md §5.3): generate structured
  * log records, render them to style-5 lines with an INDEPENDENT
  * plain-Scala renderer (not the query-side render grammar), parse
  * with the Catalyst expression library, and require field equality.
  */
class PropertySpec extends AnyFunSuite {
  import TestSpark._
  import LineFuzz._

  test("style-5 render → parse round-trips every field") {
    val recsOpt = Gen.listOfN(300, recGen)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(42L))
    val recs = recsOpt.getOrElse(fail("generator produced no sample"))
    import scala.jdk.CollectionConverters._
        val df = spark.createDataFrame(
          recs.map(r => org.apache.spark.sql.Row(render(r), r.ip, r.method,
            r.dir, r.name, r.status.toLong, r.bytes,
            r.last6.mkString(","))).asJava,
          org.apache.spark.sql.types.StructType(Seq(
            ("line", org.apache.spark.sql.types.StringType),
            ("e_ip", org.apache.spark.sql.types.StringType),
            ("e_method", org.apache.spark.sql.types.StringType),
            ("e_dir", org.apache.spark.sql.types.StringType),
            ("e_name", org.apache.spark.sql.types.StringType),
            ("e_status", org.apache.spark.sql.types.LongType),
            ("e_bytes", org.apache.spark.sql.types.LongType),
            ("e_last6", org.apache.spark.sql.types.StringType)
          ).map { case (n, t) => org.apache.spark.sql.types.StructField(n, t) }))
        val parsed = Style5.parsed(df).select(
          col("e_ip"), col("e_method"), col("e_dir"), col("e_name"),
          col("e_status"), col("e_bytes"), col("e_last6"),
          col("client_ip_address").as("ip"),
          col("method"), col("path"), col("name"),
          col("status_code").as("status"),
          col("bytes_sent").as("bytes"),
          concat_ws(",", Seq("file_size", "file_time", "sent_time", "resends",
            "failed_resends", "presentation_id").map(col(_).cast("string")): _*).as("last6"),
          col("gmt_offset").as("off"))
        val bad = parsed.filter(
          col("ip") =!= col("e_ip") || col("method") =!= col("e_method") ||
          col("path") =!= col("e_dir") || col("name") =!= col("e_name") ||
          col("status") =!= col("e_status") || col("bytes") =!= col("e_bytes") ||
          col("last6") =!= col("e_last6") || col("off") =!= lit("0700"))
    val badRows = bad.collect()
    assert(badRows.isEmpty, s"round-trip mismatch: ${badRows.take(2).mkString("\n")}")
  }

  test("combined-log render → parse round-trips (web variant)") {
    val recs = Gen.listOfN(150, webGen)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L))
      .getOrElse(fail("generator produced no sample"))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      recs.map { case (r, ua, ext) =>
        org.apache.spark.sql.Row(renderWeb(r, ua, ext), r.ip, webName(r, ext),
          r.status.toLong, r.bytes, ua)
      }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        ("line", org.apache.spark.sql.types.StringType),
        ("e_ip", org.apache.spark.sql.types.StringType),
        ("e_name", org.apache.spark.sql.types.StringType),
        ("e_status", org.apache.spark.sql.types.LongType),
        ("e_bytes", org.apache.spark.sql.types.LongType),
        ("e_ua", org.apache.spark.sql.types.StringType)
      ).map { case (n, t) => org.apache.spark.sql.types.StructField(n, t) }))
    val parsed = graft.parse.WebLog.parsed(df).select(col("e_ip"), col("e_name"),
      col("e_status"), col("e_bytes"), col("e_ua"),
      col("client_ip_address").as("ip"), col("name"),
      col("status_code").as("status"), col("bytes_sent").as("bytes"),
      col("client_info").as("ua"))
    // every generated line is a well-formed .wmv/.wma line: the gate keeps all
    assert(parsed.count() == recs.size, "the web gate dropped a well-formed line")
    val bad = parsed.filter(
      col("ip") =!= col("e_ip") || col("name") =!= col("e_name") ||
      col("status") =!= col("e_status") || col("bytes") =!= col("e_bytes") ||
      col("ua") =!= col("e_ua")).collect()
    assert(bad.isEmpty, s"web round-trip mismatch: ${bad.take(2).mkString("\n")}")
  }

  test("timestamp parse matches the rendered wall clock") {
    val line = "1.2.3.4 - - [15/Mar/2002:13:45:59 -0800] \"GET /a/b.rm RTSP/1.0\" 200 5 [i] [g] 5 1 1 1 1 1"
    val r = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(line)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("line",
          org.apache.spark.sql.types.StringType))))
      .transform(Style5.parsed).select(col("datetime").cast("string")).head()
    // offset captured but NOT applied — log-local time is canonical
    assert(r.getString(0) == "2002-03-15 13:45:59")
  }

  test("cdc chunking re-synchronizes after random edits (property)") {
    import spark.implicits._
    // For ANY base text and ANY prefix edit, the two versions must
    // share (almost) all chunks of the unchanged run: boundaries are
    // content-defined, so alignment recovers within one chunk of the
    // edit point. Generated cases, one Spark job for all of them.
    val textGen = Gen.listOfN(60, word).map(_.mkString(" "))
    val editGen = Gen.listOfN(4, word).map(_.mkString(" "))
    val cases = (1 to 8).flatMap { i =>
      val t = textGen.sample.getOrElse("fallback text only")
      val e = editGen.sample.getOrElse("edit")
      Seq((s"c$i", t), (s"c$i", e + " " + t))
    }
    val out = graft.ext.Dedup.cdcChunksOf(cases.toDF("source", "text")).collect()
    out.foreach { r =>
      val (n, dup) = (r.getLong(1), r.getLong(4))
      // each version has ~n/2 chunks; all but the few around the edit
      // must coincide, so the duplicated mass is ~n/2 minus slack
      assert(dup * 2 >= n - 8,
        s"${r.getString(0)}: only $dup of $n chunks re-synced — " +
          "boundaries did not recover after the edit")
    }
  }

  test("mutated style-5 lines: each lands in parseLines or rejectedLines exactly once, " +
       "nothing throws under ANSI") {
    // one to three mutations per line (truncation, unbalanced
    // brackets, non-UTF-8 bytes, ~1 MB growth, stray stat blocks,
    // digit/letter swaps in the timestamp, 19-25 digit tokens, a
    // dropped bracket group); a fifth of the lines stay valid
    val (lines, valid) = corpus(recGen, render, 400, 2718L)
    val file = writeLines(lines, "graft_fuzz")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val text = spark.read.text(file)
      assert(text.count() == lines.size, "the text source split or merged lines")
      // collect every parsed field: a throwing cast or element_at fails here
      val accepted = Style5.accepted(text.withColumnRenamed("value", "line")).collect()
      val parsed = StreamEtl.parseLines(text).collect()
      val rejected = StreamEtl.rejectedLines(text).collect()
      assert(accepted.length == parsed.length, "parseLines and Style5.accepted disagree")
      // a dropped bracket group reaches the lane with no guid bracket
      assert(accepted.exists(r => r.isNullAt(r.fieldIndex("client_guid"))),
        "no accepted line lacks the guid bracket")
      assert(parsed.length + rejected.length == lines.size,
        s"parsed ${parsed.length} + rejected ${rejected.length} != ${lines.size} lines")
      // no valid line is rejected, and the mutations reach both lanes
      assert(rejected.forall(r => !valid.contains(r.getString(0))), "a valid line was rejected")
      assert(parsed.length > valid.size && rejected.nonEmpty,
        s"weak mutations: ${parsed.length} parsed, ${rejected.length} rejected, ${valid.size} valid")
      assert(parsed.forall(r => r.getAs[java.sql.Timestamp]("datetime") != null),
        "a parsed line has no datetime")
      // the timestamp swaps and long tokens reach lines that the shape
      // and the token count alone would admit, and would throw on
      val shapeOnly = text.filter(Style5Regex.shapeGate(col("value")) &&
        !Style5.wellFormed(col("value"))).count()
      assert(shapeOnly > 0, "no mutation reached the timestamp or long-slot checks")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("mutated combined-format lines: each lands in parseWebLines or the reject lane " +
       "exactly once, nothing throws under ANSI") {
    val (lines, valid) = corpus(webGen, (renderWeb _).tupled, 400, 3141L)
    val file = writeLines(lines, "graft_webfuzz")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val text = spark.read.text(file)
      assert(text.count() == lines.size, "the text source split or merged lines")
      // collect every parsed field
      val parsed = WebLog.parsed(text.withColumnRenamed("value", "line")).collect()
      val rejected = text.filter(!WebLog.wellFormed(col("value"))).collect()
      assert(StreamEtl.parseWebLines(text).count() == parsed.length,
        "parseWebLines and WebLog.parsed disagree")
      assert(parsed.length + rejected.length == lines.size,
        s"parsed ${parsed.length} + rejected ${rejected.length} != ${lines.size} lines")
      assert(rejected.forall(r => !valid.contains(r.getString(0))), "a valid line was rejected")
      assert(parsed.length > valid.size && rejected.nonEmpty,
        s"weak mutations: ${parsed.length} parsed, ${rejected.length} rejected, ${valid.size} valid")
      assert(parsed.forall(r => r.getAs[java.sql.Timestamp]("datetime") != null &&
        !r.isNullAt(r.fieldIndex("bytes_sent"))), "a parsed line has no datetime or bytes")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }
}
