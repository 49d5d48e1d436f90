package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.parse.Style5

/** Property-based round trip (SURVEY.md §5.3): generate structured
  * log records, render them to style-5 lines with an INDEPENDENT
  * plain-Scala renderer (not the query-side render grammar), parse
  * with the Catalyst expression library, and require field equality.
  */
class PropertySpec extends AnyFunSuite {
  import TestSpark._

  case class Rec(ip: String, ts: String, method: String, dir: String,
                 name: String, query: String, status: Int, bytes: Long,
                 cinfo: String, nStats: Int, last6: Seq[Long])

  private val word = Gen.alphaLowerStr.map(_.take(8)).suchThat(_.nonEmpty)

  private val recGen: Gen[Rec] = for {
    o1 <- Gen.choose(1, 254); o2 <- Gen.choose(0, 254)
    o3 <- Gen.choose(0, 254); o4 <- Gen.choose(1, 254)
    mon <- Gen.oneOf("Jan", "Feb", "Mar", "Apr", "May", "Jun",
                     "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
    day <- Gen.choose(10, 28); h <- Gen.choose(10, 23)
    mi <- Gen.choose(10, 59); se <- Gen.choose(10, 59)
    method <- Gen.oneOf("GET", "POST", "DESCRIBE")
    d1 <- word; d2 <- word
    nm <- word
    // sometimes a space-digit token starting with 6 → P4 head-drop case
    tricky <- Gen.oneOf(true, false)
    trickyDigits <- Gen.choose(10, 99)
    q <- Gen.oneOf("", "?start=0", "?a=b&c=d")
    status <- Gen.choose(200, 599).suchThat(s => s / 100 != 6)
    bytes <- Gen.choose(0L, 5000000000L)   // > 2^31: bytes_sent must be long
    cinfo <- Gen.oneOf(
      "WinNT_5.1_6.0.11.818_play32_RN01_EN_586_0",
      "Linux_2.4_6.0.9.20_play32_RN01_DE_686_1",
      "QTS (qtver=6.5;os=Mac 10.1.5)")
    nStats <- Gen.choose(0, 2)
    l6 <- Gen.listOfN(6, Gen.choose(0L, 100000L))
  } yield Rec(s"$o1.$o2.$o3.$o4", s"$day/$mon/2002:$h:$mi:$se", method,
    s"/$d1/$d2",
    (if (tricky) s"clip 6$trickyDigits " else "clip") + nm + ".rm", q,
    status, bytes, cinfo, nStats, l6)

  private def render(r: Rec): String = {
    val stats = (0 until r.nStats).map {
      case 0 => " [Stat1: 10 2 3 4 5 sipr]"
      case _ => " [Stat2: 1 2 3 4 5 6 7 8 9.125 10 11 cook]"
    }.mkString
    s"${r.ip} - - [${r.ts} -0700] \"${r.method} ${r.dir}/${r.name}${r.query} " +
      s"RTSP/1.0\" ${r.status} ${r.bytes} [${r.cinfo}] [abc-def-123]" +
      s"$stats ${r.last6.mkString(" ")}"
  }

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
    val webGen = for {
      r <- recGen
      ua <- Gen.oneOf("Windows-Media-Player/9.0", "Mozilla/4.0 (compatible)")
      ext <- Gen.oneOf(".wmv", ".wma")
    } yield (r, ua, ext)
    val recs = Gen.listOfN(150, webGen)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(7L))
      .getOrElse(fail("generator produced no sample"))
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(
      recs.map { case (r, ua, ext) =>
        val nm = r.name.replace(".rm", ext)
        val line = s"${r.ip} - - [${r.ts} -0700] \"GET ${r.dir}/$nm HTTP/1.1\" " +
          s"${r.status} ${r.bytes} \"-\" \"$ua\""
        org.apache.spark.sql.Row(line, r.ip, nm, r.status.toLong, r.bytes, ua)
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
      .select(Style5.logTimestamp(col("line")).cast("string")).head()
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
}
