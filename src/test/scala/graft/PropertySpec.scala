package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.parse.Style5
import graft.streaming.StreamEtl

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

  /** One mutation of a valid style-5 line, applied to its bytes. */
  private sealed trait Mutation { def apply(line: Array[Byte]): Array[Byte] }
  private case class Truncate(at: Double) extends Mutation {
    def apply(l: Array[Byte]) = l.take((l.length * at).toInt)
  }
  /** Drops the `k`-th `[` (open) or `]` (close) of the line. */
  private case class Unbalance(open: Boolean, k: Int) extends Mutation {
    def apply(l: Array[Byte]) = {
      val at = l.indices.filter(i => l(i) == (if (open) '[' else ']').toByte)
      if (at.isEmpty) l else l.patch(at(k % at.size), Nil, 1)
    }
  }
  /** Overwrites bytes at relative offsets with bytes that are never
    * valid UTF-8 on their own (lone continuation or 0xF8..0xFF). */
  private case class NonUtf8(at: Seq[(Double, Int)]) extends Mutation {
    def apply(l: Array[Byte]) = {
      val out = l.clone()
      at.foreach { case (p, b) => if (out.nonEmpty) out(((out.length - 1) * p).toInt) = b.toByte }
      out
    }
  }
  /** Grows the line to about 1 MB: a long query string on the request,
    * or a run of stat blocks before the numeric tail. */
  private case class Huge(inQuery: Boolean) extends Mutation {
    def apply(l: Array[Byte]) = {
      val s = new String(l, java.nio.charset.StandardCharsets.ISO_8859_1)
      val grown =
        if (inQuery) s.replaceFirst(" RTSP/1.0\"", "?q=" + ("a1b2" * 262144) + " RTSP/1.0\"")
        else s.replaceFirst("] (\\d)", "]" + (" [Stat1: 10 2 3 4 5 sipr]" * 42000) + " $1")
      grown.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
  }
  /** Inserts a `[Stat1: …]` block at a relative offset: inside the
    * request, a bracket or the numeric tail. */
  private case class StrayStat(at: Double, closed: Boolean) extends Mutation {
    def apply(l: Array[Byte]) = {
      val block = (if (closed) " [Stat1: 7 8 9 1 2 sipr] " else " [Stat1: 7 8 9 ").getBytes("US-ASCII")
      val i = (l.length * at).toInt
      l.take(i) ++ block ++ l.drop(i)
    }
  }

  private val mutationGen: Gen[Mutation] = Gen.frequency(
    3 -> Gen.choose(0.0, 1.0).map(Truncate),
    3 -> (for { o <- Gen.oneOf(true, false); k <- Gen.choose(0, 5) } yield Unbalance(o, k)),
    3 -> Gen.nonEmptyListOf(Gen.zip(Gen.choose(0.0, 1.0),
      Gen.oneOf(Gen.choose(0x80, 0xBF), Gen.choose(0xF8, 0xFF)))).map(NonUtf8),
    1 -> Gen.oneOf(true, false).map(Huge),
    3 -> Gen.zip(Gen.choose(0.0, 1.0), Gen.oneOf(true, false)).map(StrayStat.tupled))

  test("mutated style-5 lines: each lands in parseLines or rejectedLines exactly once, " +
       "nothing throws under ANSI") {
    // one to three mutations per line; a fifth of the lines stay valid
    val caseGen = for {
      r <- recGen
      n <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 3))
      ms <- Gen.listOfN(n, mutationGen)
    } yield (r, ms)
    val cases = Gen.listOfN(400, caseGen)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(2718L))
      .getOrElse(fail("generator produced no sample"))
    // ~1 MB growth only on every hundredth line, plus one of each
    // kind on a valid line, keeps the file a few MB
    val lines = cases.zipWithIndex.map { case ((r, ms), i) =>
      val kept = if (i % 100 == 0) ms else ms.filterNot(_.isInstanceOf[Huge])
      kept.foldLeft(render(r).getBytes("UTF-8"))((l, m) => m(l))
    } ++ Seq(Huge(true), Huge(false)).map(_(render(cases.head._1).getBytes("UTF-8")))
    assert(lines.forall(l => !l.contains('\n'.toByte) && !l.contains('\r'.toByte)))
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzz")
    val file = dir.resolve("fuzz.log")
    val bytes = new java.io.ByteArrayOutputStream()
    lines.foreach { l => bytes.write(l); bytes.write('\n') }
    java.nio.file.Files.write(file, bytes.toByteArray)

    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val text = spark.read.text(file.toString)
      assert(text.count() == lines.size, "the text source split or merged lines")
      // collect every parsed field: a throwing cast or element_at fails here
      val parsed = StreamEtl.parseLines(text).collect()
      val rejected = StreamEtl.rejectedLines(text).collect()
      assert(parsed.length + rejected.length == lines.size,
        s"parsed ${parsed.length} + rejected ${rejected.length} != ${lines.size} lines")
      // no valid line is rejected, and the mutations reach both lanes
      val valid = cases.filter(_._2.isEmpty).map(c => render(c._1))
      assert(rejected.forall(r => !valid.contains(r.getString(0))), "a valid line was rejected")
      assert(parsed.length > valid.size && rejected.nonEmpty,
        s"weak mutations: ${parsed.length} parsed, ${rejected.length} rejected, ${valid.size} valid")
      assert(parsed.forall(r => r.getAs[java.sql.Timestamp]("datetime") != null),
        "a parsed line has no datetime")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }
}
