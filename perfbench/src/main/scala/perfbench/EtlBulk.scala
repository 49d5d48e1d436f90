package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.etl.StarEtl
import graft.model.Tables
import graft.parse.{Style5, WebLog}
import graft.sources.LogSources
import graft.streaming.StreamEtl

/** etl_bulk: the RealParse cron job over a seeded rotated-log directory.
  *
  * Inputs (written once per seed and size, under a `_SUCCESS` marker):
  * the first `base` events of the seeded events table rendered by
  * `Style5.renderedLinesFrom` into RealServer style-5 rotations, with
  * malformed lines injected and the last line of each rotation repeated
  * at the head of the next (a duplicate at the boundary second); one
  * Caudium lane rendered by `WebLog.renderedLines` (every fifth base
  * event, two files); and small rotations rendered from the events
  * after the base set, each again opening with its predecessor's last
  * line.
  *
  * One pass, on fresh output and checkpoint directories:
  *   1. sources   list the log directories, then read every rotation;
  *   2. parse     account for every line (parsed + rejected == in) and
  *                parse the web lane;
  *   3. etl       `StarEtl.runBatch` over the events table (7 tables);
  *   4. streaming a cold `ingestStream` + `ingestWebStream` drain of the
  *                whole set, then each small rotation is renamed into
  *                the log directory and drained; its latency, from the
  *                rename to the committed batch, is the pass's request.
  * Every pass checks its line accounting, row counts and drained rows;
  * the first (the untimed warm-up) also checks the star tables'
  * checksums against `StarEtl.starSummary`. */
final class EtlBulk(ctx: Ctx, eventsDir: String) extends Workload {
  private val spark = ctx.spark
  import EtlBulk.{Base, Rotations, TickLines, Ticks, tickName}
  private val logs = s"$eventsDir/logs"
  private val s5Pattern = "rmaccess\\..*"
  private val webPattern = "access_log\\..*"
  private var meta: Map[String, Double] = Map.empty
  /** `StarEtl.starSummary` over the events table: (rows, checksum) by table. */
  private var summary: Map[String, (Long, Long)] = Map.empty
  private var checkStar = true

  def prepare(): Unit = {
    if (!Files.exists(Paths.get(s"$logs/_SUCCESS"))) {
      EtlBulk.delete(Paths.get(logs))
      generate()
      Files.createFile(Paths.get(s"$logs/_SUCCESS"))
    }
    meta = loadMeta()
    summary = StarEtl.starSummary(spark, eventsDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  override def warmPasses: Int = 1

  def pass(i: Int): Pass = cycle()

  override def finish(): Unit = EtlBulk.delete(Paths.get(s"${ctx.work}/cycle"))

  override def extra: Map[String, Any] = {
    val m = meta
    Map("inputs" -> Map(
      "lines" -> m("lines"),
      "malformed_share" -> m("malformed") / m("lines"),
      "duplicate_share" -> m("duplicates") / m("lines"),
      "stat_blocks_per_line" -> m("stat_blocks") / m("lines"),
      "stat_blocks_share_0_to_3" -> (0 to 3).map(k => m(s"stat_blocks_$k") / m("lines")),
      "web_line_share" -> m("web_lines") / (m("lines") + m("web_lines")),
      "bytes" -> m("bytes"), "web_bytes" -> m("web_bytes"),
      "events" -> (Base + Ticks * TickLines), "rotations" -> Rotations,
      "ticks" -> Ticks, "tick_lines" -> (TickLines + 1)))
  }

  // ---------------------------------------------------------------
  // inputs
  // ---------------------------------------------------------------

  private def lines(df: DataFrame): IndexedSeq[String] =
    df.select(col("event_id"), col("line")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).map(_._2).toIndexedSeq

  private def write(p: String, ls: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(p).getParent)
    Files.write(Paths.get(p), ls.map(_ + "\n").mkString.getBytes(UTF_8))
  }

  /** Four kinds of line no style-5 parser may accept: cut before the
    * request, a foreign (combined-format) line, a blank line, and an
    * ISO timestamp where the bracketed style-5 one belongs. */
  private def malformed(rng: scala.util.Random, line: String, web: String): String =
    rng.nextInt(4) match {
      case 0 => line.take(5 + rng.nextInt(math.max(1, line.indexOf('"') - 5)))
      case 1 => web
      case 2 => ""
      case _ => line.replaceFirst("\\[[^\\]]*\\]", "[2024-01-01T00:00:00Z]")
    }

  private def generate(): Unit = {
    val rendered = lines(Style5.renderedLinesFrom(
      Tables.events(spark, eventsDir).repartition(ctx.cores)))
    val web = lines(WebLog.renderedLines(spark, eventsDir)
      .filter(col("event_id") < Base && col("event_id") % 5 === 0))
    require(rendered.size >= Base + Ticks * TickLines, "events table too small")
    val rng = new scala.util.Random(ctx.seed)
    val per = Base / Rotations
    var bad = 0
    val files = (0 until Rotations).map { r =>
      val body = rendered.slice(r * per, (r + 1) * per).flatMap { l =>
        if (rng.nextDouble() < EtlBulk.MalformedShare) {
          bad += 1
          Seq(l, malformed(rng, l, web(rng.nextInt(web.size))))
        } else Seq(l)
      }
      if (r == 0) body else rendered(r * per - 1) +: body
    }
    files.zipWithIndex.foreach { case (ls, r) => write(f"$logs/s5/rmaccess.log.$r%03d", ls) }
    val half = web.size / 2
    write(s"$logs/web/access_log.000", web.take(half))
    write(s"$logs/web/access_log.001", web.drop(half))
    (0 until Ticks).foreach { t =>
      val from = Base + t * TickLines
      write(s"$logs/ticks/${tickName(t)}",
        rendered(from - 1) +: rendered.slice(from, from + TickLines))
    }
    val all = files.flatten
    val statBlocks = all.map(l => "\\[Stat[123]:".r.findAllMatchIn(l).size)
    val props = new java.util.Properties()
    (Map(
      "lines" -> all.size.toLong, "malformed" -> bad.toLong,
      "duplicates" -> (Rotations - 1).toLong,
      "web_lines" -> web.size.toLong,
      "web_media_lines" -> web.count(l => l.contains(".wma") || l.contains(".wmv")).toLong,
      "stat_blocks" -> statBlocks.sum.toLong,
      "bytes" -> all.map(_.getBytes(UTF_8).length + 1L).sum,
      "web_bytes" -> web.map(_.getBytes(UTF_8).length + 1L).sum) ++
      (0 to 3).map(k => s"stat_blocks_$k" -> statBlocks.count(_ == k).toLong)
    ).foreach { case (k, v) => props.setProperty(k, v.toString) }
    val out = Files.newOutputStream(Paths.get(s"$logs/meta.properties"))
    try props.store(out, "etl_bulk inputs") finally out.close()
  }

  private def loadMeta(): Map[String, Double] = {
    val props = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(s"$logs/meta.properties"))
    try props.load(in) finally in.close()
    props.asScala.map { case (k, v) => k -> v.toDouble }.toMap
  }

  // ---------------------------------------------------------------
  // one pass
  // ---------------------------------------------------------------

  private def link(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    new File(from).listFiles().sortBy(_.getName).foreach { f =>
      val dst = Paths.get(to, f.getName)
      try Files.createLink(dst, f.toPath)
      catch { case _: UnsupportedOperationException | _: java.io.IOException => Files.copy(f.toPath, dst) }
    }
  }

  private def dirBytes(p: String): Long =
    Files.walk(Paths.get(p)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum

  /** Await an AvailableNow drain; return its summed progress. */
  private def drain(q: StreamingQuery): Map[String, Double] = {
    q.awaitTermination()
    val ps = q.recentProgress.toSeq
    def dur(k: String) =
      ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    Map(
      "batches" -> ps.count(_.numInputRows > 0).toDouble,
      "input_rows" -> ps.map(_.numInputRows.toDouble).sum,
      "state_rows" -> ps.lastOption
        .map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "add_batch_ms" -> dur("addBatch"), "latest_offset_ms" -> dur("latestOffset"),
      "planning_ms" -> dur("queryPlanning"),
      "commit_ms" -> (dur("commitOffsets") + dur("walCommit")))
  }

  private def streamLayer(pr: Map[String, Double]): Unit =
    Seq("batches", "input_rows", "state_rows", "add_batch_ms", "latest_offset_ms",
      "planning_ms", "commit_ms").foreach(k => ctx.addLayer(s"streaming.$k", pr(k)))

  private def cycle(): Pass = {
    val m = meta
    val dir = s"${ctx.work}/cycle"
    EtlBulk.delete(Paths.get(dir))
    link(s"$logs/s5", s"$dir/logs")
    link(s"$logs/web", s"$dir/web")

    // 1. sources
    val (files, listS) = ctx.timed("sources.list") {
      LogSources.logDirFiles(spark, s"$dir/logs", s5Pattern) ++
        LogSources.logDirFiles(spark, s"$dir/web", webPattern)
    }
    val (s5Files, webFiles) = files.partition(_.contains("rmaccess"))
    ctx.addLayer("sources.list_s", listS)
    ctx.addLayer("sources.files", files.size)
    ctx.addLayer("sources.bytes", (dirBytes(s"$dir/logs") + dirBytes(s"$dir/web")).toDouble)

    // 2. parse: every line parsed or rejected
    val inObs, okObs, webObs = Observation()
    val (rejected, parseS) = ctx.timed("parse.style5") {
      val lines = LogSources.readRotatedLogs(spark, s"$dir/logs", s5Pattern, s5Files.size)
      StreamEtl.parseLines(lines.observe(inObs, count(lit(1)).as("n")))
        .observe(okObs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      StreamEtl.rejectedLines(lines).count()
    }
    val linesIn = inObs.get("n").asInstanceOf[Long]
    val parsed = okObs.get("n").asInstanceOf[Long]
    val (_, webS) = ctx.timed("parse.web") {
      StreamEtl.parseWebLines(spark.read.text(webFiles: _*))
        .observe(webObs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
    }
    ctx.check("parse.accounted", parsed + rejected == linesIn,
      s"parsed $parsed + rejected $rejected != in $linesIn")
    ctx.check("parse.lines_in", linesIn == m("lines").toLong, s"in $linesIn")
    ctx.check("parse.rejected", rejected == m("malformed").toLong,
      s"rejected $rejected, injected ${m("malformed")}")
    ctx.check("parse.web", webObs.get("n").asInstanceOf[Long] == m("web_media_lines").toLong)
    Seq("parse.s" -> parseS, "parse.lines_in" -> linesIn.toDouble,
      "parse.parsed" -> parsed.toDouble, "parse.rejected" -> rejected.toDouble,
      "parse.web_s" -> webS).foreach { case (k, v) => ctx.addLayer(k, v) }

    // 3. etl: the 7-table star write
    val (rows, etlS) = ctx.timed("etl.runBatch") {
      StarEtl.runBatch(spark, eventsDir, s"$dir/star")
    }
    ctx.check("etl.rows", summary.forall { case (t, (n, _)) => rows.get(t).contains(n) },
      s"rows $rows, starSummary $summary")
    if (checkStar) {
      checkStar = false
      val ck = EtlBulk.checksums(spark, s"$dir/star")
      ctx.check("etl.checksums", summary.forall { case (t, (_, c)) => ck.get(t).contains(c) },
        s"written $ck, starSummary $summary")
    }
    ctx.addLayer("etl.s", etlS)
    rows.foreach { case (t, n) => ctx.addLayer(s"etl.rows.$t", n.toDouble) }
    ctx.addLayer("etl.bytes_out", dirBytes(s"$dir/star").toDouble)

    // 4. streaming: the cold full drain, then the small rotations
    val (ck5, out5) = (s"$dir/ckpt/s5", s"$dir/out/s5")
    val ((p5, pw), fullS) = ctx.timed("streaming.full") {
      val p5 = drain(StreamEtl.ingestStream(spark, s"$dir/logs/rmaccess.*", ck5, out5))
      val pw = drain(StreamEtl.ingestWebStream(spark, s"$dir/web/access_log.*",
        s"$dir/ckpt/web", s"$dir/out/web"))
      (p5, pw)
    }
    ctx.addLayer("streaming.full_s", fullS)
    streamLayer(p5)
    streamLayer(pw)
    val incr = (0 until Ticks).map { t =>
      val tmp = Paths.get(s"$dir/logs/.landing")
      Files.copy(Paths.get(s"$logs/ticks/${tickName(t)}"), tmp)
      val (pr, sec) = ctx.timed("streaming.incr") {
        Files.move(tmp, Paths.get(s"$dir/logs/${tickName(t)}"), StandardCopyOption.ATOMIC_MOVE)
        drain(StreamEtl.ingestStream(spark, s"$dir/logs/rmaccess.*", ck5, out5))
      }
      val reread = pr("input_rows") - (TickLines + 1)
      ctx.check("streaming.reread", reread == 0, s"tick $t re-read $reread rows")
      ctx.addLayer("streaming.incr_s", sec)
      ctx.addLayer("streaming.reread_rows", reread)
      streamLayer(pr)
      ctx.sample("streaming.incr_s", sec)
      sec
    }
    val drained = spark.read.parquet(out5).count()
    val expected = m("lines").toLong - m("malformed").toLong - m("duplicates").toLong +
      Ticks.toLong * TickLines
    ctx.check("streaming.drained", drained == expected, s"drained $drained, expected $expected")
    val drainedWeb = spark.read.parquet(s"$dir/out/web").count()
    ctx.check("streaming.drained_web", drainedWeb == m("web_media_lines").toLong,
      s"drained $drainedWeb, expected ${m("web_media_lines")}")
    Seq("sources.list_s" -> listS, "parse.s" -> parseS, "parse.web_s" -> webS,
      "etl.s" -> etlS, "streaming.full_s" -> fullS,
      "streaming.lines_per_s" -> (m("lines") + m("web_lines")) / fullS)
      .foreach { case (k, v) => ctx.sample(k, v) }
    Pass(incr, listS + parseS + webS + etlS + fullS + incr.sum)
  }
}

object EtlBulk {
  val Base = 24000
  val Rotations = 4
  val Ticks = 3
  val TickLines = 1200

  def tickName(t: Int): String = f"rmaccess.log.${Rotations + t}%03d"
  val MalformedShare = 0.005

  def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  /** The same seven (table, checksum) pairs `StarEtl.starSummary`
    * computes, taken over the tables `runBatch` wrote. */
  def checksums(spark: SparkSession, dir: String): Map[String, Long] = {
    def sumOf(t: String, c: org.apache.spark.sql.Column): Long =
      spark.read.parquet(s"$dir/$t").agg(sum(c).cast("long")).head().getLong(0)
    // starSummary checks the hub row by its status code, which the
    // access table keeps in its file satellite: join them on line_id
    val access = spark.read.parquet(s"$dir/access").select("line_id")
      .join(spark.read.parquet(s"$dir/file").select("line_id", "status_code"), "line_id")
      .agg(sum(col("status_code")).cast("long")).head().getLong(0)
    Map(
      "access" -> access,
      "file" -> sumOf("file", col("bytes_sent")),
      "client" -> sumOf("client", length(col("client_info"))),
      "network" -> sumOf("network", col("resends")),
      "stats_mask1" -> sumOf("stats_mask1", col("packets_received") + col("out_of_order") +
        col("missing") + col("early") + col("late")),
      "stats_mask2" -> sumOf("stats_mask2", col("bandwidth") + col("available") +
        col("highest") + col("lowest") + col("average") + col("requested") +
        col("received") + col("late") + col("transport") + col("startup") +
        floor(col("rebuffering") * 10 + 0.5).cast("long")),
      "stats_mask3" -> sumOf("stats_mask3", length(col("raw_stat_text"))))
  }
}
