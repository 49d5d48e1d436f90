package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.scalatest.funsuite.AnyFunSuite
import graft.parse.Style5
import graft.streaming.StreamEtl

/** Streaming parity tests (SURVEY.md §5.4): file-source incremental
  * pickup (S2/F1 semantics) and exactly-once across restarts. */
class StreamSpec extends AnyFunSuite {
  import TestSpark._

  test("ingestStream parses a rotated file once and only once") {
    val base = Files.createTempDirectory("graft_stream").toString
    val in = s"$base/in"; val cp = s"$base/cp"; val out = s"$base/out"
    new java.io.File(in).mkdirs()

    // "rotate" file 1: first 300 rendered lines
    val lines = Style5.renderedLines(spark, sf).cache()
    lines.filter(col("event_id") < 300).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f1")
    StreamEtl.ingestStream(spark, s"$in/*", cp, out).awaitTermination()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == 300, s"expected 300 rows, got $n1")

    // "rotate" file 2: next 200 lines; restart picks up ONLY the new file
    lines.filter(col("event_id") >= 300 && col("event_id") < 500).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f2")
    StreamEtl.ingestStream(spark, s"$in/*", cp, out).awaitTermination()
    val n2 = spark.read.parquet(out).count()
    assert(n2 == 500, s"expected 500 rows after second rotation, got $n2")

    // parsed fields match the batch parser on the same universe
    val streamed = spark.read.parquet(out)
    val batch = SparkEntry.queries("parse_file")(spark, sf)
      .filter(col("event_id") < 500)
    assert(streamed.agg(sum("bytes_sent")).head().getLong(0) ==
           batch.agg(sum("bytes_sent")).head().getLong(0))
  }

  test("ingestStream survives malformed lines (no poison-file crash loop)") {
    val base = Files.createTempDirectory("graft_poison").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val good = Style5.renderedLines(spark, sf).filter(col("event_id") < 100)
    good.select("line").coalesce(1).write.mode("overwrite").text(s"$in/f1")
    // a rotated file with truncated partial writes mixed in
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/f1/poison.txt"),
      "10.0.0.1 - - [13/Oc\n\n10.1.2.3 - - [13/Oct/2002:09:04:38 -0700] \"GET\n")
    StreamEtl.ingestStream(spark, s"$in/*", s"$base/cp", s"$base/out")
      .awaitTermination()
    assert(spark.read.parquet(s"$base/out").count() == 100) // good rows only
    // and the quarantine lane sees exactly the bad ones
    val rejects = StreamEtl.rejectedLines(spark.read.text(s"$in/f1"))
    assert(rejects.count() == 3) // 2 truncated + 1 blank
  }

  test("ingestWebStream: checkpointed rotation pickup, exactly-once, " +
       "batch parity (web format)") {
    val base = Files.createTempDirectory("graft_webstream").toString
    val in = s"$base/in"; val cp = s"$base/cp"; val out = s"$base/out"
    new java.io.File(in).mkdirs()
    val lines = graft.parse.WebLog.renderedLines(spark, sf).cache()

    // rotation 1: first 300 lines (F2 keeps only the wma/wmv subset)
    lines.filter(col("event_id") < 300).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f1")
    StreamEtl.ingestWebStream(spark, s"$in/*", cp, out).awaitTermination()
    val batch1 = SparkEntry.queries("parse_weblog")(spark, sf)
      .filter(col("event_id") < 300)
    assert(spark.read.parquet(out).count() == batch1.count())

    // rotation 2: restart parses ONLY the new file — counts and sums
    // match the batch parser over the union, nothing double-loaded
    lines.filter(col("event_id") >= 300 && col("event_id") < 500).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f2")
    StreamEtl.ingestWebStream(spark, s"$in/*", cp, out).awaitTermination()
    val streamed = spark.read.parquet(out)
    val batch = SparkEntry.queries("parse_weblog")(spark, sf)
      .filter(col("event_id") < 500)
    assert(streamed.count() == batch.count())
    assert(streamed.agg(sum("bytes_sent")).head().getLong(0) ==
           batch.agg(sum("bytes_sent")).head().getLong(0))
    // web rows carry the server_type discriminator (F8)
    assert(streamed.filter(col("server_type") =!= 1).count() == 0)
  }

  test("parseWebLines ingests only well-formed wma/wmv lines") {
    val base = Files.createTempDirectory("graft_web").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    graft.parse.WebLog.renderedLines(spark, sf).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/f1/junk.txt"), "not a log .wmv line\n")
    val q = StreamEtl.parseWebLines(spark.readStream.text(s"$in/*"))
      .writeStream.format("memory").queryName("web_parsed")
      .option("checkpointLocation", s"$base/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("web_parsed")
    val batch = SparkEntry.queries("parse_weblog")(spark, sf)
    assert(got.count() == batch.count())   // junk + non-media dropped
    assert(got.filter(col("server_type") =!= 1).count() == 0)
  }

  test("stream-static enrichment joins the parsed stream to a dimension") {
    val base = Files.createTempDirectory("graft_enrich").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    Style5.renderedLines(spark, sf).filter(col("event_id") < 200)
      .select("line").coalesce(1).write.mode("overwrite").text(s"$in/f1")
    // static dimension: status code → class label (broadcast side)
    import spark.implicits._
    val dim = Seq((200L, "ok"), (404L, "not_found")).toDF("status_code", "status_class")
    val q = StreamEtl.parseLines(spark.readStream.text(s"$in/*"))
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("status_code"), "left_outer")
      .groupBy("status_class").count()
      .writeStream.format("memory").queryName("enriched")
      .option("checkpointLocation", s"$base/cp")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("enriched").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.values.sum == 200)
    assert(rows.keySet == Set("ok", "not_found"))   // every status mapped
  }

  test("nearDupTtlBatchOf reproduces the event-time stream's hit set exactly") {
    // the hit set a flatMapGroupsWithState stream under EventTimeTimeout
    // (4x16-bit SimHash bands, ttl one day, watermark delay 0) produced
    // on this corpus, replayed one day file per micro-batch: it
    // includes pairs dropped by TTL eviction across multi-day gaps and
    // the data-dependent one-gap-day boundary (break iff the
    // intermediate day's watermark passed maxSeen + ttl)
    val DAY = 86400000L
    val D0 = 19700L * DAY
    // groups g = id % 17 share IDENTICAL text (hamming 0); member k of
    // a group lands on dayPattern(k): gap-1 transitions (never evict
    // at ttl=1day), a gap-3 (hour-dependent boundary: break iff the
    // intermediate day's max ts passed maxSeen + ttl) and a gap-4
    // (always evicts). A keeper row on EVERY day keeps the global
    // batch calendar contiguous — eviction needs an intermediate
    // batch to fire in
    val dayPattern = Array(0L, 1L, 2L, 5L, 6L, 10L)
    val rows = (1 to 136).map { id =>
      val day = dayPattern((id / 17) % 6)
      val ts = D0 + day * DAY + (id % 7) * 3600000L + id
      (id.toLong, ts, s"w${id % 17} x${id % 17} y${id % 17}")
    } ++ (0 to 10).map { d =>
      (500L + d, D0 + d * DAY + 43200000L + d, s"kpr$d unique$d only$d")
    }
    // the stream's (first_id, second_id) pairs as "first-second"; each
    // pair's two texts are identical, so it was hit in all 4 bands at
    // hamming 0
    val streamPairs = """
      |1-18 1-35 1-103 1-120 2-19 2-36 2-104 2-121 3-20 3-37 3-105 3-122 4-21 4-38
      |4-106 4-123 5-22 5-39 5-107 5-124 6-23 6-40 6-108 6-125 7-24 7-41 7-109 7-126
      |8-25 8-42 8-110 8-127 9-26 9-43 9-111 9-128 10-27 10-44 10-112 10-129 11-28
      |11-45 11-113 11-130 12-29 12-46 12-114 12-131 13-30 13-47 13-115 13-132 14-31
      |14-48 14-116 14-133 15-32 15-49 15-117 15-134 16-33 16-50 16-118 16-135 17-34
      |17-119 17-136 18-35 18-120 19-36 19-121 20-37 20-122 21-38 21-123 22-39 22-124
      |23-40 23-125 24-41 24-126 25-42 25-127 26-43 26-128 27-44 27-129 28-45 28-130
      |29-46 29-131 30-47 30-132 31-48 31-133 32-49 32-134 33-50 33-135 34-136 51-68
      |52-69 53-70 54-71 55-72 56-73 57-74 58-75 59-76 60-77 61-78 62-79 63-80 64-81
      |65-82 66-83 67-84 102-17 102-34 102-119 102-136 103-18 103-35 103-120 104-19
      |104-36 104-121 105-20 105-37 105-122 106-21 106-38 106-123 107-22 107-39 107-124
      |108-23 108-40 108-125 109-24 109-41 109-126 110-25 110-42 110-127 111-26 111-43
      |111-128 112-27 112-44 112-129 113-28 113-45 113-130 114-29 114-46 114-131 115-30
      |115-47 115-132 116-31 116-48 116-133 117-32 117-49 117-134 118-33 118-50 118-135
      |119-34 119-136 120-35 121-36 122-37 123-38 124-39 125-40 126-41 127-42 128-43
      |129-44 130-45 131-46 132-47 133-48 134-49 135-50
      |""".stripMargin.split("\\s+").filter(_.nonEmpty).toSeq.map { p =>
      val Array(f, s) = p.split('-'); (f.toLong, s.toLong)
    }
    assert(streamPairs.size == 187 && streamPairs.distinct.size == 187)
    val streamHits = (for (b <- 0L to 3L; (f, s) <- streamPairs) yield (b, f, s, 0L)).toSet

    import spark.implicits._
    val feed = rows.toDF("id", "ts_ms", "text")
    val batchHits = StreamEtl.nearDupTtlBatchOf(feed, DAY).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(batchHits.nonEmpty, "parity corpus produced no hits at all")
    assert(streamHits == batchHits,
      s"stream-only: ${(streamHits -- batchHits).take(5)}; " +
        s"batch-only: ${(batchHits -- streamHits).take(5)}")
    // and the TTL must actually have bitten: same-session-only pairs
    // are fewer than the no-TTL pair closure
    val noTtl = StreamEtl.nearDupTtlBatchOf(feed, 10L * DAY).count()
    assert(batchHits.size < noTtl, "TTL never evicted anything — weak corpus")
  }

  // ---- ingest drains without the no-data batch ---------------------

  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  private def hms(sec: Int): String = f"${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d"

  /** Style-5 line for event `id` at `sec` seconds past midnight; the
    * id picks the ip and the presentation_id. */
  private def s5Line(id: Int, sec: Int): String =
    s"10.0.${id / 250}.${id % 250 + 1} - - [13/Oct/2002:${hms(sec)} -0700] " +
      s""""GET /media/clip$id.rm RTSP/1.0" 200 4096 """ +
      s"[WinNT_5.1_6.0.11.818_play32_RN01_EN_586_0] [abc-def-123] 10 20 30 0 0 ${1000 + id}"

  /** Combined-format line for event `id` at `sec`; the id picks the
    * ip and the clip name. */
  private def webLine(id: Int, sec: Int): String =
    s"10.0.${id / 250}.${id % 250 + 1} - - [13/Oct/2002:${hms(sec)} -0700] " +
      s""""GET /media/clip$id.wmv HTTP/1.1" 200 4096 "-" "Windows-Media-Player/9.0""""

  /** Three rotations, drained one by one (hours are 3,600 s):
    *  1. ids 0..24 from 07:00 to 10:00 — the watermark then sits at 09:00
    *     and the 07:00 key (id 0) has expired;
    *  2. id 24's line again (boundary duplicate), a new key at 08:30
    *     (late: 1.5 h behind 10:00), id 22's 09:45 line again (key
    *     still in state), then ids 100..123 up to 11:00;
    *  3. id 123's line again (boundary duplicate), id 0's 07:00 line
    *     again (its key expired two drains ago), a new key at 09:30
    *     (late), id 111's 10:30 line again, then ids 300..323 up to 12:00. */
  private def pinRotations(line: (Int, Int) => String): Seq[Seq[String]] = {
    val h = 3600
    val r1 = (0 until 25).map(i => line(i, 7 * h + 450 * i))
    val r2n = (0 until 24).map(j => line(100 + j, 10 * h + 150 * (j + 1)))
    val r3n = (0 until 24).map(j => line(300 + j, 11 * h + 150 * (j + 1)))
    Seq(r1,
      Seq(r1.last, line(200, 8 * h + 30 * 60), r1(22)) ++ r2n,
      Seq(r2n.last, r1.head, line(201, 9 * h + 30 * 60), r2n(11)) ++ r3n)
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The batch twin of a drained ingest over `rotations`: each
    * rotation's rows minus those at or behind the watermark its drain
    * starts with (max `datetime` of the earlier rotations − 1 h), then
    * the first row per key. */
  private def batchTwin(rotations: Seq[DataFrame],
                        key: Seq[String]): Seq[String] = {
    var maxMs = Long.MinValue
    val seen = scala.collection.mutable.Set[Seq[Any]]()
    rotations.flatMap { rot =>
      val rows = rot.collect().toSeq
      val wm = if (maxMs == Long.MinValue) None else Some(maxMs - 3600L * 1000)
      def ms(r: Row) = r.getAs[java.sql.Timestamp]("datetime").getTime
      val kept = rows.filter(r => wm.forall(ms(r) > _) && seen.add(key.map(r.getAs[Any](_))))
      maxMs = (maxMs +: rows.map(ms)).max
      kept.map(_.toString)
    }.sorted
  }

  /** Drains `ingest` (which starts without no-data batches) and the
    * same sink started with Spark's default over the same rotations,
    * each on its own checkpoint, and requires after every drain that
    * both outputs equal the batch twin. */
  private def pinIngest(name: String, line: (Int, Int) => String,
                        parse: DataFrame => DataFrame, key: Seq[String],
                        ingest: (SparkSession, String, String, String) => StreamingQuery): Unit = {
    val base = Files.createTempDirectory(s"graft_pin_$name").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    assert(spark.conf.getOption(NoDataBatches).forall(_ == "true"),
      "the twin must run with Spark's default")
    val rotations = pinRotations(line)
    var emptyBatches = 0L
    rotations.zipWithIndex.foreach { case (lines, r) =>
      Files.writeString(Paths.get(s"$in/rot$r.log"), lines.mkString("", "\n", "\n"))
      ingest(spark, s"$in/*", s"$base/cp", s"$base/out").awaitTermination()
      val default = StreamEtl.ingestWriter(parse(spark.readStream.text(s"$in/*")), key,
        s"$base/cp_default", s"$base/out_default").start()
      default.awaitTermination()
      emptyBatches += default.recentProgress.count(_.numInputRows == 0)
      val twin = batchTwin((0 to r).map(i => parse(spark.read.text(s"$in/rot$i.log"))), key)
      val got = rowsOf(spark.read.parquet(s"$base/out"))
      assert(got == rowsOf(spark.read.parquet(s"$base/out_default")),
        s"$name drain ${r + 1}: output differs from the default-conf twin")
      assert(got == twin, s"$name drain ${r + 1}: output differs from the batch twin; " +
        s"stream-only ${got.diff(twin).take(3)}, batch-only ${twin.diff(got).take(3)}")
    }
    // the rotations exercise every case the batch twin drops
    assert(rowsOf(spark.read.parquet(s"$base/out")).size == 25 + 24 + 24)
    assert(emptyBatches > 0, "the default-conf twin ran no eviction batch — weak corpus")
  }

  test("ingestStream without the no-data batch: same rows as Spark's default " +
       "and the batch twin after every drain") {
    pinIngest("s5", s5Line, StreamEtl.parseLines,
      Seq("client_ip_address", "datetime", "presentation_id"), StreamEtl.ingestStream)
  }

  test("ingestWebStream without the no-data batch: same rows as Spark's default " +
       "and the batch twin after every drain") {
    pinIngest("web", webLine, StreamEtl.parseWebLines,
      Seq("client_ip_address", "datetime", "name"), StreamEtl.ingestWebStream)
  }

  test("ingestStream leaves the caller's conf as it was, stays on spark.streams, " +
       "and ends on its data batch") {
    import StreamingQueryListener._
    val started, progressed = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.id)
      override def onQueryProgress(e: QueryProgressEvent): Unit = progressed.add(e.progress.id)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val prev = spark.conf.getAll.get(NoDataBatches)
    spark.streams.addListener(listener)
    try {
      // once with the switch unset, once with the caller's own value
      Seq(None, Some("true")).zipWithIndex.foreach { case (callerValue, r) =>
        callerValue match {
          case Some(v) => spark.conf.set(NoDataBatches, v)
          case None => spark.conf.unset(NoDataBatches)
        }
        val base = Files.createTempDirectory("graft_scope").toString
        val in = s"$base/in"; new java.io.File(in).mkdirs()
        val lines = pinRotations(s5Line).head
        Files.writeString(Paths.get(s"$in/rot.log"), lines.mkString("", "\n", "\n"))
        val before = spark.conf.getOption(NoDataBatches)
        val q = StreamEtl.ingestStream(spark, s"$in/*", s"$base/cp", s"$base/out")
        q.awaitTermination()
        assert(spark.conf.getOption(NoDataBatches) == before,
          s"run ${r + 1}: the ingest changed the caller's $NoDataBatches")
        // getOption falls back to Spark's default; getAll holds only what was set
        assert(spark.conf.getAll.get(NoDataBatches) == callerValue,
          s"run ${r + 1}: the ingest left $NoDataBatches set where the caller had not")
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!(started.contains(q.id) && progressed.contains(q.id)) &&
               System.nanoTime() < deadline) Thread.sleep(50)
        assert(started.contains(q.id), s"run ${r + 1}: no start event on spark.streams")
        assert(progressed.contains(q.id), s"run ${r + 1}: no progress event on spark.streams")
        val ps = q.recentProgress.toSeq
        assert(ps.map(_.numInputRows).sum == lines.size)
        assert(ps.lastOption.exists(_.numInputRows > 0),
          s"run ${r + 1}: the drain ended on an empty batch: ${ps.map(_.numInputRows)}")
      }
    } finally {
      spark.streams.removeListener(listener)
      prev match {
        case Some(v) => spark.conf.set(NoDataBatches, v)
        case None => spark.conf.unset(NoDataBatches)
      }
    }
  }
}
