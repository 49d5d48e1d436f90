package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CommitLog
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.parse.{Style5, WebLog}

/** Structured Streaming rebuild of the cron + high-watermark ingest
  * loop (`/root/reference/real_parse.pl:21-52,93`; SURVEY.md §2.7).
  *
  * Reference semantics → streaming mapping:
  *  - re-scan of the last two rotated files per run (S2) →
  *    `FileStreamSource` tracks consumed files in the checkpoint, so
  *    each rotated file is parsed exactly once, ever;
  *  - `MAX(datetime)` watermark with strictly-greater filter (F1,
  *    which DROPS distinct events sharing the boundary second) →
  *    `withWatermark` + `dropDuplicatesWithinWatermark` on the
  *    natural key: exactly-once at the boundary instead of
  *    at-most-once (SURVEY.md §7.5.2 — we fix the boundary loss and
  *    keep the no-duplicates guarantee);
  *  - the 7 INSERTs per line with no transaction (§2.7 "Exactly-once
  *    sink") → parquet sink + checkpoint commit protocol.
  *
  * Scale: file-source listing is incremental; parsing is narrow
  * (no shuffle); the dedup keeps only in-watermark state keyed by
  * (ip, datetime, presentation_id). At 100 TB/day the state is
  * bounded by the 1-hour watermark horizon plus one drain, not the
  * history: the ingest queries run no empty eviction batch, so a
  * drain's expired keys leave the state at the end of the next data
  * batch ([[ingestStream]]).
  */
object StreamEtl {

  /** The style-5 line→row parse for batch AND streaming text frames
    * (`value` column): [[graft.parse.Style5.accepted]], the lines that
    * pass [[graft.parse.Style5.wellFormed]] bound by
    * [[graft.parse.Style5.parsed]] — the same Catalyst expressions as
    * the batch queries. Malformed lines are REJECTED up front, so a
    * poison file cannot throw under ANSI and loop a restarting stream;
    * [[rejectedLines]] returns the complement for a dead-letter sink. */
  def parseLines(lines: DataFrame): DataFrame =
    Style5.accepted(lines.select(col("value").as("line")))
      .select("client_ip_address", "datetime", "gmt_offset", "method", "path", "name",
        "status_code", "bytes_sent", "file_size", "file_time", "sent_time",
        "resends", "failed_resends", "presentation_id")

  /** Complement of [[parseLines]]'s accept filter — route to a
    * quarantine sink in production. */
  def rejectedLines(lines: DataFrame): DataFrame =
    Style5.rejected(lines.withColumnRenamed("value", "line")).withColumnRenamed("line", "value")

  /** Combined-format (Caudium/Apache) streaming parse —
    * `web_parse.pl` parity in the streaming path (SURVEY.md §3.3:
    * one parser per format, one watermark per server_type): the
    * batch query's [[graft.parse.WebLog.parsed]] over `value`. */
  def parseWebLines(lines: DataFrame): DataFrame =
    WebLog.parsed(lines.select(col("value").as("line"))).drop("line")

  /** Incremental ingest: rotated log dir → parsed parquet, one file
    * parsed exactly once across restarts (checkpointed). One call is
    * one cron run: an `AvailableNow` drain of the new rotations,
    * started by [[startDrain]] without Spark's trailing no-data batch.
    *
    * The output is the same as with Spark's default. `datetime` is part
    * of the dedup key (client_ip_address, datetime, presentation_id).
    * A key's state entry expires once its `datetime + 1 hour` falls
    * below the watermark, and any later row with that key is then
    * itself late, so it is dropped before the state lookup. Evicting at
    * the end of the next data batch instead of in an empty batch thus
    * keeps the same rows; the state holds expired keys one drain
    * longer. */
  def ingestStream(spark: SparkSession, inputGlob: String,
                   checkpointDir: String, outDir: String): StreamingQuery =
    startDrain(spark, parseLines(spark.readStream.text(inputGlob)),
      Seq("client_ip_address", "datetime", "presentation_id"), checkpointDir, outDir)

  /** The ingest sink both formats share: a 1-hour watermark on
    * `datetime`, `dropDuplicatesWithinWatermark` on `key`, parquet at
    * `outDir`, checkpointed `AvailableNow` drains. Not started; the
    * ingest functions start it through [[startDrain]]. */
  private[graft] def ingestWriter(parsed: DataFrame, key: Seq[String],
                                  checkpointDir: String, outDir: String): DataStreamWriter[Row] =
    parsed
      .withWatermark("datetime", "1 hour")
      .dropDuplicatesWithinWatermark(key)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())

  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Starts one ingest drain with no-data micro-batches off, for that
    * query only. After a data batch that moves the watermark, Spark
    * runs an empty batch whose work is to evict expired state. In a
    * drain it costs a job and a stage, about a third of a small drain,
    * and the next data batch evicts the same keys (see [[ingestStream]]).
    *
    * The empty batch also carries the new watermark into the offset
    * log, and Spark drops late rows against the previous batch's
    * watermark. Without it, a drain's rows would be judged by the
    * watermark the previous drain started with, so a new key more than
    * an hour behind the previous drain's rows would be kept. The filter
    * below drops those rows itself: it applies the watermark that the
    * last committed batch left for the next one (the commit log's
    * `nextBatchWatermarkMs`, the value the empty batch would have
    * carried), with Spark's own rule (late means at or before it).
    *
    * Spark reads the switch once per query, from the session that
    * `StreamExecution` clones when `start()` builds the query. So the
    * switch is set on the caller's session around `start()` only, and
    * its previous value (or its absence) is restored in `finally`. The
    * query stays on the caller's `spark.streams`, so listeners there
    * see it. Never set the switch session-wide: event-time timeouts and
    * append-mode window flushes run in no-data batches. */
  private def startDrain(spark: SparkSession, parsed: DataFrame, key: Seq[String],
                         checkpointDir: String, outDir: String): StreamingQuery = {
    val commits = new Path(checkpointDir, "commits")
    val watermarkMs =
      if (!commits.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(commits)) None
      else new CommitLog(spark, commits.toString).getLatest().map(_._2.nextBatchWatermarkMs)
    val onTime = watermarkMs.fold(parsed)(ms =>
      parsed.filter(coalesce(col("datetime") > timestamp_millis(lit(ms)), lit(true))))
    val writer = ingestWriter(onTime, key, checkpointDir, outDir)
    val prev = spark.conf.getAll.get(NoDataBatches)
    spark.conf.set(NoDataBatches, "false")
    try writer.start()
    finally prev match {
      case Some(v) => spark.conf.set(NoDataBatches, v)
      case None => spark.conf.unset(NoDataBatches)
    }
  }

  /** Incremental web-log ingest — `web_parse.pl` in the streaming
    * path, mirroring [[ingestStream]]: rotated Caudium logs → parsed
    * parquet, one file exactly once across restarts. The web format
    * has no presentation_id, so the dedup natural key is
    * (ip, datetime, name) — the same triple the reference's
    * strictly-greater watermark made unique per run (SURVEY §3.3:
    * one parser and one watermark per server_type). Like
    * [[ingestStream]] it runs without the trailing no-data batch
    * ([[startDrain]]); `datetime` is in this key too, so the output is
    * the same as with Spark's default and expired keys leave the state
    * one drain later. */
  def ingestWebStream(spark: SparkSession, inputGlob: String,
                      checkpointDir: String, outDir: String): StreamingQuery =
    startDrain(spark, parseWebLines(spark.readStream.text(inputGlob)),
      Seq("client_ip_address", "datetime", "name"), checkpointDir, outDir)

  /** Millis per day — the batch granularity of [[nearDupTtlBatchOf]]
    * and the TTL unit of the `near_dup_ttl_batch` query. */
  private val DAY_MS = 86400000L
  /** Twin-id offset for the `near_dup_ttl_batch` feed (disjoint from
    * every event_id at any test scale). */
  private val TTL_TWIN_OFF = 20000000L

  /** The hit set of an event-time, TTL-bounded near-duplicate gate,
    * computed in batch. Input is a feed `(id, ts_ms, text)`, SimHash-
    * banded 4×16 bits. Documents arrive in DAY batches (`ts_ms div
    * 86400000`; every row's event time lies inside its batch's day). A
    * (band, bucket) cell keeps its members until the watermark (the
    * max ts_ms so far, delay 0) passes the cell's max event time +
    * `ttlMs` in a batch in which the cell has no data; each arrival
    * matches every live member within `maxHamming` bits. These are the
    * semantics of a `flatMapGroupsWithState` stream under
    * `EventTimeTimeout` replayed one day per micro-batch; StreamSpec
    * pins the hit set such a stream produced on a corpus that evicts.
    *
    * The window form:
    *  - watermark after the batch of day g = max ts_ms over global
    *    days <= g (delay 0), which for day-contained timestamps is
    *    just day g's max — the `cal` frame, with `lag(w, 2)` giving
    *    the watermark in force at the LAST batch before a bucket's
    *    next activity;
    *  - a (band, bucket) group's state survives to its next active
    *    day D unless some global batch strictly between its previous
    *    active day b and D ran with watermark > maxSeen + ttl; the
    *    binding check is the LATEST such batch (watermark is
    *    monotone), i.e. break iff prevGlobalDay(D) > b AND
    *    lag(w,2 over global days)(D) > maxSeen_b + ttl. A batch in
    *    which the bucket HAS data never times it out (Spark processes
    *    the data and re-arms), which is why day D itself is excluded;
    *  - maxSeen never crosses sessions: sessions are day-disjoint and
    *    ascending, and timestamps are day-contained, so the running
    *    per-bucket max IS the live session's max — the window form
    *    needs no per-session reset;
    *  - within a session, every unordered pair at hamming <=
    *    `maxHamming` is emitted exactly once, ordered by arrival
    *    (day, then id).
    *
    * Scale shape: one simhash aggregation, one (band,bucket,day)
    * groupBy, windows partitioned by (band,bucket) over <= n_days
    * rows, a broadcast of the ~30-row calendar, and a banded
    * equi-join on (band,bucket,session) — the same linear-at-scale
    * LSH join family as `simhash_pairs`, never a cross join. */
  private[graft] def nearDupTtlBatchOf(feed: DataFrame, ttlMs: Long,
                                       maxHamming: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the feed scan is few-split: spread it before the CPU-bound md5
    // kernel (the exchange the old aggregate paid anyway, moved below
    // the kernel instead of above it)
    val docs = feed.select(col("id").as("doc_id"), col("text"), col("ts_ms"))
      .repartition(feed.sparkSession.sparkContext.defaultParallelism)
    // ts_ms stays on the row through the per-row simhash kernel (the
    // old join-back on doc_id paid an exchange + a second feed
    // computation; the aggregate-era carry is now a plain column).
    // sims IS fenced now: simhashOf became a pure map (no aggregate
    // exchange for ReuseExchange to share), so its three consumers
    // (calendar aggregate + both bandRows reads) would otherwise each
    // re-run the md5 kernel over the feed.
    val sims = graft.util.Fence.lineage(
      graft.ext.Dedup.simhashOf(docs, carry = Seq("ts_ms"))
        // epoch-day fits an INT comfortably — every downstream
        // exchange keys on or carries it, so don't ship a long
        .withColumn("day", expr(s"ts_ms div $DAY_MS").cast("int")))
    // global batch calendar: per-day watermark w (== cumulative max
    // for day-contained ts), the previous global day, and the
    // watermark two batches back. Unpartitioned windows are fine
    // here: the frame is calendar-bounded (~30 rows)
    val gw = Window.orderBy(col("day"))
    val cal = sims.groupBy(col("day")).agg(max(col("ts_ms")).as("w"))
      .select(col("day"),
        lag(col("day"), 1).over(gw).as("gprev"),
        lag(col("w"), 2).over(gw).as("w2"))
    // ONE fused 18-bit bucket key bk = band·2^16 + bv instead of the
    // (band, bv) pair: every heavy exchange below — the (bucket, day)
    // aggregate, the tag join-back, the session self-join — keys on
    // and carries one INT instead of an int+long pair, and the int
    // day (above) drops 4 more bytes; 44 → 32 bytes per band row on
    // the two 4N-row exchanges. band = bk >> 16 is recomputed exactly
    // on output, so results are bit-identical ((band,bv) ↔ bk is a
    // bijection).
    val bandRows = sims.select(col("doc_id"), col("simhash"), col("ts_ms"), col("day"),
        explode_outer(array((0 until 4).map { b =>
          (shiftright(col("simhash"), b * 16).bitwiseAND(lit(65535L))
            + lit(b * 65536L)).cast("int")
        }: _*)).as("bk"))
      .select(col("bk"), col("doc_id"), col("simhash"), col("ts_ms"), col("day"))
    val bw = Window.partitionBy(col("bk")).orderBy(col("day"))
    val sess = bandRows.groupBy(col("bk"), col("day"))
      .agg(max(col("ts_ms")).as("dmax"))
      .join(broadcast(cal), Seq("day"))
      .withColumn("pb", lag(col("day"), 1).over(bw))
      .withColumn("prevmax",
        max(col("dmax")).over(bw.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk", when(col("pb").isNull, 0L)
        .when(col("gprev") > col("pb") &&
          col("w2") > col("prevmax") + lit(ttlMs), 1L)
        .otherwise(0L))
      .withColumn("sid",
        sum(col("brk")).over(bw.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("bk"), col("day"), col("sid"))
    // the tagged frame feeds BOTH sides of the pair join — fence the
    // lineage so the simhash + window pipeline runs once, not twice.
    // Project ts_ms away first: the checkpoint is a hard pruning
    // boundary, so an unused column would be materialized and then
    // shuffled through both sides of the self-join.
    val tagged = graft.util.Fence.lineage(
      bandRows.join(sess, Seq("bk", "day"))
        .select(col("bk"), col("sid"),
          col("doc_id"), col("simhash"), col("day")))
    val l = tagged.as("l"); val r = tagged.as("r")
    l.join(r, col("l.bk") === col("r.bk") &&
        col("l.sid") === col("r.sid") &&
        (col("l.day") < col("r.day") ||
          (col("l.day") === col("r.day") && col("l.doc_id") < col("r.doc_id"))))
      .select(shiftright(col("l.bk"), 16).cast("long").as("band"),
        col("l.doc_id").as("first_id"), col("r.doc_id").as("second_id"),
        expr("bit_count(l.simhash ^ r.simhash)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("band"), col("first_id"), col("second_id"))
  }

  /** [[nearDupTtlBatchOf]] over an events-derived feed: every event is
    * a single-token document `e<event_id>`, and every event_id%97==0
    * event re-arrives as an IDENTICAL twin doc (id + 20,000,000)
    * shifted `event_id % 5` days forward — so the hit set is the
    * twins that re-arrive before their bucket's 1-day TTL lapses
    * (shift 0-2 always; shift 3 only for late-night originals; shift
    * 4 never), times the 4 bands. The TTL accept/reject boundary is
    * thereby oracle-checked, not just behavior-tested. */
  def nearDupTtlBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.model.Tables.events(spark, dir)
      .select(col("event_id"), unix_millis(col("ts")).as("ts_ms"))
    val base = ev.select(col("event_id").as("id"), col("ts_ms"),
      concat(lit("e"), col("event_id").cast("string")).as("text"))
    val twins = ev.filter(pmod(col("event_id"), lit(97)) === 0)
      .select((col("event_id") + TTL_TWIN_OFF).as("id"),
        (col("ts_ms") + pmod(col("event_id"), lit(5)) * DAY_MS).as("ts_ms"),
        concat(lit("e"), col("event_id").cast("string")).as("text"))
    nearDupTtlBatchOf(base.unionAll(twins), DAY_MS)
  }

  val nearDupTtlBatchSql: String = {
    val bandRows = (0 until 4).map(b =>
      s"SELECT $b AS band, (simhash >> ${b * 16}) & 65535 AS bv, s.doc_id, s.simhash, s.ts_ms, s.day FROM sims2 s")
      .mkString("\n         UNION ALL\n         ")
    s"""WITH feed AS (
         SELECT event_id AS id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
           'e' || CAST(event_id AS VARCHAR) AS text
         FROM events
         UNION ALL
         SELECT event_id + $TTL_TWIN_OFF AS id,
           epoch_ms(CAST(ts AS TIMESTAMP)) + (event_id % 5) * $DAY_MS AS ts_ms,
           'e' || CAST(event_id AS VARCHAR) AS text
         FROM events WHERE event_id % 97 = 0),
       corpus AS (SELECT id AS doc_id, text FROM feed),
       ${graft.ext.Dedup.simhashCte},
       sims2 AS (
         SELECT s.doc_id, s.simhash, f.ts_ms, f.ts_ms // $DAY_MS AS day
         FROM sims s JOIN feed f ON f.id = s.doc_id),
       cal AS (
         SELECT day,
           lag(day) OVER (ORDER BY day) AS gprev,
           lag(w, 2) OVER (ORDER BY day) AS w2
         FROM (SELECT day, max(ts_ms) AS w FROM sims2 GROUP BY day) g),
       rowsb AS MATERIALIZED (
         $bandRows),
       sess AS (
         SELECT band, bv, day,
           sum(brk) OVER (PARTITION BY band, bv ORDER BY day) AS sid
         FROM (
           SELECT d.band, d.bv, d.day,
             CASE WHEN lag(d.day) OVER (PARTITION BY d.band, d.bv ORDER BY d.day) IS NULL THEN 0
                  WHEN c.gprev > lag(d.day) OVER (PARTITION BY d.band, d.bv ORDER BY d.day)
                       AND c.w2 > max(d.dmax) OVER (PARTITION BY d.band, d.bv ORDER BY d.day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + $DAY_MS
                  THEN 1 ELSE 0 END AS brk
           FROM (SELECT band, bv, day, max(ts_ms) AS dmax
                 FROM rowsb GROUP BY band, bv, day) d
           JOIN cal c USING (day)) s),
       tag AS MATERIALIZED (
         SELECT r.band, r.bv, r.doc_id, r.simhash, r.day, s.sid
         FROM rowsb r
         JOIN sess s ON s.band = r.band AND s.bv = r.bv AND s.day = r.day)
       SELECT CAST(l.band AS BIGINT) AS band, l.doc_id AS first_id, r.doc_id AS second_id,
         CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
       FROM tag l JOIN tag r
         ON l.band = r.band AND l.bv = r.bv AND l.sid = r.sid
        AND (l.day < r.day OR (l.day = r.day AND l.doc_id < r.doc_id))
       WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
       ORDER BY band, first_id, second_id"""
  }
}
