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

  /** Fingerprint-on-arrival for the media lane — [[ingestStream]]'s
    * shape over blob columns: a streaming parquet source of
    * `(media_id, blob)` rows is decoded by the SAME perceptual
    * fingerprint kernel the batch index uses
    * ([[graft.ext.Multimodal.fingerprintImagesOf]] — one decoder per
    * partition, rows streamed), and the fingerprints land in parquet
    * exactly once across restarts (checkpointed `AvailableNow`
    * drains; the file source tracks consumed blob files like the
    * rotated-log sources). At 100 TB the pattern is unchanged: blobs
    * arrive as object-store files, the fingerprint parquet is the
    * persisted index every near-dup probe joins
    * ([[graft.ext.Multimodal.mediaNeardup]]'s split 17+3 probe fan) —
    * decode work is partition-parallel, and no raw byte ever rides a
    * join shuffle (the kernel's repartition spreads arrival files,
    * then only 5-long fingerprint rows move). */
  def mediaFingerprintStream(spark: SparkSession, inputGlob: String,
                             checkpointDir: String, outDir: String): StreamingQuery = {
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("blob", BinaryType)))
    graft.ext.Multimodal
      .fingerprintImagesOf(spark.readStream.schema(schema).parquet(inputGlob))
      .toDF()
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
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

  /** Running per-client totals carried in custom keyed state
    * (`mapGroupsWithState` — the §2.8 extension point for state the
    * built-in aggregations can't express). State lives in the
    * checkpointed store, so totals accumulate across restarts and
    * log rotations; at scale state is partitioned by key like any
    * shuffle, bounded here by the client-IP cardinality. */
  case class ClientTotals(client_ip: String, n_requests: Long, total_bytes: Long)

  def runningClientTotals(spark: SparkSession, inputGlob: String)
      : org.apache.spark.sql.Dataset[ClientTotals] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    parseLines(spark.readStream.text(inputGlob))
      .select(col("client_ip_address"), col("bytes_sent"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[ClientTotals, ClientTotals](GroupStateTimeout.NoTimeout) {
        case (ip, rows, state) =>
          val prev = state.getOption.getOrElse(ClientTotals(ip, 0L, 0L))
          val (n, b) = rows.foldLeft((0L, 0L)) { case ((cn, cb), r) => (cn + 1, cb + r._2) }
          val next = ClientTotals(ip, prev.n_requests + n, prev.total_bytes + b)
          state.update(next)
          next
      }
  }

  /** Streaming first-seen content dedup — the streaming mirror of
    * the batch dedup_exact operator: every line keys by its content
    * hash, only the FIRST occurrence ever is emitted, and later
    * copies (within a run or across restarts/rotations) are
    * suppressed by the checkpointed seen-state. Append-mode
    * `flatMapGroupsWithState` because the built-in dropDuplicates
    * variants cannot bound state by "first ever across restarts"
    * without a watermark column that a content feed does not have.
    *
    * Scale: state is one boolean per distinct content hash,
    * partitioned by the hash like any shuffle. For a bounded-horizon
    * variant (dedup only within the watermark window, state that
    * expires) use `dropDuplicatesWithinWatermark` as
    * [[ingestStream]] does — this operator is the unbounded
    * first-ever guarantee a corpus-ingest feed needs. */
  case class FirstSeen(content_hash: String, line: String)

  def firstSeenLines(spark: SparkSession, inputGlob: String)
      : org.apache.spark.sql.Dataset[FirstSeen] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // keyed by the FULL 128-bit md5, not the 60-bit phash: first-ever
    // state is forever, so at corpus-ingest cardinality (10^9+ lines)
    // a 60-bit key space gives a real birthday probability of two
    // DISTINCT lines colliding — and a collision here silently drops
    // content. 2^-64 per pair is the dedup_exact standard instead.
    spark.readStream.text(inputGlob)
      .select(md5(col("value")).as("h"), col("value"))
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, FirstSeen](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (h, rows, state) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // rows within one batch arrive in scan order; emit one
            Iterator.single(FirstSeen(h, rows.next()._2))
          }
      }
  }

  /** A streaming near-duplicate hit: `doc_id` arrived and matched the
    * already-seen `dup_of` within `hamming` SimHash bits in band
    * `band` (a pair colliding in several bands emits once per band,
    * same per-band multiplicity as the batch LSH — consumers
    * `dropDuplicates("doc_id", "dup_of")`). */
  case class NearDupHit(band: Int, doc_id: Long, dup_of: Long, hamming: Int)

  /** Checkpointed members of one (band, bucket) LSH cell. */
  case class BandMembers(memberIds: Array[Long], memberSims: Array[Long],
                         maxSeenTs: Long = Long.MinValue)

  /** Streaming NEAR-duplicate gate — `dedup_incremental`'s semantics
    * on a LIVE feed: every arriving document (a `doc_id\ttext` line)
    * is SimHash-banded (4×16 bits of [[graft.ext.Dedup.simhash64]],
    * the bit-identical kernel twin of the batch `simhash` query) and
    * checked against every document EVER seen in any of its 4 band
    * buckets; matches within `maxHamming` bits emit as they arrive.
    * Pigeonhole: hamming ≤ 3 over 4 bands always leaves one band
    * intact, so recall at the default threshold is exact, streamed.
    *
    * State layout is the LSH geometry itself: one
    * `flatMapGroupsWithState` group per (band, 16-bit bucket), each
    * holding its members' (id, simhash) pairs — the same ~N/2¹⁶
    * collision classes the batch banded join shuffles on, here living
    * in the checkpointed state store partitioned by bucket key. The
    * pairwise hamming check within a bucket is the verify step, run
    * only against a bucket's own members. Malformed lines drop in the
    * parse (corpus feeds carry a quarantine lane upstream); re-arrived
    * doc_ids neither re-enter state nor match themselves. Within a
    * micro-batch, arrivals are ordered by doc_id so emissions are
    * deterministic.
    *
    * Bounded state at crawl scale — the lambda handoff: `stateTtlMs`
    * ages quiet buckets out of the state store (ProcessingTimeTimeout;
    * an evicted bucket's history is OWNED by the periodic batch index
    * from then on — the batch `dedupIncremental` pass catches any
    * cross-TTL duplicate the stream can no longer see), and
    * `seedIndex` (a `(doc_id, simhash)` batch index) re-seeds every
    * bucket's membership at query START via `initialState` — the
    * redeploy recipe: stop the stream, compact state into the batch
    * index, restart with a fresh checkpoint and the refreshed index.
    * `initialState` is distributed (grouped like the stream itself),
    * never collected to the driver.
    *
    * Trigger caveat: with a ProcessingTimeTimeout armed,
    * `FlatMapGroupsWithStateExec.shouldRunAnotherBatch` is
    * unconditionally true, so a `Trigger.AvailableNow` query never
    * self-terminates — it keeps scheduling timeout-processing batches
    * forever. Run a TTL'd gate on a periodic trigger (the live-crawl
    * shape) or drain with single-batch `Trigger.Once` runs; reserve
    * AvailableNow for the untimed (`stateTtlMs = None`) variant — or
    * use [[nearDupStreamEventTime]], whose watermark-driven aging has
    * no such trap and drains cleanly under AvailableNow.
    *
    * BAND-WIDTH CONTRACT vs the batch knob: the stream keeps the
    * FIXED narrow 4×16 layout at every scale. A state-keyed stream
    * cannot count its corpus (the in-query 1-row broadcast that picks
    * [[graft.ext.Dedup.simhashPairsOf]]'s rung needs the whole input),
    * and switching layouts mid-stream would orphan every live bucket
    * key. That is safe for RESULTS because both batch rungs and this
    * stream share complete candidate recall at hamming ≤ 3 plus the
    * same exact bit_count verify — the stream's distinct pair set
    * equals the batch output at EITHER rung (StreamSpec pins this
    * pair-for-pair). What the narrow layout costs at scale is state
    * fan-in (~N²/2¹⁷ per-bucket pair work on skewed corpora), and the
    * levers for that are the ones this operator already has — state
    * TTL + the compacted batch seed index — not band width. */
  def nearDupStream(spark: SparkSession, inputGlob: String, maxHamming: Int = 3,
                    stateTtlMs: Option[Long] = None,
                    seedIndex: Option[org.apache.spark.sql.Dataset[(Long, Long)]] = None)
      : org.apache.spark.sql.Dataset[NearDupHit] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val docs = spark.readStream.text(inputGlob)
      .as[String]
      .flatMap { line =>
        val i = line.indexOf('\t')
        if (i <= 0) None
        else line.substring(0, i).toLongOption
          .map(id => (id, graft.ext.Dedup.simhash64(line.substring(i + 1))))
      }
    def band(id: Long, sh: Long): Seq[(Int, Long, Long, Long)] =
      (0 until 4).map(b => (b, (sh >>> (16 * b)) & 0xffffL, id, sh))
    val banded = docs.flatMap { case (id, sh) => band(id, sh) }

    val kernel: ((Int, Long), Iterator[(Int, Long, Long, Long)],
                 GroupState[BandMembers]) => Iterator[NearDupHit] = {
      case (_, _, state) if state.hasTimedOut =>
        // quiet bucket aged out: hand its history to the batch index
        state.remove()
        Iterator.empty
      case (_, rows, state) =>
        val st = state.getOption.getOrElse(BandMembers(Array.empty, Array.empty))
        val ids = scala.collection.mutable.ArrayBuffer(st.memberIds.toSeq: _*)
        val hs = scala.collection.mutable.ArrayBuffer(st.memberSims.toSeq: _*)
        val out = scala.collection.mutable.ArrayBuffer[NearDupHit]()
        rows.toSeq.sortBy(_._3).foreach { case (b, _, id, sh) =>
          if (!ids.contains(id)) {
            var k = 0
            while (k < ids.length) {
              val d = java.lang.Long.bitCount(sh ^ hs(k))
              if (d <= maxHamming) out += NearDupHit(b, id, ids(k), d)
              k += 1
            }
            ids += id; hs += sh
          }
        }
        state.update(BandMembers(ids.toArray, hs.toArray))
        // update() clears any pending timeout — re-arm after every write
        stateTtlMs.foreach(state.setTimeoutDuration)
        out.iterator
    }

    val timeoutConf =
      if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val grouped = banded.groupByKey(r => (r._1, r._2))
    seedIndex match {
      case Some(seed) =>
        val init = seed
          .flatMap { case (id, sh) => band(id, sh) }
          .groupByKey(r => (r._1, r._2))
          .mapGroups { (k: (Int, Long), rows: Iterator[(Int, Long, Long, Long)]) =>
            val rs = rows.toArray.sortBy(_._3)
            (k, BandMembers(rs.map(_._3), rs.map(_._4)))
          }
          .groupByKey(_._1).mapValues(_._2)
        grouped.flatMapGroupsWithState[BandMembers, NearDupHit](
          OutputMode.Append(), timeoutConf, init)(kernel)
      case None =>
        grouped.flatMapGroupsWithState[BandMembers, NearDupHit](
          OutputMode.Append(), timeoutConf)(kernel)
    }
  }

  /** Event-time variant of [[nearDupStream]] — the aging option that
    * removes the ProcessingTimeTimeout scheduling trap documented
    * there. Input lines are `id \t epoch_millis \t text` (a crawl
    * feed's fetch timestamp); buckets age by WATERMARK: each bucket
    * re-arms its timeout at (max event time it has seen) + `ttlMs`,
    * and is evicted when the watermark passes that instant — wall
    * clock and trigger cadence are irrelevant, replays age
    * identically (the determinism processing-time TTL can't give).
    *
    * Because `FlatMapGroupsWithStateExec.shouldRunAnotherBatch` under
    * `EventTimeTimeout` re-fires only while the watermark ADVANCES,
    * a `Trigger.AvailableNow` drain terminates: data batches, then at
    * most one timeout-processing batch per watermark step, then done
    * — no self-scheduling-forever. Late rows (event time at or below
    * the current watermark) may arrive while their bucket still
    * lives; the re-arm clamps to watermark + 1 so Spark's "timeout
    * must be ahead of the watermark" contract holds. */
  def nearDupStreamEventTime(spark: SparkSession, inputGlob: String,
                             ttlMs: Long, maxHamming: Int = 3,
                             watermarkDelay: String = "0 milliseconds",
                             seedIndex: Option[org.apache.spark.sql.Dataset[(Long, Long)]] = None,
                             maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.Dataset[NearDupHit] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val reader0 = spark.readStream
    // one file per micro-batch makes the batch sequence (and so the
    // watermark trajectory) a deterministic function of file order —
    // the knob the batch-twin parity test ([[nearDupTtlBatchOf]])
    // turns to replay day-batches exactly
    val reader = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
    val docs = reader.text(inputGlob)
      .as[String]
      .flatMap { line =>
        line.split("\t", 3) match {
          case Array(idS, tsS, text) =>
            for { id <- idS.toLongOption; ts <- tsS.toLongOption }
              yield (id, ts, graft.ext.Dedup.simhash64(text))
          case _ => None
        }
      }
      .toDF("id", "ts_ms", "sh")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .withWatermark("event_time", watermarkDelay)
    // banding stays in DataFrame ops: a typed flatMap would mint new
    // attributes WITHOUT the watermark metadata and the stateful op
    // would reject the event-time timeout ("watermark must be
    // specified"). The & 0xffff mask makes arithmetic shiftright
    // equal to >>> here (shift ≤ 48 bits).
    val banded = docs
      .withColumn("band", explode(lit((0 until 4).toArray)))
      .select(col("band"),
        expr("shiftright(sh, 16 * band) & 65535").as("bucket"),
        col("id"), col("sh"), col("ts_ms"), col("event_time"))
      .as[(Int, Long, Long, Long, Long, java.sql.Timestamp)]

    val kernel: ((Int, Long),
                 Iterator[(Int, Long, Long, Long, Long, java.sql.Timestamp)],
                 GroupState[BandMembers]) => Iterator[NearDupHit] = {
      case (_, _, state) if state.hasTimedOut =>
        // the watermark passed this bucket's last activity + TTL:
        // its history is the batch index's from here on
        state.remove()
        Iterator.empty
      case (_, rows, state) =>
        val st = state.getOption.getOrElse(BandMembers(Array.empty, Array.empty))
        val ids = scala.collection.mutable.ArrayBuffer(st.memberIds.toSeq: _*)
        val hs = scala.collection.mutable.ArrayBuffer(st.memberSims.toSeq: _*)
        val out = scala.collection.mutable.ArrayBuffer[NearDupHit]()
        // seed from the max EVER seen, not this batch's max: a later
        // batch carrying only older (above-watermark) rows must not
        // pull the armed timeout EARLIER — eviction stays monotone
        // per bucket and independent of batch composition.
        var maxTs = st.maxSeenTs
        rows.toSeq.sortBy(_._3).foreach { case (b, _, id, sh, ts, _) =>
          if (ts > maxTs) maxTs = ts
          if (!ids.contains(id)) {
            var k = 0
            while (k < ids.length) {
              val d = java.lang.Long.bitCount(sh ^ hs(k))
              if (d <= maxHamming) out += NearDupHit(b, id, ids(k), d)
              k += 1
            }
            ids += id; hs += sh
          }
        }
        state.update(BandMembers(ids.toArray, hs.toArray, maxTs))
        state.setTimeoutTimestamp(
          math.max(state.getCurrentWatermarkMs() + 1, maxTs + ttlMs))
        out.iterator
    }

    val grouped = banded.groupByKey(r => (r._1, r._2))
    seedIndex match {
      case Some(seed) =>
        val init = seed
          .flatMap { case (id, sh) =>
            (0 until 4).map(b => (b, (sh >>> (16 * b)) & 0xffffL, id, sh))
          }
          .groupByKey(r => (r._1, r._2))
          .mapGroups { (k: (Int, Long), rows: Iterator[(Int, Long, Long, Long)]) =>
            val rs = rows.toArray.sortBy(_._3)
            (k, BandMembers(rs.map(_._3), rs.map(_._4)))
          }
          .groupByKey(_._1).mapValues(_._2)
        grouped.flatMapGroupsWithState[BandMembers, NearDupHit](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout, init)(kernel)
      case None =>
        grouped.flatMapGroupsWithState[BandMembers, NearDupHit](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(kernel)
    }
  }

  /** Millis per day — the batch granularity of [[nearDupTtlBatchOf]]
    * and the TTL unit of the `near_dup_ttl_batch` query. */
  private val DAY_MS = 86400000L
  /** Twin-id offset for the `near_dup_ttl_batch` feed (disjoint from
    * every event_id at any test scale). */
  private val TTL_TWIN_OFF = 20000000L

  /** BATCH TWIN of [[nearDupStreamEventTime]]'s accept/reject kernel —
    * the oracle anchor the streaming path can't have directly (DuckDB
    * doesn't run micro-batches). Input is the same feed shape
    * `(id, ts_ms, text)`; batches are DAYS (`ts_ms div 86400000` —
    * every row's event time lies inside its batch's day, the file-per-
    * day replay the parity test drives), and the function reproduces
    * the stream's hit set EXACTLY under that batching:
    *
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
    *    ((day, id) — the kernel sorts each batch's rows by id).
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

  /** Streaming → JDBC with exactly-once semantics — the reference's
    * literal job ("parse logs, INSERT INTO MySQL",
    * `real_parse.pl:96-177`) in its modern shape: `foreachBatch` with
    * batch-id scrub-then-append. The checkpoint makes micro-batch
    * REPLAY the failure mode (a batch can be re-run after a crash
    * between the JDBC write and the offset commit); tagging every row
    * with its `batch_id` and deleting that batch's rows before
    * re-appending makes the write idempotent — the standard
    * exactly-once recipe for non-transactional streaming sinks, and
    * the distributed answer to the reference's `LOCK TABLES` (S12).
    * Batched inserts (batchsize) like the batch JDBC sink; the DELETE
    * is one indexed statement per (replayed) batch, not per row. */
  def jdbcIngest(spark: SparkSession, inputGlob: String, checkpointDir: String,
                 url: String, table: String): StreamingQuery =
    parseLines(spark.readStream.text(inputGlob))
      .select(col("client_ip_address"), col("datetime"),
        col("presentation_id"), col("bytes_sent"))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          // First batch: the table doesn't exist yet (the append below
          // creates it), so probe the catalog instead of swallowing
          // SQLExceptions — a transient DELETE failure during a REPLAY
          // must fail the batch, or the re-append would double rows.
          // The probe must honor a schema-qualified dbtable: match on
          // (schema, name), or a bare name would never match and the
          // scrub would silently skip — exactly the double-append the
          // probe exists to prevent.
          val (schemaPart, namePart) = table.split("\\.") match {
            case Array(s, t) => (Some(s), t)
            // unqualified: scope to the CONNECTION's current schema
            // (where the unqualified DELETE/append will act) — a
            // same-named table in another schema must not count. A
            // driver that reports NO current schema leaves that scope
            // undefined; degrading to a name-only match across all
            // schemas would be exactly the cross-schema false positive
            // this probe exists to prevent, so fail loudly instead.
            case _ =>
              val cur = conn.getSchema
              require(cur != null,
                s"jdbcIngest: the JDBC driver for $url reports no " +
                  "current schema, so an unqualified dbtable " +
                  s"('$table') cannot be scoped for the replay scrub; " +
                  "use a schema-qualified dbtable")
              (Some(cur), table)
          }
          // Narrowed catalog probe: pass the table name as the
          // tableNamePattern instead of enumerating every table in the
          // database per micro-batch. JDBC metadata patterns are
          // case-SENSITIVE against the stored form and engines
          // case-fold unquoted DDL identifiers differently (Derby →
          // upper), so try the distinct case variants; the row filter
          // stays equalsIgnoreCase because `_` in a pattern is a
          // single-char wildcard and may over-match.
          def probe(sp: String, np: String): Boolean = {
            val rs = conn.getMetaData.getTables(null, sp, np,
              Array("TABLE"))
            try Iterator.continually(rs).takeWhile(_.next()).exists { r =>
              r.getString("TABLE_NAME").equalsIgnoreCase(namePart) &&
                schemaPart.forall(s =>
                  s.equalsIgnoreCase(r.getString("TABLE_SCHEM")))
            }
            finally rs.close()
          }
          val exists = {
            val schemaPats =
              schemaPart.toSeq.flatMap(s =>
                Seq(s, s.toUpperCase, s.toLowerCase).distinct)
            val namePats =
              Seq(namePart, namePart.toUpperCase, namePart.toLowerCase)
                .distinct
            schemaPats.exists(sp => namePats.exists(np => probe(sp, np)))
          }
          if (exists) {
            // Spark's JDBC writer passes the TABLE name through raw but
            // quotes every COLUMN name per the url's dialect — the
            // scrub must match: unquoted table (engine case-folding
            // applies as at CREATE), dialect-quoted column (a bare
            // batch_id would fold away from the quoted form).
            val bid = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
              .quoteIdentifier("batch_id")
            val st = conn.createStatement()
            try st.executeUpdate(
              s"DELETE FROM $table WHERE $bid = $batchId")
            finally st.close()
          }
        } finally conn.close()
        // No hardcoded driver: DriverManager resolves it from the url
        // (same mechanism as the scrub connection above).
        batch.withColumn("batch_id", lit(batchId))
          .write.format("jdbc")
          .option("url", url).option("dbtable", table)
          .option("batchsize", "500")
          .mode("append").save()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Stream-static enrichment join — the reference's per-row
    * dimension lookups (`pull_report.pl`'s customer→project→file
    * chain, SURVEY §2.3 J2/J3) re-expressed in the streaming path:
    * each parsed line is joined against a STATIC asset-catalog
    * DataFrame on `name`. Structured Streaming re-plans the static
    * side every micro-batch (a catalog refresh between batches is
    * picked up without restarting), and a small dim side broadcasts,
    * so the stream side never shuffles. Left join + explicit default:
    * an uncatalogued asset must flow through tagged, not vanish —
    * the N/A-format rule (F3) applied to enrichment. */
  def enrichedStream(spark: SparkSession, inputGlob: String,
                     assetDim: DataFrame): DataFrame =
    parseLines(spark.readStream.text(inputGlob))
      .join(broadcast(assetDim), Seq("name"), "left")
      .withColumn("category",
        coalesce(col("category"), lit("uncategorized")))

  /** Stream-STREAM interval join — correlates the two live server
    * feeds the reference could only process in separate cron passes
    * (real_parse.pl and web_parse.pl each own a format; SURVEY §3.3):
    * a RealServer access joined to same-client Caudium web hits
    * within ±30 minutes ("which streaming clients also pulled the
    * web assets, live"). Both sides carry watermarks and the join
    * condition carries the time range, so Spark bounds the buffered
    * state on each side to watermark + range — the state-cleanup
    * contract stream-stream joins require. Inner join: rows emit as
    * soon as both sides arrive (append mode safe). */
  def crossServerJoin(spark: SparkSession, rsGlob: String,
                      webGlob: String): DataFrame = {
    val r = parseLines(spark.readStream.text(rsGlob))
      .select(col("client_ip_address").as("ip"), col("datetime").as("r_time"),
        col("name").as("r_name"), col("bytes_sent").as("r_bytes"))
      .withWatermark("r_time", "1 hour")
    val w = parseWebLines(spark.readStream.text(webGlob))
      .select(col("client_ip_address").as("w_ip"),
        col("datetime").as("w_time"), col("name").as("w_name"),
        col("bytes_sent").as("w_bytes"))
      .withWatermark("w_time", "1 hour")
    r.join(w, col("ip") === col("w_ip") &&
        col("w_time") >= col("r_time") - expr("INTERVAL 30 MINUTES") &&
        col("w_time") <= col("r_time") + expr("INTERVAL 30 MINUTES"))
      .select(col("ip"), col("r_time"), col("w_time"),
        col("r_name"), col("w_name"), col("r_bytes"), col("w_bytes"))
  }

  /** Streaming per-hour per-status counts with late-data drop — the
    * §2.7 windowed-aggregation extension. Append mode: a window only
    * emits once the watermark passes it (deterministic final counts). */
  def hourlyCounts(spark: SparkSession, inputGlob: String): DataFrame =
    parseLines(spark.readStream.text(inputGlob))
      .withWatermark("datetime", "1 hour")
      .groupBy(window(col("datetime"), "1 hour"), col("status_code"))
      .agg(count(lit(1)).as("n"), sum(col("bytes_sent")).as("bytes"))
      .select(col("window.start").as("window_start"), col("status_code"),
        col("n"), col("bytes"))

  /** Streaming per-client SESSION windows (30-minute inactivity gap)
    * — the stream analog of the batch `sessionize` query: state is
    * one open session per active client, merged as events arrive and
    * closed (append-mode emit) once the watermark passes the gap.
    * `session_window` keeps the state bounded the way the batch
    * gaps-and-islands window cannot: the store holds only OPEN
    * sessions, and a closed session's state is dropped at emit —
    * exactly the semantics `mapGroupsWithState` would hand-build,
    * from the built-in operator (checkpointable, AQE-planned,
    * restart-safe for free). */
  def sessionWindows(spark: SparkSession, inputGlob: String): DataFrame =
    parseLines(spark.readStream.text(inputGlob))
      .withWatermark("datetime", "1 hour")
      .groupBy(session_window(col("datetime"), "30 minutes"),
        col("client_ip_address"))
      .agg(count(lit(1)).as("n_req"), sum(col("bytes_sent")).as("bytes"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("client_ip_address"), col("n_req"), col("bytes"))

  private[graft] val CM_ROWS = 4
  private[graft] val CM_COLS = 2048

  /** The streamed key's Count-Min cell set — shared by the stream and
    * its batch twin so StreamSpec's parity assertion is structural. */
  private[graft] def cmCells(k: org.apache.spark.sql.Column) =
    array((0 until CM_ROWS).map(r => struct(lit(r).as("r"),
      (graft.util.Hashing.phash(k, s"scm${r}_") % CM_COLS).as("c"))): _*)

  /** Streaming Count-Min sketch over asset names — the frequency
    * sketch maintained INCREMENTALLY on the live feed (the streaming
    * mirror of the batch `heavy_hitters_cm` operator). Each arriving
    * line lands in [[CM_ROWS]] cells; the streaming aggregation's
    * keyed state is the cell grid itself, so state is bounded at
    * [[CM_ROWS]]·[[CM_COLS]] rows FOREVER — no watermark needed, no
    * growth with stream length: the defining property of a sketch as
    * streaming state. Counts accumulate across restarts/rotations via
    * the checkpoint, and any key's frequency estimate is min over its
    * cells, never an undercount — queryable mid-stream without
    * stopping ingestion. */
  def cmSketchStream(spark: SparkSession, inputGlob: String): DataFrame =
    parseLines(spark.readStream.text(inputGlob))
      .select(explode(cmCells(col("name"))).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("cnt"))

  case class HourAssess(status_code: Long, hour_epoch: Long, n: Long,
    trail_sum: Long, trail_hours: Long, is_anomaly: Boolean)

  /** Streaming rate-anomaly gate — the live mirror of the batch
    * `rate_anomaly` operator (same rule: a full 24-hour baseline and
    * the integer compare `n·24 > 2·trail`): per status code, a RING
    * of the last 25 hourly counts rides as keyed state, each arriving
    * hour re-emits its current assessment (update-mode upsert
    * semantics — a late line corrects its hour's verdict on the next
    * batch), and state prunes to the 25-hour horizon every batch, so
    * store size is STRUCTURALLY ≤ 26 entries per status forever — the
    * cmSketchStream bounded-state property, here via explicit
    * pruning in `flatMapGroupsWithState` because the trailing-window
    * compare needs cross-window state no built-in windowed agg can
    * express.
    *
    * For a time-ordered feed (log rotation), an hour's trailing
    * baseline always arrives no later than the hour itself, so the
    * LAST emission per (status, hour) equals the batch assessment —
    * StreamSpec pins that parity. */
  def anomalyGateStream(spark: SparkSession, inputGlob: String)
      : org.apache.spark.sql.Dataset[HourAssess] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    parseLines(spark.readStream.text(inputGlob))
      .select(col("status_code").cast("long"),
        (floor(unix_timestamp(col("datetime")) / 3600) * 3600).cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, Long], HourAssess](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (status, rows, state) =>
          val prev = state.getOption.getOrElse(Map.empty[Long, Long])
          val arrived = rows.foldLeft(Map.empty[Long, Long]) { (m, r) =>
            m.updated(r._2, m.getOrElse(r._2, 0L) + 1L)
          }
          val merged = arrived.foldLeft(prev) { case (m, (h, c)) =>
            m.updated(h, m.getOrElse(h, 0L) + c)
          }
          val horizon = merged.keys.max - 25L * 3600
          state.update(merged.filter { case (h, _) => h >= horizon })
          arrived.keys.toSeq.sorted.iterator.map { h =>
            val trail = merged.view
              .filterKeys(k => k >= h - 24L * 3600 && k <= h - 3600)
            val ts = trail.values.sum
            val th = trail.size.toLong
            HourAssess(status, h, merged(h), ts, th,
              th == 24L && merged(h) * 24 > ts * 2)
          }
      }
  }
}
