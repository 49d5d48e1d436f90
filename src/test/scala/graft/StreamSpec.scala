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

  test("mediaFingerprintStream fingerprints each blob file once and matches batch") {
    val base = Files.createTempDirectory("graft_media_stream").toString
    val in = s"$base/in"; val cp = s"$base/cp"; val out = s"$base/out"
    new java.io.File(in).mkdirs()

    // arrival 1: the base images; arrival 2: the perturbed twins —
    // split the batch twin table into two "upload batches"
    val m = graft.ext.Multimodal.ppmMediaTwinTable(spark, sf).cache()
    m.filter(col("media_id") < 1000000L)
      .write.mode("overwrite").parquet(s"$in/b1")
    StreamEtl.mediaFingerprintStream(spark, s"$in/*", cp, out)
      .awaitTermination()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == m.filter(col("media_id") < 1000000L).count(),
      s"first drain fingerprinted $n1 blobs")

    m.filter(col("media_id") >= 1000000L)
      .write.mode("overwrite").parquet(s"$in/b2")
    StreamEtl.mediaFingerprintStream(spark, s"$in/*", cp, out)
      .awaitTermination()
    val streamed = spark.read.parquet(out)
    assert(streamed.count() == m.count(),
      "restart re-fingerprinted an already-consumed blob file")

    // the streamed index is EXACTLY the batch index — same kernel,
    // so the near-dup probes can join either artifact
    val batch = graft.ext.Multimodal.fingerprintImages(spark, sf).collect()
      .map(f => (f.media_id, f.width, f.height, f.lum_total, f.sig,
        f.raster_hash)).toSet
    val got = streamed.collect().map(r => (r.getLong(0), r.getInt(1),
      r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == batch, "streamed fingerprints diverge from the batch kernel")
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

  test("mapGroupsWithState totals accumulate across restarts") {
    val base = Files.createTempDirectory("graft_state").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val lines = Style5.renderedLines(spark, sf).cache()

    def runOnce(qname: String): Map[String, (Long, Long)] = {
      // memory sink can't recover from a checkpoint; foreachBatch can
      val buf = new scala.collection.concurrent.TrieMap[String, (Long, Long)]()
      val q = StreamEtl.runningClientTotals(spark, s"$in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamEtl.ClientTotals], _: Long) =>
          batch.collect().foreach(t => buf.put(t.client_ip, (t.n_requests, t.total_bytes)))
        }
        .option("checkpointLocation", s"$base/cp")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      buf.toMap
    }

    lines.filter(col("event_id") < 200).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f1")
    val t1 = runOnce("totals_run1")
    assert(t1.values.map(_._1).sum == 200)

    lines.filter(col("event_id") >= 200 && col("event_id") < 350).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f2")
    val t2 = runOnce("totals_run2")
    // update-mode memory sink accumulates rows; keep the latest per key
    // by checking that some client's total grew beyond its t1 value
    val grew = t2.exists { case (ip, (n, _)) => n > t1.getOrElse(ip, (0L, 0L))._1 }
    assert(grew, "state did not accumulate across the restart")

    // correctness surface, not just liveness: run 2 emits only the
    // clients f2 touched, so (t1 overridden by t2) IS the final state
    // — it must equal the batch aggregation over the full universe
    val batch = StreamEtl.parseLines(spark.read.text(s"$in/*"))
      .groupBy(col("client_ip_address"))
      .agg(count(lit(1)).as("n"), sum(col("bytes_sent")).as("b"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert((t1 ++ t2) == batch,
      "restart-spanning state diverged from the batch aggregation")
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

  test("firstSeenLines dedups by content exactly once across restarts") {
    val base = Files.createTempDirectory("graft_firstseen").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()

    def runOnce(): Seq[StreamEtl.FirstSeen] = {
      val buf = new scala.collection.mutable.ArrayBuffer[StreamEtl.FirstSeen]()
      val q = StreamEtl.firstSeenLines(spark, s"$in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamEtl.FirstSeen], _: Long) =>
          buf.synchronized { buf ++= batch.collect() }; ()
        }
        .option("checkpointLocation", s"$base/cp")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      buf.synchronized(buf.toSeq)
    }

    // f1: 3 distinct lines, one duplicated in-batch
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f1"),
      "alpha doc\nbeta doc\nalpha doc\ngamma doc\n")
    val e1 = runOnce()
    assert(e1.map(_.line).sorted == Seq("alpha doc", "beta doc", "gamma doc"),
      s"in-batch dedup failed: $e1")

    // f2 (after restart): two repeats plus two new lines
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f2"),
      "beta doc\ndelta doc\ngamma doc\nepsilon doc\n")
    val e2 = runOnce()
    assert(e2.map(_.line).sorted == Seq("delta doc", "epsilon doc"),
      s"cross-restart dedup failed: $e2")

    // the union equals the batch distinct over everything ever seen
    val batchDistinct = spark.read.text(s"$in/*")
      .select(col("value")).distinct().collect().map(_.getString(0)).toSet
    assert((e1 ++ e2).map(_.line).toSet == batchDistinct)
    // and the key is the full 128-bit md5 of the content
    val h = e1.find(_.line == "alpha doc").get.content_hash
    assert(h.length == 32 && h.matches("[0-9a-f]+"), s"not an md5 hex key: $h")
  }

  test("hourlyCounts watermark-closed windows match the batch aggregation " +
       "across restarts") {
    val base = Files.createTempDirectory("graft_stream2").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val data = Style5.renderedLines(spark, sf).filter(col("event_id") < 2000)
    data.select("line").coalesce(1).write.mode("overwrite").text(s"$in/f1")

    def runOnce(): Seq[(java.sql.Timestamp, Long, Long, Long)] = {
      // memory sink can't recover from a checkpoint; foreachBatch can
      val buf = new scala.collection.mutable.ArrayBuffer[(java.sql.Timestamp, Long, Long, Long)]()
      val q = StreamEtl.hourlyCounts(spark, s"$in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= batch.collect().map(r =>
              (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          }; ()
        }
        .option("checkpointLocation", s"$base/cp")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      buf.synchronized(buf.toSeq)
    }
    // run 1: single batch, nothing is watermark-closed yet
    val e1 = runOnce()

    // far-future sentinel lines advance the watermark past every real
    // window on the next two restarts, forcing append-mode emission
    // of ALL real windows while landing in no real window themselves
    val sample = data.select("line").head().getString(0)
    def sentinel(d: String) = sample.replaceFirst("\\[[^ ]+ ", s"[$d ")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/f2"), sentinel("01/Jan/2030:00:00:00") + "\n")
    val e2 = runOnce()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/f3"), sentinel("02/Jan/2030:00:00:00") + "\n")
    val e3 = runOnce()

    // every real (pre-sentinel) window emitted exactly once across the
    // restarts, with counts equal to the batch twin
    val cutoff = java.sql.Timestamp.valueOf("2029-01-01 00:00:00")
    val emitted = (e1 ++ e2 ++ e3).filter(_._1.before(cutoff))
    assert(emitted.size == emitted.toSet.size, "a window emitted twice")
    val batch = StreamEtl.parseLines(spark.read.text(s"$in/f1"))
      .groupBy(window(col("datetime"), "1 hour"), col("status_code"))
      .agg(count(lit(1)).as("n"), sum(col("bytes_sent")).as("bytes"))
      .select(col("window.start"), col("status_code"), col("n"), col("bytes"))
      .collect().toSeq
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(emitted.toSet == batch.toSet,
      "emitted windows diverged from the batch aggregation")
  }

  test("sessionWindows closed sessions match the batch session_window " +
       "aggregation across restarts") {
    val base = Files.createTempDirectory("graft_sess").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val data = Style5.renderedLines(spark, sf).filter(col("event_id") < 2000)
    data.select("line").coalesce(1).write.mode("overwrite").text(s"$in/f1")

    def runOnce(): Seq[(java.sql.Timestamp, java.sql.Timestamp, String, Long, Long)] = {
      val buf = new scala.collection.mutable.ArrayBuffer[
        (java.sql.Timestamp, java.sql.Timestamp, String, Long, Long)]()
      val q = StreamEtl.sessionWindows(spark, s"$in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= batch.collect().map(r =>
              (r.getTimestamp(0), r.getTimestamp(1), r.getString(2),
               r.getLong(3), r.getLong(4)))
          }; ()
        }
        .option("checkpointLocation", s"$base/cp")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      buf.synchronized(buf.toSeq)
    }
    val e1 = runOnce()
    // sentinel far in the future closes every real session (same
    // watermark-advance trick as the hourlyCounts test)
    val sample = data.select("line").head().getString(0)
    def sentinel(d: String) = sample.replaceFirst("\\[[^ ]+ ", s"[$d ")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/f2"), sentinel("01/Jan/2030:00:00:00") + "\n")
    val e2 = runOnce()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/f3"), sentinel("02/Jan/2030:00:00:00") + "\n")
    val e3 = runOnce()

    val cutoff = java.sql.Timestamp.valueOf("2029-01-01 00:00:00")
    val emitted = (e1 ++ e2 ++ e3).filter(_._1.before(cutoff))
    assert(emitted.nonEmpty)
    assert(emitted.size == emitted.toSet.size, "a session emitted twice")
    // batch twin: the same session_window aggregation over the static file
    val batch = StreamEtl.parseLines(spark.read.text(s"$in/f1"))
      .groupBy(session_window(col("datetime"), "30 minutes"),
        col("client_ip_address"))
      .agg(count(lit(1)).as("n_req"), sum(col("bytes_sent")).as("bytes"))
      .select(col("session_window.start"), col("session_window.end"),
        col("client_ip_address"), col("n_req"), col("bytes"))
      .collect().toSeq
      .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(emitted.toSet == batch.toSet,
      "closed streaming sessions diverged from the batch session_window twin")
  }

  test("enrichedStream joins the static asset catalog per micro-batch") {
    val base = Files.createTempDirectory("graft_enrich").toString
    val in = s"$base/in"; val out = s"$base/out"
    new java.io.File(in).mkdirs()
    val lines = Style5.renderedLines(spark, sf).filter(col("event_id") < 500)
    lines.select("line").coalesce(1).write.mode("overwrite").text(s"$in/f1")
    // static catalog: half the distinct asset names, hash-categorized
    // — the other half must surface as 'uncategorized', not vanish
    val dim = StreamEtl.parseLines(spark.read.text(s"$in/f1"))
      .select(col("name")).distinct()
      .filter(graft.util.Hashing.phash(col("name")) % 2 === 0)
      .withColumn("category",
        concat(lit("cat"), (graft.util.Hashing.phash(col("name")) % 3).cast("string")))
    val q = StreamEtl.enrichedStream(spark, s"$in/*", dim)
      .select(col("name"), col("category"), col("bytes_sent"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", s"$base/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
    assert(streamed.count() == 500, "enrichment dropped or duplicated rows")
    // per-category totals must match the batch-side join exactly
    val batchTwin = StreamEtl.parseLines(spark.read.text(s"$in/f1"))
      .join(dim, Seq("name"), "left")
      .withColumn("category", coalesce(col("category"), lit("uncategorized")))
      .groupBy("category").agg(count(lit(1)).as("n"), sum("bytes_sent").as("b"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = streamed
      .groupBy("category").agg(count(lit(1)).as("n"), sum("bytes_sent").as("b"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == batchTwin, s"stream/batch enrichment diverged: $got vs $batchTwin")
    assert(got.contains("uncategorized"), "left-join default lane is empty")
  }

  test("enrichedStream spans a rotation restart and picks up a catalog " +
       "refresh between batches") {
    val base = Files.createTempDirectory("graft_enrich3").toString
    val in = s"$base/in"; val out = s"$base/out"
    new java.io.File(in).mkdirs()
    val lines = Style5.renderedLines(spark, sf).cache()
    lines.filter(col("event_id") < 250).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f1")

    def runOnce(dim: org.apache.spark.sql.DataFrame): Unit = {
      val q = StreamEtl.enrichedStream(spark, s"$in/*", dim)
        .select(col("name"), col("category"), col("bytes_sent"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", s"$base/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def twin(path: String, dim: org.apache.spark.sql.DataFrame) =
      StreamEtl.parseLines(spark.read.text(path))
        .join(dim, Seq("name"), "left")
        .withColumn("category", coalesce(col("category"), lit("uncategorized")))
        .select(col("name"), col("category"), col("bytes_sent"))

    import spark.implicits._
    val names = StreamEtl.parseLines(spark.read.text(s"$in/f1"))
      .select(col("name")).distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(names.size >= 2, "fixture needs at least two distinct assets")
    val dimV1 = names.take(1).toDF("name").withColumn("category", lit("v1"))
    runOnce(dimV1)
    assert(spark.read.parquet(out).count() == 250)

    // rotation + catalog refresh: the restart must ingest ONLY f2, and
    // the static side must be re-planned against the NEW catalog —
    // f1's rows keep their v1 enrichment, f2's rows see v2
    lines.filter(col("event_id") >= 250 && col("event_id") < 450).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f2")
    val dimV2 = names.take(2).toDF("name").withColumn("category", lit("v2"))
    runOnce(dimV2)
    val got = spark.read.parquet(out)
    assert(got.count() == 450, "rotation double-loaded or dropped rows")
    val want = twin(s"$in/f1", dimV1).unionAll(twin(s"$in/f2", dimV2))
      .groupBy("category").agg(count(lit(1)).as("n"), sum("bytes_sent").as("b"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val have = got
      .groupBy("category").agg(count(lit(1)).as("n"), sum("bytes_sent").as("b"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(have == want, s"piecewise batch twin diverged: $have vs $want")
    assert(have.contains("v1") && have.contains("v2"),
      "catalog refresh not picked up between batches")
  }

  test("hourlyCounts drops late rows for watermark-closed windows " +
       "across restarts") {
    val base = Files.createTempDirectory("graft_stream3").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val data = Style5.renderedLines(spark, sf).filter(col("event_id") < 1000).cache()
    data.select("line").coalesce(1).write.mode("overwrite").text(s"$in/f1")

    def runOnce(): Seq[(java.sql.Timestamp, Long, Long, Long)] = {
      val buf = new scala.collection.mutable.ArrayBuffer[(java.sql.Timestamp, Long, Long, Long)]()
      val q = StreamEtl.hourlyCounts(spark, s"$in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= batch.collect().map(r =>
              (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          }; ()
        }
        .option("checkpointLocation", s"$base/cp")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      buf.synchronized(buf.toSeq)
    }

    val e1 = runOnce()
    // two sentinel restarts close every real window (see the parity
    // test above for why append mode needs two)
    val sample = data.select("line").head().getString(0)
    def sentinel(d: String) = sample.replaceFirst("\\[[^ ]+ ", s"[$d ")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/f2"), sentinel("01/Jan/2030:00:00:00") + "\n")
    val e2 = runOnce()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/f3"), sentinel("02/Jan/2030:00:00:00") + "\n")
    val e3 = runOnce()

    // a LATE row for an already-closed window arrives after a restart:
    // the checkpointed watermark (~2030) must DROP it, not re-emit or
    // mutate the closed window
    val lateLine = data.select("line").head().getString(0)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/f4"), lateLine + "\n")
    val e4 = runOnce()

    val cutoff = java.sql.Timestamp.valueOf("2029-01-01 00:00:00")
    val emitted = (e1 ++ e2 ++ e3 ++ e4).filter(_._1.before(cutoff))
    assert(emitted.size == emitted.toSet.size, "a closed window emitted twice")
    val batchF1 = StreamEtl.parseLines(spark.read.text(s"$in/f1"))
      .groupBy(window(col("datetime"), "1 hour"), col("status_code"))
      .agg(count(lit(1)).as("n"), sum(col("bytes_sent")).as("bytes"))
      .select(col("window.start"), col("status_code"), col("n"), col("bytes"))
      .collect().toSeq
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(emitted.toSet == batchF1.toSet,
      "late row leaked into a watermark-closed window")
    // non-vacuous: a batch twin INCLUDING the late file differs, so
    // the equality above proves the drop actually happened
    val batchWithLate = StreamEtl.parseLines(
        spark.read.text(s"$in/f1").unionAll(spark.read.text(s"$in/f4")))
      .groupBy(window(col("datetime"), "1 hour"), col("status_code"))
      .agg(count(lit(1)).as("n"), sum(col("bytes_sent")).as("bytes"))
      .select(col("window.start"), col("status_code"), col("n"), col("bytes"))
      .collect().toSeq
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(batchWithLate.toSet != batchF1.toSet,
      "late fixture landed in no window — the drop assertion is vacuous")
  }

  test("crossServerJoin: stream-stream interval join matches the batch twin " +
       "across a rotation restart") {
    val base = Files.createTempDirectory("graft_ssjoin").toString
    val rsIn = s"$base/rs"; val webIn = s"$base/web"; val out = s"$base/out"
    new java.io.File(rsIn).mkdirs(); new java.io.File(webIn).mkdirs()
    val rsLines = Style5.renderedLines(spark, sf).cache()
    val webLines = graft.parse.WebLog.renderedLines(spark, sf).cache()

    def runOnce(): Unit = {
      val q = StreamEtl.crossServerJoin(spark, s"$rsIn/*", s"$webIn/*")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", s"$base/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    rsLines.filter(col("event_id") < 400).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$rsIn/f1")
    webLines.filter(col("event_id") < 400).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$webIn/f1")
    runOnce()
    val n1 = spark.read.parquet(out).count()
    assert(n1 > 0, "stream-stream join emitted nothing")

    // rotate: each server gets a second file; the restart must join
    // new-vs-new AND new-vs-buffered-old pairs exactly once
    rsLines.filter(col("event_id") >= 400 && col("event_id") < 700).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$rsIn/f2")
    webLines.filter(col("event_id") >= 400 && col("event_id") < 700).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$webIn/f2")
    runOnce()

    // batch twin over the full universe
    val rBatch = StreamEtl.parseLines(spark.read.text(s"$rsIn/*"))
      .select(col("client_ip_address").as("ip"), col("datetime").as("r_time"),
        col("bytes_sent").as("r_bytes"))
    val wBatch = StreamEtl.parseWebLines(spark.read.text(s"$webIn/*"))
      .select(col("client_ip_address").as("w_ip"),
        col("datetime").as("w_time"), col("bytes_sent").as("w_bytes"))
    val batch = rBatch.join(wBatch, col("ip") === col("w_ip") &&
        col("w_time") >= col("r_time") - expr("INTERVAL 30 MINUTES") &&
        col("w_time") <= col("r_time") + expr("INTERVAL 30 MINUTES"))
    val streamed = spark.read.parquet(out)
    assert(streamed.count() == batch.count(),
      "stream-stream join row count diverged from the batch twin")
    val sB = batch.agg(sum(col("r_bytes") + col("w_bytes"))).head().getLong(0)
    val sS = streamed.agg(sum(col("r_bytes") + col("w_bytes"))).head().getLong(0)
    assert(sS == sB, "stream-stream join payload diverged from the batch twin")
  }

  test("nearDupStream flags arrivals against all prior state across restarts, " +
       "matching the hand-computed LSH twin") {
    val base = Files.createTempDirectory("graft_neardup").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val docs = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)

    def runOnce(): Seq[StreamEtl.NearDupHit] = {
      val buf = new scala.collection.mutable.ArrayBuffer[StreamEtl.NearDupHit]()
      val q = StreamEtl.nearDupStream(spark, s"$in/*")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamEtl.NearDupHit], _: Long) =>
          buf.synchronized { buf ++= batch.collect() }; ()
        }
        .option("checkpointLocation", s"$base/cp")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      buf.synchronized(buf.toSeq)
    }

    // rotation 1: the original corpus; rotation 2: the near-dup twins
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f1"),
      docs.map { case (id, t) => s"$id\t$t" }.mkString("", "\n", "\n"))
    val e1 = runOnce()
    val twins = docs.filter(_._1 % 5 == 0)
      .map { case (id, t) => (id + 100000, t + " zqxj") }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f2"),
      twins.map { case (id, t) => s"$id\t$t" }.mkString("", "\n", "\n") +
        "malformed no tab line\n")
    val e2 = runOnce()

    // hand-computed twin over the same arrival order (twin ids all sit
    // above the originals, so sorted-by-id == arrival order): per band,
    // every in-bucket pair within hamming 3
    val all = (docs ++ twins).map { case (id, t) =>
      (id, graft.ext.Dedup.simhash64(t)) }.sortBy(_._1)
    val expected = (for {
      b <- 0 until 4
      bucket <- all.groupBy { case (_, sh) => (sh >>> (16 * b)) & 0xffffL }
        .values.map(_.sortBy(_._1).toSeq)
      pair <- bucket.combinations(2)
      d = java.lang.Long.bitCount(pair(0)._2 ^ pair(1)._2)
      if d <= 3
    } yield StreamEtl.NearDupHit(b, pair(1)._1, pair(0)._1, d)).toSet
    assert((e1 ++ e2).toSet == expected, "streamed hits diverged from the LSH twin")
    assert(expected.nonEmpty, "fixture produced no near-dup hits — vacuous")
    // restart-spanning: run 2 must match new twins against run 1's state
    val crossFile = e2.filter(h => h.doc_id >= 100000 && h.dup_of < 100000)
    assert(crossFile.nonEmpty, "no twin matched pre-restart state")
    // exactly-once per (pair, band)
    val keys = (e1 ++ e2).map(h => (h.band, h.doc_id, h.dup_of))
    assert(keys.size == keys.distinct.size, "a hit emitted twice")
  }

  test("nearDupStream pair set equals the batch adaptive-banding output at either rung") {
    // the band-width contract in nearDupStream's scaladoc: the stream
    // keeps the fixed narrow 4x16 layout, and because every rung has
    // complete candidate recall at hamming <= 3 plus the exact
    // bit_count verify, the stream's DISTINCT pair set must equal the
    // batch simhashPairsOf output whichever layout the batch knob picks
    val base = Files.createTempDirectory("graft_ndparity").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val docs = graft.ext.Dedup.corpus(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f1"),
      docs.map { case (id, t) => s"$id\t$t" }.mkString("", "\n", "\n"))
    val buf = new scala.collection.mutable.ArrayBuffer[StreamEtl.NearDupHit]()
    val q = StreamEtl.nearDupStream(spark, s"$in/*")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamEtl.NearDupHit], _: Long) =>
        buf.synchronized { buf ++= batch.collect() }; ()
      }
      .option("checkpointLocation", s"$base/cp")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamPairs = buf.synchronized(buf.toSeq)
      .map(h => (math.min(h.doc_id, h.dup_of), math.max(h.doc_id, h.dup_of),
        h.hamming.toLong)).toSet
    assert(streamPairs.nonEmpty, "fixture produced no near-dup hits — vacuous")
    for (nb <- Seq(4, 2)) {
      val batchPairs = graft.ext.Dedup
        .simhashPairsOf(graft.ext.Dedup.corpus(spark, sf), Some(nb))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamPairs == batchPairs,
        s"stream pairs diverged from the $nb-band batch rung: " +
          s"onlyStream=${(streamPairs -- batchPairs).size} " +
          s"onlyBatch=${(batchPairs -- streamPairs).size}")
    }
  }

  test("nearDupStream state ages out under a TTL and re-seeds from a batch index") {
    val base = Files.createTempDirectory("graft_neardup_ttl").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val docs = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val twins = docs.filter(_._1 % 5 == 0)
      .map { case (id, t) => (id + 100000, t + " zqxj") }

    // Trigger.Once, not AvailableNow: under ProcessingTimeTimeout,
    // FlatMapGroupsWithStateExec.shouldRunAnotherBatch is always true,
    // so an AvailableNow query never self-terminates (it keeps
    // scheduling timeout-processing batches). A single-batch drain per
    // run is exactly the rotation cadence this test models anyway.
    @annotation.nowarn("cat=deprecation")
    def runOnce(cp: String,
                seed: Option[org.apache.spark.sql.Dataset[(Long, Long)]])
        : Seq[StreamEtl.NearDupHit] = {
      val buf = new scala.collection.mutable.ArrayBuffer[StreamEtl.NearDupHit]()
      val q = StreamEtl.nearDupStream(spark, s"$in/*",
          stateTtlMs = Some(1L), seedIndex = seed)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamEtl.NearDupHit], _: Long) =>
          buf.synchronized { buf ++= batch.collect() }; ()
        }
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .start()
      q.awaitTermination()
      buf.synchronized(buf.toSeq)
    }

    // run 1 (fresh checkpoint): the originals populate bucket state
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f1"),
      docs.map { case (id, t) => s"$id\t$t" }.mkString("", "\n", "\n"))
    runOnce(s"$base/cp1", None)

    // run 2, past the TTL: a lone unrelated doc triggers timeout
    // processing — every quiet bucket (all of run 1's) is evicted
    Thread.sleep(50)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f2"),
      "999999\tzzz yyy xxx www unrelated filler words only here\n")
    runOnce(s"$base/cp1", None)

    // run 3: twins arrive — their originals' buckets were aged out, so
    // NO cross-file hit may emit (the batch index owns that history now)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f3"),
      twins.map { case (id, t) => s"$id\t$t" }.mkString("", "\n", "\n"))
    val e3 = runOnce(s"$base/cp1", None)
    val crossAfterEvict = e3.filter(h => h.doc_id >= 100000 && h.dup_of < 100000)
    assert(crossAfterEvict.isEmpty,
      s"aged-out state still matched: ${crossAfterEvict.take(3)}")

    // redeploy recipe: fresh checkpoint + the batch index as initial
    // state — the twins (all three files re-read) now DO match their
    // seeded originals
    import spark.implicits._
    val seed = docs.map { case (id, t) => (id, graft.ext.Dedup.simhash64(t)) }
      .toSeq.toDS()
    val e4 = runOnce(s"$base/cp2", Some(seed))
    val crossSeeded = e4.filter(h => h.doc_id >= 100000 && h.dup_of < 100000)
    assert(crossSeeded.nonEmpty, "re-seeded index produced no twin matches")
    // seeded members must not re-enter or self-match: no hit may name a
    // seeded id as doc_id with dup_of equal to itself
    assert(e4.forall(h => h.doc_id != h.dup_of), "self-match emitted")
    // and every cross hit agrees with the hand-computed kernel distance
    crossSeeded.foreach { h =>
      val sh1 = graft.ext.Dedup.simhash64(
        docs.find(_._1 == h.dup_of).get._2)
      val sh2 = graft.ext.Dedup.simhash64(
        twins.find(_._1 == h.doc_id).get._2)
      assert(java.lang.Long.bitCount(sh1 ^ sh2) == h.hamming)
    }
  }

  test("nearDupStreamEventTime: watermark eviction drains under AvailableNow") {
    val base = Files.createTempDirectory("graft_neardup_et").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val docs = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val twins = docs.filter(_._1 % 5 == 0)
      .map { case (id, t) => (id + 100000, t + " zqxj") }
    val T0 = 1000000L; val TTL = 10000L

    def runAvailableNow(cp: String, dir: String)
        : (Seq[StreamEtl.NearDupHit], Int) = {
      val buf = new scala.collection.mutable.ArrayBuffer[StreamEtl.NearDupHit]()
      val q = StreamEtl.nearDupStreamEventTime(spark, s"$dir/*", ttlMs = TTL)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamEtl.NearDupHit], _: Long) =>
          buf.synchronized { buf ++= batch.collect() }; ()
        }
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // the trap this variant removes: under ProcessingTimeTimeout an
      // AvailableNow query schedules timeout batches FOREVER; under
      // EventTimeTimeout it must self-terminate once the watermark
      // stops advancing
      assert(q.awaitTermination(180000),
        "AvailableNow drain did not self-terminate under EventTimeTimeout")
      (buf.synchronized(buf.toSeq), q.recentProgress.length)
    }

    // run 1: originals at T0 populate bucket state and terminate
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f1"),
      docs.map { case (id, t) => s"$id\t$T0\t$t" }.mkString("", "\n", "\n"))
    val (_, b1) = runAvailableNow(s"$base/cp1", in)
    assert(b1 <= 4, s"run 1 scheduled $b1 batches — timeout loop is back")

    // run 2: one unrelated doc past the TTL advances the watermark —
    // every T0 bucket's armed timeout (T0 + TTL) is now behind it
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f2"),
      s"999999\t${T0 + TTL + 5000}\tzzz yyy xxx www unrelated filler only\n")
    val (_, b2) = runAvailableNow(s"$base/cp1", in)
    assert(b2 <= 4, s"run 2 scheduled $b2 batches — timeout loop is back")

    // run 3: twins arrive after the eviction — no cross-file hit may
    // emit (their originals' history belongs to the batch index now)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/f3"),
      twins.map { case (id, t) => s"$id\t${T0 + TTL + 6000}\t$t" }
        .mkString("", "\n", "\n"))
    val (e3, _) = runAvailableNow(s"$base/cp1", in)
    val crossAfterEvict = e3.filter(h => h.doc_id >= 100000 && h.dup_of < 100000)
    assert(crossAfterEvict.isEmpty,
      s"watermark-aged state still matched: ${crossAfterEvict.take(3)}")

    // control (fresh dir + checkpoint): twins WITHIN the TTL window do
    // match — eviction above was the watermark's doing, not a broken gate
    val in2 = s"$base/in2"; new java.io.File(in2).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in2/f1"),
      docs.map { case (id, t) => s"$id\t$T0\t$t" }.mkString("", "\n", "\n"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in2/f2"),
      twins.map { case (id, t) => s"$id\t${T0 + 100}\t$t" }
        .mkString("", "\n", "\n"))
    val (eIn, _) = runAvailableNow(s"$base/cp2", in2)
    val crossLive = eIn.filter(h => h.doc_id >= 100000 && h.dup_of < 100000)
    assert(crossLive.nonEmpty, "in-window twins produced no matches")
    crossLive.foreach { h =>
      val sh1 = graft.ext.Dedup.simhash64(docs.find(_._1 == h.dup_of).get._2)
      val sh2 = graft.ext.Dedup.simhash64(twins.find(_._1 == h.doc_id).get._2)
      assert(java.lang.Long.bitCount(sh1 ^ sh2) == h.hamming)
    }
  }

  test("jdbcIngest is exactly-once into JDBC across rotation AND batch replay") {
    val base = Files.createTempDirectory("graft_jdbc_stream").toString
    val in = s"$base/in"; val cp = s"$base/cp"
    new java.io.File(in).mkdirs()
    val url = s"jdbc:derby:$base/db;create=true"
    def tableCount(): Long =
      spark.read.format("jdbc").option("url", url).option("dbtable", "access_stream")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load().count()

    val lines = graft.parse.Style5.renderedLines(spark, sf).cache()
    lines.filter(col("event_id") < 300).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f1")
    StreamEtl.jdbcIngest(spark, s"$in/*", cp, url, "access_stream").awaitTermination()
    assert(tableCount() == 300)

    // rotation: restart ingests ONLY the new file
    lines.filter(col("event_id") >= 300 && col("event_id") < 500).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f2")
    StreamEtl.jdbcIngest(spark, s"$in/*", cp, url, "access_stream").awaitTermination()
    assert(tableCount() == 500)

    // replay: remove the LAST COMMIT MARKER only (offsets survive) —
    // exactly the crash-between-JDBC-write-and-offset-commit state.
    // The restart re-runs the same batch id over the same file, and
    // the scrub-then-append must leave no duplicates.
    val commits = new java.io.File(s"$cp/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty, "no commit markers found — checkpoint layout drifted")
    val last = commits.last
    val crc = new java.io.File(last.getParentFile, s".${last.getName}.crc")
    assert(last.delete())
    if (crc.exists()) crc.delete()
    StreamEtl.jdbcIngest(spark, s"$in/*", cp, url, "access_stream").awaitTermination()
    assert(tableCount() == 500, "batch replay duplicated rows in the JDBC sink")
  }

  test("cmSketchStream grid equals the batch sketch and accumulates across restarts") {
    val base = Files.createTempDirectory("graft_cm").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val lines = Style5.renderedLines(spark, sf).cache()
    lines.filter(col("event_id") < 800).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f1")

    def runOnce(): Map[(Int, Long), Long] = {
      var last: Map[(Int, Long), Long] = Map.empty
      val q = StreamEtl.cmSketchStream(spark, s"$in/*").writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val m = b.collect()
            .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
          if (m.nonEmpty) last = m; ()
        }
        .option("checkpointLocation", s"$base/cp")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(); last
    }
    def batchGrid(glob: String): Map[(Int, Long), Long] =
      StreamEtl.parseLines(spark.read.text(glob))
        .select(explode(StreamEtl.cmCells(col("name"))).as("rc"))
        .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
        .agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

    val g1 = runOnce()
    assert(g1 == batchGrid(s"$in/f1"), "streamed grid differs from the batch sketch")
    assert(g1.size <= StreamEtl.CM_ROWS * StreamEtl.CM_COLS)

    // rotation + restart: state must ACCUMULATE (old file not re-read,
    // new file folded into the checkpointed cell counts)
    lines.filter(col("event_id") >= 800 && col("event_id") < 1500).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f2")
    val g2 = runOnce()
    assert(g2 == batchGrid(s"$in/*"), "post-restart grid != batch sketch of both files")

    // the CM guarantee holds when querying the streamed state: a key's
    // min-over-cells estimate never undercounts its true frequency
    val byName = StreamEtl.parseLines(spark.read.text(s"$in/*"))
      .groupBy(col("name")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val probe = byName.maxBy(_._2)
    val cells = StreamEtl.parseLines(spark.read.text(s"$in/*"))
      .filter(col("name") === probe._1).limit(1)
      .select(explode(StreamEtl.cmCells(col("name"))).as("rc"))
      .collect().map(r => (r.getStruct(0).getInt(0), r.getStruct(0).getLong(1)))
    val est = cells.map(g2.getOrElse(_, 0L)).min
    assert(est >= probe._2, s"CM undercounted ${probe._1}: $est < ${probe._2}")
  }

  test("anomalyGateStream final assessments equal the batch trailing-window rule") {
    val base = Files.createTempDirectory("graft_anom").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    val lines = Style5.renderedLines(spark, sf).cache()
    val buf = new scala.collection.concurrent.TrieMap[(Long, Long), (Long, Long, Long, Boolean)]()
    def drain(): Unit = {
      val q = StreamEtl.anomalyGateStream(spark, s"$in/*")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[StreamEtl.HourAssess], _: Long) =>
          b.collect().foreach(a => buf.put((a.status_code, a.hour_epoch),
            (a.n, a.trail_sum, a.trail_hours, a.is_anomaly)))
        }
        .option("checkpointLocation", s"$base/cp")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    lines.filter(col("event_id") < 600).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f1")
    drain()
    // rotation: later (time-ordered) lines fold into the checkpointed
    // ring; boundary hours re-emit corrected assessments
    lines.filter(col("event_id") >= 600).select("line")
      .coalesce(1).write.mode("overwrite").text(s"$in/f2")
    drain()

    val hourly = StreamEtl.parseLines(spark.read.text(s"$in/*"))
      .select(col("status_code").cast("long").as("s"),
        (floor(unix_timestamp(col("datetime")) / 3600) * 3600).cast("long").as("h"))
      .groupBy(col("s"), col("h")).agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s")).orderBy(col("h")).rangeBetween(-86400, -3600)
    val expected = hourly
      .withColumn("tsum", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("th", count(lit(1)).over(w))
      .collect()
    assert(expected.nonEmpty)
    expected.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val want = (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(4) == 24L && r.getLong(2) * 24 > r.getLong(3) * 2)
      assert(buf(key) == want, s"hour $key: ${buf.get(key)} != $want")
    }
    assert(buf.size == expected.length)
  }

  test("nearDupTtlBatchOf reproduces the event-time stream's hit set exactly") {
    // file-per-day replay: the stream's batch sequence IS the batch
    // twin's day sequence, so the two hit sets must be identical —
    // including pairs dropped by TTL eviction across multi-day gaps
    // and the data-dependent one-gap-day boundary (break iff the
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
    val base = Files.createTempDirectory("graft_ttl_parity").toString
    val in = s"$base/in"; new java.io.File(in).mkdirs()
    rows.groupBy(_._2 / DAY).toSeq.sortBy(_._1).zipWithIndex.foreach {
      case ((_, dayRows), i) =>
        val f = java.nio.file.Paths.get(f"$in/day$i%02d.txt")
        java.nio.file.Files.writeString(f,
          dayRows.map { case (id, ts, t) => s"$id\t$ts\t$t" }
            .mkString("", "\n", "\n"))
        // mod-time order = day order: with maxFilesPerTrigger=1 the
        // source replays exactly one day per micro-batch
        java.nio.file.Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 60000L))
    }
    val buf = new scala.collection.mutable.ArrayBuffer[StreamEtl.NearDupHit]()
    val q = StreamEtl.nearDupStreamEventTime(spark, s"$in/*", ttlMs = DAY,
        maxFilesPerTrigger = Some(1))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamEtl.NearDupHit], _: Long) =>
        buf.synchronized { buf ++= batch.collect() }; ()
      }
      .option("checkpointLocation", s"$base/cp")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(180000), "stream did not drain")
    val streamHits = buf.synchronized {
      buf.map(h => (h.band.toLong, h.dup_of, h.doc_id, h.hamming.toLong)).toSet
    }

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
