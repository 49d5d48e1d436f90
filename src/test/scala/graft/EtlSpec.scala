package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.etl.StarEtl

class EtlSpec extends AnyFunSuite with TimeLimits {
  import TestSpark._
  implicit val signaler: Signaler = ThreadSignaler

  /** Row counts of the tables a batch wrote, read back from disk. */
  def readBack(out: String, tables: Iterable[String]): Map[String, Long] =
    tables.map(t => t -> spark.read.parquet(s"$out/$t").count()).toMap

  test("runBatch writes all 7 star tables with consistent counts") {
    val out = Files.createTempDirectory("graft_etl").toString
    val counts = StarEtl.runBatch(spark, sf, out)
    assert(counts.keySet == Set("access", "file", "client", "network",
      "stats_mask1", "stats_mask2", "stats_mask3"))
    // hub tables are 1:1 with input lines (1000 events at sf0.001)
    assert(counts("access") == 1000)
    assert(counts("file") == 1000)
    assert(counts("client") == 1000)
    assert(counts("network") == 1000)
    // stats satellites are 0..n per line
    assert(counts("stats_mask1") > 0 && counts("stats_mask2") > 0 &&
      counts("stats_mask3") > 0)
    // satellites join back to the hub on the natural key, losslessly
    val access = spark.read.parquet(s"$out/access")
    val file = spark.read.parquet(s"$out/file")
    assert(access.join(file, "line_id").count() == 1000)
    val s1 = spark.read.parquet(s"$out/stats_mask1")
    assert(s1.join(access.withColumnRenamed("line_id", "hub_id"),
      s1("line_id") === col("hub_id")).count() == counts("stats_mask1"))
    // the counts are taken during the write; they match what landed
    assert(readBack(out, counts.keys) == counts)
    // a re-run overwrites the same tables and reports the same counts
    assert(StarEtl.runBatch(spark, sf, out) == counts)
    assert(readBack(out, counts.keys) == counts)
  }

  test("stats tables carry the reference's full column arity") {
    val out = Files.createTempDirectory("graft_etl_arity").toString
    StarEtl.runBatch(spark, sf, out)
    assert(spark.read.parquet(s"$out/stats_mask1").columns.toSeq ==
      Seq("line_id", "packets_received", "out_of_order", "missing",
          "early", "late", "audio_format"))
    assert(spark.read.parquet(s"$out/stats_mask2").columns.toSeq ==
      Seq("line_id", "bandwidth", "available", "highest", "lowest",
          "average", "requested", "received", "late", "rebuffering",
          "transport", "startup", "audio_format"))
    assert(spark.read.parquet(s"$out/stats_mask3").columns.toSeq ==
      Seq("line_id", "raw_stat_text"))
    // every extracted numeric is non-null on its own table
    val s2 = spark.read.parquet(s"$out/stats_mask2")
    assert(s2.filter(col("bandwidth").isNull || col("rebuffering").isNull ||
      col("startup").isNull).count() == 0)
  }

  test("StatsMask config gates the stat dispatch (real_parse.pl:218-235)") {
    assert(StarEtl.maskedStatTypes(1) == Seq("Stat1"))
    assert(StarEtl.maskedStatTypes(2) == Seq("Stat2"))
    assert(StarEtl.maskedStatTypes(5) == Seq("Stat1", "Stat3"))
    assert(StarEtl.maskedStatTypes(7) == Seq("Stat1", "Stat2", "Stat3"))
    val out = Files.createTempDirectory("graft_etl_mask").toString
    // empty stats tables still report (0) rather than block on the count
    val counts = failAfter(5.minutes)(StarEtl.runBatch(spark, sf, out, statsMask = 1))
    assert(readBack(out, counts.keys) == counts)
    assert(counts("stats_mask1") > 0)
    assert(counts("stats_mask2") == 0)
    assert(counts("stats_mask3") == 0)
    // the access hub records the mask it was loaded under
    assert(spark.read.parquet(s"$out/access")
      .filter(col("stats_mask") =!= 1).count() == 0)
  }

  test("star summary matches the written tables") {
    val summary = StarEtl.starSummary(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(summary("access") == 1000)
    assert(summary("stats_mask1") ==
      SparkEntry.queries("parse_stats")(spark, sf)
        .filter(col("stat_type") === "Stat1").count())
  }
}
