package graft.tools

import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.parse.Style5
import graft.streaming.StreamEtl

/** Dev tool: empirical scale evidence for the parse pipeline. The
  * sf0.1 events table is replicated N× in-plan (no disk writes) and
  * pushed through render → full star parse → aggregate, reporting
  * line throughput. A run at 50× (5M lines) approximates one
  * executor's share of a real cluster ingest; linear rows/sec vs the
  * 1× run is the "no hidden driver bottleneck" check.
  *
  * Usage: sbt "runMain graft.tools.ScaleTrial [multiplier] [sfDir]"
  */
object ScaleTrial {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(50)
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()

    // Materialize the corpus as text files first (untimed): the real
    // ingest parses a file source, and measuring parseLines over an
    // in-plan rendered frame would mostly time the optimizer
    // re-inlining the render below the filters.
    def corpus(m: Int): String = {
      val tag = dir.replaceAll("[^A-Za-z0-9.]", "_")
      val out = s"/tmp/graft_scale_${tag}_${m}x"
      // _SUCCESS marker, not bare existence: a crashed partial write
      // must not be reused
      if (!new java.io.File(s"$out/_SUCCESS").exists()) {
        val ev = Tables.events(spark, dir)
        val big =
          if (m == 1) ev
          else ev.crossJoin(spark.range(m).toDF("rep"))
            .withColumn("event_id", col("event_id") * m + col("rep"))
            .drop("rep")
        Style5.renderedLinesFrom(
            big.repartition(spark.sparkContext.defaultParallelism))
          .select("line").write.mode("overwrite").text(out)
      }
      out
    }

    def trial(m: Int): (Long, Double) = {
      val path = corpus(m)
      val t0 = System.nanoTime()
      val parsed = StreamEtl.parseLines(spark.read.text(path))
      val n = parsed.groupBy().agg(count(lit(1)).as("n"),
        sum(col("bytes_sent")).as("b")).head().getLong(0)
      (n, (System.nanoTime() - t0) / 1e9)
    }

    trial(1) // warmup
    val (n1, t1) = trial(1)
    val (nN, tN) = trial(mult)
    println(f"SCALE 1x:    $n1%,d lines in $t1%.2f s = ${n1 / t1}%,.0f lines/s")
    println(f"SCALE ${mult}x:   $nN%,d lines in $tN%.2f s = ${nN / tN}%,.0f lines/s")
    println(f"SCALE ratio: throughput at ${mult}x is ${(nN / tN) / (n1 / t1)}%.2fx the 1x rate")
    spark.stop()
  }
}
