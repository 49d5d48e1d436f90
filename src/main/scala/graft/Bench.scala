package graft

/** Driver-contract benchmark: one JSON line with per-query seconds.
  *
  * Timing uses the `noop` sink so every query fully materializes its
  * result columns (a bare `count()` would let Catalyst prune the
  * expensive projections and under-report). A small warmup action
  * first pays the one-time JVM/classload/codegen costs so per-query
  * numbers measure the queries, not startup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    // warmup: pay session/codegen startup once, outside the timings
    graft.model.Tables.region(spark, sfDir).count()
    graft.model.Tables.events(spark, sfDir).limit(10).count()

    // three timed iterations, report the min: one stray GC pause or
    // page-cache miss otherwise dominates a ~1s query's number (and
    // min-of-2 provably wasn't enough — the r02 media_formats 4.7 s
    // ghost survived it). Iterations are ROUND-ROBIN across queries
    // (all queries once, then all again), not back-to-back per query:
    // a sustained external stall (compaction, co-located load) then
    // poisons one sample of many queries instead of every sample of
    // one — the r05 run recorded distinct_sketch at 11.03 s (18× its
    // stable value) because all three back-to-back samples landed
    // inside one stall window.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // optional comma-separated restriction (builder-side iteration on
    // one query's cost); the driver's unfiltered run times them all
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val samples =
      scala.collection.mutable.Map.empty[String, List[Double]]
        .withDefaultValue(Nil)
    (1 to iters).foreach { _ =>
      queries.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
        val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        samples(name) = t :: samples(name)
      }
    }
    val results = queries.map { case (name, _) =>
      val ts = samples(name)
      // a failure must not masquerade as a fast run: -1 is the sentinel
      name -> (if (ts.contains(-1.0)) -1.0 else ts.min)
    }
    val json = line(results, sfDir)
    println(json)
    // stderr copy with a unique greppable prefix: sbt's stdout gets
    // [info] decoration and interleaved log4j chatter, and the r02
    // driver recorded parsed:null — stderr + prefix gives a scraper
    // an unambiguous second channel
    System.err.println("GRAFT_BENCH_JSON " + json)
    // also write the metric to a file: sbt decorates stdout with
    // [info]/[error] prefixes and interleaves log4j chatter, so a
    // driver scraping the console can miss the line — the file copy
    // is unambiguous ($SPARK_GRAFT_OUT/bench.json, default ./bench.json)
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_OUT", "."), "bench.json")
    java.nio.file.Files.write(outPath, (json + "\n").getBytes("UTF-8"))
    // unpersist every staged table (keeper/signature/IVF caches)
    // before teardown — the lifecycle a long-lived driver must follow
    graft.util.Staged.clearSession(spark)
    spark.stop()
  }

  /** Bench's one stdout JSON line: per-query seconds sorted by name,
    * every value `%.3f`, and their sum as `total`. */
  def line(results: Seq[(String, Double)], sfDir: String): String = {
    val sorted = results.sortBy(_._1)
    val qs = sorted.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    // a failed query poisons the total — it must not make the run
    // look faster than a clean one
    val total =
      if (sorted.exists(_._2 < 0)) -1.0 else sorted.map(_._2).sum
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
  }
}
