package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the run record (numbers keep all digits). */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)
        .map { case (k, x) => quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Median, the highest percentile with at least 10 samples beyond it
    * (none below 20 samples), and the sample count. */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val tail = Seq(99.9, 99.0, 95.0, 90.0, 75.0).find(p => xs.size * (1 - p / 100) >= 10)
    Map("n" -> xs.size, "p50" -> median(xs),
      "tail_pct" -> tail, "tail" -> tail.map(p => quantile(xs, p / 100)))
  }
}

/** The host-speed reference: a fixed single-threaded loop of integer
  * arithmetic and scattered writes into an 8 MiB array, timed just
  * before every timed operation. On a host whose speed drifts (shared
  * virtual CPUs slow down by half for minutes at a time), a timing
  * divided by the median reference time of the same window cancels
  * the drift: it is a same-window ratio, not an absolute time. */
object Reference {
  private val mem = new Array[Long](1 << 20)
  @volatile private var sink = 0L

  def sample(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 1000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      mem((x >>> 44).toInt) += x
      i += 1
    }
    sink += x
    (System.nanoTime() - t0) / 1e9
  }
}

/** What one run shares with its workload: the session, the optional
  * tracer, the operation counters and the raw samples. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
                val tap: LogTap) {
  val cores: Int = spark.sparkContext.defaultParallelism
  var tracer: Option[Tracer] = None
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]
  /** Reference times taken in this window, in seconds. */
  val refs = mutable.ArrayBuffer.empty[Double]
  /** Timed samples by name, in seconds. */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Per-layer values of the traced passes, summed; divided by the pass count. */
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def addLayer(name: String, v: Double): Unit =
    if (tracer.exists(_.enabled)) layer(name) = layer.getOrElse(name, 0.0) + v

  /** Run `body` as one operation; time it and count it. A throw counts
    * as a failed operation and is rethrown. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    attempted += 1
    refs += Reference.sample()
    val t0 = System.nanoTime()
    try {
      val r = tracer.fold(body)(_.op(name)(body))
      (r, (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        failed += 1
        notes += s"$name threw: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        throw e
    }
  }

  /** Record a correctness check; a false result counts as a failed
    * operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; notes += s"check $name failed $detail".trim }
  }
}

/** One pass's request latencies and the summed time of its timed
  * operations (the untimed bookkeeping and checks between them are
  * left out). */
final case class Pass(latencies: Seq[Double], seconds: Double)

/** A workload: untimed preparation (inputs, warm-up, output checks),
  * then timed passes over a fixed job. */
trait Workload {
  def prepare(): Unit
  /** Untimed passes run after [[prepare]], while the JIT still warms. */
  def warmPasses: Int = 0
  def pass(i: Int): Pass
  def finish(): Unit = ()
  def extra: Map[String, Any] = Map.empty
}

/** One benchmark run:
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <outJson>
  * builds the session three times (setup), prepares the workload and
  * then runs whole passes of it until `seconds` have been measured and
  * at least two passes (four in a traced run) are done. */
object Main {
  def session(cores: Int): SparkSession = {
    // the settings graft.Bench ships with
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** graft.Bench's warm-up action, on the tables the workload reads. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    if (Files.exists(Paths.get(s"$dir/region.parquet")))
      graft.model.Tables.region(spark, dir).count()
    graft.model.Tables.events(spark, dir).limit(10).count()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, outPath) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val cores = Runtime.getRuntime.availableProcessors()

    (1 to 20).foreach(_ => Reference.sample())
    var spark: SparkSession = null
    val setups = (1 to 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores)
      warmUp(spark, dataDir)
      (System.nanoTime() - t0) / 1e9
    }
    val tap = new LogTap
    tap.install()
    Files.createDirectories(Paths.get(workDir))
    val ctx = new Ctx(spark, seed, workDir, tap)
    val w: Workload = workload match {
      case "etl_bulk" => new EtlBulk(ctx, dataDir)
      case "query_floor" => new QueryMix(ctx, dataDir, QueryMix.floorPool)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val tPrep = System.nanoTime()
    w.prepare()
    (1 to w.warmPasses).foreach(i => w.pass(-i))
    ctx.samples.clear()
    ctx.refs.clear()
    val prepS = (System.nanoTime() - tPrep) / 1e9
    val tracer = if (trace) Some(new Tracer(spark, tap)) else None
    ctx.tracer = tracer
    val passes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val latencies = mutable.ArrayBuffer.empty[Double]
    var measured = 0.0
    // whole passes until the budget is spent; a traced run interleaves
    // untraced and traced passes (U T T U, so a warming trend cancels)
    // to report its own overhead
    while (measured < seconds || passes.size < (if (trace) 4 else 2)) {
      val traced = trace && (passes.size % 4 == 1 || passes.size % 4 == 2)
      tracer.foreach(t => if (traced != t.enabled) { if (traced) t.attach() else t.detach() })
      val t0 = System.nanoTime()
      val p = w.pass(passes.size)
      measured += (System.nanoTime() - t0) / 1e9
      passes += (traced -> p.seconds)
      if (!traced) latencies ++= p.latencies
    }
    tracer.foreach(t => if (t.enabled) t.detach())
    w.finish()

    val untracedPasses = passes.filterNot(_._1).map(_._2).toSeq
    val cacheMb = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)
    val ref = Stats.median(ctx.refs.toSeq)
    val raw = Map(
      "job_s" -> Stats.median(untracedPasses),
      "p50_s" -> Stats.median(latencies.toSeq),
      "req_per_s" -> latencies.size / latencies.sum)
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "job_ref" -> raw("job_s") / ref,
      "p50_ref" -> raw("p50_s") / ref,
      "req_per_kref" -> raw("req_per_s") * ref * 1000)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "setups_s" -> setups, "prepare_s" -> prepS,
      "passes" -> passes.map { case (t, d) => Map("traced" -> t, "s" -> d) },
      "end_to_end" -> e2e, "raw" -> raw, "ref_s" -> Stats.summary(ctx.refs.toSeq),
      "latency" -> Stats.summary(latencies.toSeq),
      "samples" -> ctx.samples.map { case (k, v) => k -> Stats.summary(v.toSeq) },
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "notes" -> ctx.notes,
      "cache_mb" -> cacheMb, "dropped_accum" -> tap.droppedAccum) ++ w.extra
    tracer.foreach { t =>
      val tracedPasses = passes.filter(_._1).map(_._2).toSeq
      record("per_layer") = PerLayer(ctx, t, tracedPasses, untracedPasses, cacheMb)
      record("spans") = t.spansJson
    }
    Files.writeString(Paths.get(outPath), Json(record))
    graft.util.Staged.clearSession(spark)
    spark.stop()
  }
}
