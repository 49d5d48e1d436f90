package graft

import org.apache.spark.sql.SparkSession

/** The one local session every main builds (Bench, Verify and the
  * tools): `local[cores]` with cores from `SPARK_GRAFT_CPUS`, else
  * `max(2, nproc)`; shuffle partitions = cores, AQE on, UTC session
  * time zone, no UI, log level WARN. A main that needs one more conf
  * sets it with `spark.conf.set` after the build. */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(2, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
