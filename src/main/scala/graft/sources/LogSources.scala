package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Log-source discovery — the reference's scan-side operators
  * (SURVEY.md §2.1 S1-S5):
  *
  *  - S1 directory scan + name-filter + sort (`real_parse.pl:208-216`)
  *  - S2 last-N rotated file selection (`real_parse.pl:27-28`)
  *  - S5 `rmserver.cfg` config scan (`real_parse.pl:218-235`)
  *
  * Listing happens on the driver against the Hadoop FileSystem (the
  * same place Spark's InMemoryFileIndex does it); at 100 TB you
  * normally skip S1/S2 entirely and let the streaming checkpoint
  * track rotation (graft.streaming.StreamEtl), but the batch
  * operators exist for parity and for one-shot backfills.
  */
object LogSources {

  /** S1: list a log directory, keep names matching `pattern`, drop
    * dotfiles, sort lexicographically (rotation order). */
  def logDirFiles(spark: SparkSession, dir: String, pattern: String): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isFile)
      .map(_.getPath)
      .filter(f => !f.getName.startsWith(".") && f.getName.matches(pattern))
      .map(_.toString)
      .sorted
  }

  /** S1+S2: read the last `n` rotated logs as one line-per-row frame
    * (the reference's two-file loop is an implicit UNION ALL —
    * SURVEY.md §2.6). */
  def readRotatedLogs(spark: SparkSession, dir: String,
                      pattern: String = "rmaccess.*", lastN: Int = 2): DataFrame = {
    val files = logDirFiles(spark, dir, pattern).takeRight(lastN)
    if (files.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
    else spark.read.text(files: _*)
  }

  /** S5 parse result: `(loggingStyle, statsMask)`. */
  final case class LogConfig(loggingStyle: Int, statsMask: Int)

  /** S5: scan `rmserver.cfg` for `LoggingStyle="[1-5]"` and
    * `StatsMask="[1-7]"` — a driver-side scalar read that
    * parameterizes the parser (F9 gates on style 5,
    * `real_parse.pl:186-188`). */
  def parseConfig(cfgText: String): LogConfig = {
    val style = "LoggingStyle=\"([1-5])\"".r.findFirstMatchIn(cfgText)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException("no LoggingStyle in config"))
    val mask = "StatsMask=\"([1-7])\"".r.findFirstMatchIn(cfgText)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException("no StatsMask in config"))
    LogConfig(style, mask)
  }

  /** F9: the reference hard-aborts on any style but 5. */
  def requireStyle5(cfg: LogConfig): Unit =
    require(cfg.loggingStyle == 5,
      s"unsupported logging style ${cfg.loggingStyle}: only style 5 is parseable")
}
