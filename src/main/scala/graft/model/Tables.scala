package graft.model

import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap
import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver test tables (`/root/repo/TESTDATA.md`,
  * `/root/repo/FIXTURES.md` §B) plus the star-schema StructTypes the
  * reference implies (`/root/reference/real_parse.pl:96-177`, see
  * SURVEY.md §1.3).
  *
  * All reads are plain parquet scans so Catalyst column pruning and
  * predicate pushdown reach the scan. At 100 TB these would be
  * partitioned tables; nothing here assumes single-file layout — the
  * path can be a directory/glob.
  *
  * Read contract: `table` returns the same DataFrame a schema-less
  * `spark.read.parquet(path)` would, but infers each file's schema
  * once per session per file stamp. A schema-less read launches a
  * one-task job that reads the footer every time the DataFrame is
  * built; the report queries build hundreds of small reads, so that
  * job was a fixed share of every query. The memo is keyed on the
  * qualified path and the file's modification time and length, so a
  * rewritten file re-infers. It is kept per session because inference
  * depends on session confs (`events` sets `nanosAsLong`), and holds
  * sessions weakly: a stopped session's memo goes with it.
  * Directories, globs and missing paths take the plain read, so
  * Spark's own listing and errors are unchanged.
  */
object Tables {
  private case class Stamp(path: String, modified: Long, length: Long)

  private val schemas = Collections.synchronizedMap(
    new WeakHashMap[SparkSession, ConcurrentHashMap[Stamp, StructType]]())

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    stamp(spark, path) match {
      case Some(key) =>
        val memo = schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
        Option(memo.get(key)) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            memo.putIfAbsent(key, df.schema)
            df
        }
      case None => spark.read.parquet(path)
    }
  }

  /** The memo key of a single existing file; None for anything else. */
  private def stamp(spark: SparkSession, path: String): Option[Stamp] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else Try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      (fs.makeQualified(p), fs.getFileStatus(p))
    }.toOption.collect { case (q, st) if st.isFile =>
      Stamp(q.toString, st.getModificationTime, st.getLen)
    }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` arrives in three flavors depending on which tool
    * wrote the parquet: TIMESTAMP(NANOS) (Spark 4 rejects it outright
    * — [PARQUET_TYPE_ILLEGAL] — so read as raw nanos via the legacy
    * conf and rebuild micros with integer `div`; a double division
    * would lose precision above 2^53 ns), TIMESTAMP_NTZ (micros with
    * isAdjustedToUTC=false — cast to TimestampType, value-preserving
    * because every entrypoint pins spark.sql.session.timeZone=UTC),
    * or plain micros TimestampType (pass through). DuckDB reads the
    * same column natively; oracle SQL casts it to micros TIMESTAMP
    * for parity. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** Star-schema column layouts inferred from the reference's positional
  * INSERTs (SURVEY.md §1.3). Kept as plain column-name lists — the ETL
  * derives every satellite from one wide parsed DataFrame, so these
  * are projection contracts, not storage schemas.
  */
object StarSchema {
  /** `/root/reference/real_parse.pl:96-106` (9 cols; PK omitted — see
    * SURVEY.md §7.5 on surrogate keys). */
  val access: Seq[String] = Seq(
    "client_ip_address", "identuser", "authuser", "datetime",
    "gmt_offset", "logging_style", "stats_mask", "server_type")

  /** `/root/reference/real_parse.pl:134-147`. */
  val file: Seq[String] = Seq(
    "method", "path", "name", "protocol_version", "status_code",
    "bytes_sent", "file_size", "file_time", "sent_time",
    "presentation_id")

  /** `/root/reference/real_parse.pl:262-274`. */
  val client: Seq[String] = Seq(
    "client_info", "platform", "os_version", "client_version", "type",
    "distribution", "language", "cpu", "embedded", "client_guid")

  /** `/root/reference/real_parse.pl:169-176`. */
  val network: Seq[String] = Seq("resends", "failed_resends")
}
