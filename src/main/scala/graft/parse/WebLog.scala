package graft.parse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Style5Scan
import graft.model.Tables

/** Caudium / Apache combined-format web log render + parser —
  * `/root/reference/web_parse.pl` parity (SURVEY.md §3.3,
  * FIXTURES.md §A2).
  *
  * Differences from style 5 encoded here:
  *  - F2 pre-parse media-extension filter: only `.wma`/`.wmv` lines
  *    are ingested (`web_parse.pl:59`) — a cheap filter evaluated
  *    BEFORE the expensive request regex, the reference's own manual
  *    optimization (SURVEY.md §4), which Catalyst keeps cheap via
  *    predicate ordering;
  *  - the request regex carries the status/bytes/user-agent tail and
  *    the UA string becomes client_info (`web_parse.pl:106-107`);
  *  - only access/file/client projections exist (NULL-padded
  *    satellites, `web_parse.pl:87-133`).
  */
object WebLog {

  private def s(c: Column): Column = c.cast("string")

  /** events → (event_id, line) in combined log format. Extension
    * cycles k%4 ∈ {.wmv, .wma, .mov, .html} so F2 has something to
    * reject. */
  def renderedLines(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism) // spread the CPU-bound render+parse (see Style5.renderedLines)
      .withColumn("k", Style5.kCol)
      .withColumn("ext",
        when(col("k") % 4 === 0, ".wmv").when(col("k") % 4 === 1, ".wma")
          .when(col("k") % 4 === 2, ".mov").otherwise(".html"))
    ev.select(col("event_id"), concat(
      Style5.ipCol,
      lit(" - - ["), Style5.dstrCol,
      lit(" -0700] \"GET /web/v"), s(col("user_id")), lit("/t"), s(col("k")),
      col("ext"), lit(" HTTP/1.1\" "),
      s(when(col("event_type") === "error", 404).otherwise(206)), lit(" "),
      s(floor(col("value") * 1000).cast("long")),
      lit(" \"-\" \"Windows-Media-Player/"), s(col("k") % 12), lit(".0\"")).as("line"))
      // consumers filter on line-derived columns (F2 extension
      // filter); each query consumes the render once, so the
      // ZERO-COST barrier suffices — nothing materializes, the
      // filter just binds above the fence (see graft.util.Fence)
      .transform(graft.util.Fence.barrier)
  }

  /** DuckDB twin of [[renderedLines]] — CTE `wlines`. */
  val renderCte: String =
    s"""wsrc AS (
         SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
                coalesce(CAST(json_extract_string(props, '$$.k') AS INTEGER), 0) AS k
         FROM events),
       wlines AS (
         SELECT event_id, concat(
           ${Style5.ipSql},
           ' - - [', ${Style5.dstrSql},
           ' -0700] "GET /web/v', CAST(user_id AS VARCHAR), '/t', CAST(k AS VARCHAR),
           CASE WHEN k % 4 = 0 THEN '.wmv' WHEN k % 4 = 1 THEN '.wma'
                WHEN k % 4 = 2 THEN '.mov' ELSE '.html' END,
           ' HTTP/1.1" ',
           CAST(CASE WHEN event_type = 'error' THEN 404 ELSE 206 END AS VARCHAR), ' ',
           CAST(CAST(floor(value * 1000) AS BIGINT) AS VARCHAR),
           ' "-" "Windows-Media-Player/', CAST(k % 12 AS VARCHAR), '.0"') AS line
         FROM wsrc)"""

  /** `web_parse.pl:106-107` request regex: request-line + status +
    * bytes + the quoted user-agent tail. */
  private val webRe = "\"(\\S+) (.*?) (\\S+)\" (\\d\\d\\d) (\\d+) \"-\" \"(.*?)\""

  /** The combined-format field projection (server_type=1, the
    * web/Real discriminator F8, `web_parse.pl:42,87-95`). The leading
    * token and the timestamp bracket share style 5's grammar, so they
    * come from the same [[Style5Scan]] captures. */
  private def webFieldCols(line: Column): Seq[Column] = {
    val scan = Style5Scan(line)
    Seq(
      scan("lead").as("client_ip_address"),
      Style5.stamp(scan("ts")).as("datetime"),
      regexp_extract(line, webRe, 1).as("method"),
      Style5.filePath(regexp_extract(line, webRe, 2)).as("path"),
      Style5.fileName(regexp_extract(line, webRe, 2)).as("name"),
      regexp_extract(line, webRe, 3).as("protocol_version"),
      regexp_extract(line, webRe, 4).cast("long").as("status_code"),
      regexp_extract(line, webRe, 5).cast("long").as("bytes_sent"),
      regexp_extract(line, webRe, 6).as("client_info"),
      lit(1).cast("int").as("server_type"))
  }

  /** The combined-format shape: the timestamp bracket (same grammar
    * as style 5) then the full request regex. */
  private val webShapeRe: String = Style5.timestampShapeRe + webRe

  /** The one combined-format gate: F2 first (only `.wma`/`.wmv`
    * lines, a cheap filter evaluated before the big regex), then the
    * shape, a timestamp that parses (the shape admits `13/Ocu/2002`
    * or hour 29) and a bytes group that fits a long (the status group
    * is three digits). A line passing it cannot throw in
    * [[webFieldCols]] under ANSI mode. */
  def wellFormed(line: Column): Column =
    line.rlike("\\.wma|\\.wmv") && line.rlike(webShapeRe) &&
      Style5.stampOk(Style5Scan(line)("ts")) && Style5.fitsLong(regexp_extract(line, webRe, 5))

  /** The one combined-format line → row binding, shared by the batch
    * query and the streaming parser so their web schemas cannot
    * diverge. `lines` is any frame with a `line` column; [[wellFormed]]
    * filters it, then [[webFieldCols]] are appended. */
  def parsed(lines: DataFrame): DataFrame =
    lines.filter(wellFormed(col("line"))).select(col("*") +: webFieldCols(col("line")): _*)

  def parseWeb(spark: SparkSession, dir: String): DataFrame =
    parsed(renderedLines(spark, dir)).drop("line").orderBy("event_id")

  /** F3 — the unsupported-format N/A branch
    * (`pull_report.pl:113-115,136-138,159-161`): per media format,
    * play counts always compute but view-duration metrics are NULL
    * for formats the server has no duration for (.wmv/.wma/.mov). */
  def mediaFormats(spark: SparkSession, dir: String): DataFrame = {
    val parsed = renderedLines(spark, dir).select(
      col("event_id"),
      Style5.fileName(regexp_extract(col("line"), webRe, 2)).as("name"),
      regexp_extract(col("line"), webRe, 5).cast("long").as("bytes_sent"))
      .withColumn("ext", regexp_extract(col("name"), "\\.(\\w+)$", 1))
      .filter(col("ext") =!= "")
    parsed.groupBy(col("ext"))
      .agg(count(lit(1)).as("play_count"),
           sum(col("bytes_sent")).as("bytes_total"))
      .withColumn("avg_view_secs",
        when(col("ext").isin("wmv", "wma", "mov"), lit(null).cast("long"))  // F3: N/A
          .otherwise(floor(col("bytes_total") / col("play_count")).cast("long")))
      .orderBy(col("ext"))
  }

  val mediaFormatsSql: String =
    s"""WITH $renderCte,
       parsed AS (
         SELECT event_id,
           regexp_extract(regexp_extract(regexp_extract(line, '"(\\S+) (.*?) (\\S+)" (\\d\\d\\d) (\\d+) "-" "(.*?)"', 2), '([^/]*)$$', 1), '^(.+\\.\\w*)', 1) AS name,
           CAST(regexp_extract(line, '"(\\S+) (.*?) (\\S+)" (\\d\\d\\d) (\\d+) "-" "(.*?)"', 5) AS BIGINT) AS bytes_sent
         FROM wlines),
       e AS (
         SELECT regexp_extract(name, '\\.(\\w+)$$', 1) AS ext, bytes_sent
         FROM parsed WHERE regexp_extract(name, '\\.(\\w+)$$', 1) <> ''),
       g AS (
         SELECT ext, CAST(count(*) AS BIGINT) AS play_count,
                CAST(sum(bytes_sent) AS BIGINT) AS bytes_total
         FROM e GROUP BY ext)
       SELECT ext, play_count, bytes_total,
         CASE WHEN ext IN ('wmv', 'wma', 'mov') THEN NULL
              ELSE CAST(floor(bytes_total / play_count) AS BIGINT) END AS avg_view_secs
       FROM g ORDER BY ext"""

  val parseWebSql: String =
    s"""WITH $renderCte
       SELECT event_id,
         regexp_extract(line, '^(\\S*)', 1) AS client_ip_address,
         strptime(regexp_extract(line, '\\[(\\d\\d/\\w\\w\\w/\\d{4}:\\d\\d:\\d\\d:\\d\\d)', 1), '%d/%b/%Y:%H:%M:%S') AS datetime,
         regexp_extract(line, '"(\\S+) (.*?) (\\S+)" (\\d\\d\\d) (\\d+) "-" "(.*?)"', 1) AS method,
         regexp_extract(regexp_extract(line, '"(\\S+) (.*?) (\\S+)" (\\d\\d\\d) (\\d+) "-" "(.*?)"', 2), '^(.*)/[^/]*$$', 1) AS path,
         regexp_extract(regexp_extract(regexp_extract(line, '"(\\S+) (.*?) (\\S+)" (\\d\\d\\d) (\\d+) "-" "(.*?)"', 2), '([^/]*)$$', 1), '^(.+\\.\\w*)', 1) AS name,
         regexp_extract(line, '"(\\S+) (.*?) (\\S+)" (\\d\\d\\d) (\\d+) "-" "(.*?)"', 3) AS protocol_version,
         CAST(regexp_extract(line, '"(\\S+) (.*?) (\\S+)" (\\d\\d\\d) (\\d+) "-" "(.*?)"', 4) AS BIGINT) AS status_code,
         CAST(regexp_extract(line, '"(\\S+) (.*?) (\\S+)" (\\d\\d\\d) (\\d+) "-" "(.*?)"', 5) AS BIGINT) AS bytes_sent,
         regexp_extract(line, '"(\\S+) (.*?) (\\S+)" (\\d\\d\\d) (\\d+) "-" "(.*?)"', 6) AS client_info,
         CAST(1 AS INTEGER) AS server_type
       FROM wlines
       WHERE regexp_matches(line, '\\.wma|\\.wmv') AND regexp_matches(line, '$webShapeRe')
         AND try_strptime(regexp_extract(line, '${Style5.stampRe}', 1), '%d/%b/%Y:%H:%M:%S') IS NOT NULL
         AND TRY_CAST(regexp_extract(line, '$webRe', 5) AS BIGINT) IS NOT NULL
       ORDER BY event_id"""
}
