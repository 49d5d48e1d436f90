package graft.parse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Style5Scan
import graft.model.Tables

/** RealServer "logging style 5" line renderer + parser
  * (SURVEY.md §2.2 P1-P17, FIXTURES.md §A1).
  *
  * Per SURVEY.md §7.1 we render deterministic style-5 lines FROM the
  * driver `events` table inside the query, then parse them back with
  * the reference's regex contract — so the real parsing expressions
  * are exercised against oracle-checkable data. The render grammar is
  * written twice (Spark Columns here, DuckDB SQL in [[renderCtes]]);
  * the `render_style5` query hash-compares the rendered lines
  * themselves, so any drift between the two renders is caught
  * directly before it can masquerade as a parser bug.
  *
  * Scale: rendering + parsing is a pure narrow projection — no
  * shuffle, whole-stage codegen end to end; at 100 TB it is
  * embarrassingly parallel over file splits exactly like the real
  * ingest would be (`spark.read.text` over rotated logs).
  *
  * Edge cases from the reference encoded in the render (cited at the
  * site that motivates them, FIXTURES.md §A1):
  *  - k%7==0 → bare "/" filename → ("","") path/name
  *    (`real_parse.pl:122,129-131`)
  *  - k%7==1 → "?start=0" query string truncated at the extension
  *    (`real_parse.pl:125`)
  *  - k%7==2 → "clip 6<k>.rm": a space-digit token starting with 6
  *    that triggers the P4 head-drop heuristic (`real_parse.pl:71-72`)
  *  - event_type=='view' → QuickTime client_info, else RealPlayer
  *    underscore format (`real_parse.pl:253-260`)
  *  - k%3 selects 0, 1 or 2 Stat blocks (`real_parse.pl:289`);
  *    k%2 drops the Stat1 audio_format → "UNKNOWN" default
  *    (`real_parse.pl:300,317`); k%11==5 adds a Stat3 raw
  *    passthrough block (`real_parse.pl:334-339`)
  */
object Style5 {

  private def s(c: Column): Column = c.cast("string")

  /** props.k — the per-event deterministic seed (JSON extraction op). */
  def kCol: Column = coalesce(get_json_object(col("props"), "$.k").cast("int"), lit(0))

  /** Shared render pieces (used by the style-5 AND web-log renders —
    * one definition per engine so the twins cannot drift apart). */
  private[parse] def ipCol: Column =
    concat(lit("10."), s(col("user_id") % 256), lit("."),
      s(expr("user_id div 256") % 256), lit("."), s(col("event_id") % 256))
  private[parse] def dstrCol: Column = date_format(col("ts"), "dd/MMM/yyyy:HH:mm:ss")
  private[parse] val ipSql: String =
    """concat('10.', CAST(user_id % 256 AS VARCHAR), '.',
                  CAST((user_id // 256) % 256 AS VARCHAR), '.',
                  CAST(event_id % 256 AS VARCHAR))"""
  private[parse] val dstrSql: String = "strftime(ts, '%d/%b/%Y:%H:%M:%S')"

  /** Derived render fields; input: events columns. */
  private def withFields(ev: DataFrame): DataFrame = {
    ev.withColumn("k", kCol)
      .withColumn("ip", ipCol)
      .withColumn("dstr", dstrCol)
      .withColumn("status", when(col("event_type") === "error", 404).otherwise(200))
      .withColumn("bytes", floor(col("value") * 1000).cast("long"))
      .withColumn("fname",
        when(col("k") % 7 === 0, lit("/"))
        .when(col("k") % 7 === 1,
          concat(lit("/media/u"), s(col("user_id")), lit("/clip"), s(col("k")), lit(".rm?start=0")))
        .when(col("k") % 7 === 2,
          concat(lit("/media/u"), s(col("user_id")), lit("/clip 6"), s(col("k")), lit(".rm")))
        .otherwise(
          concat(lit("/media/u"), s(col("user_id")), lit("/clip"), s(col("k")), lit(".rm"))))
      .withColumn("cinfo",
        when(col("event_type") === "view", lit("QTS (qtver=6.0;os=Mac 10.1.5)"))
        .otherwise(concat(lit("WinNT_5.1_6.0.11."), s(col("k")),
          lit("_play32_RN01_EN_586_"), s(col("user_id") % 2))))
      .withColumn("guid", md5(s(col("event_id"))))
      .withColumn("stat1", concat(lit(" [Stat1: "),
        s(col("event_id") % 997), lit(" "), s(col("event_id") % 31), lit(" "),
        s(col("event_id") % 13), lit(" "), s(col("event_id") % 7), lit(" "),
        s(col("event_id") % 5),
        when(col("k") % 2 === 0, lit(" sipr")).otherwise(lit("")), lit("]")))
      .withColumn("stat2", concat(lit(" [Stat2: "),
        s(col("event_id") % 225 + 1), lit(" "), s(col("event_id") % 225), lit(" "),
        s(col("event_id") % 300), lit(" "), s(col("event_id") % 80), lit(" "),
        s(col("event_id") % 198), lit(" "), s(col("event_id") % 1050), lit(" "),
        s(col("event_id") % 1042), lit(" "), s(col("event_id") % 3), lit(" "),
        s(col("k") % 4), lit("."), s(col("event_id") % 10), lit(" "),
        s(col("event_id") % 2), lit(" "), s(col("event_id") % 9), lit(" cook]")))
      .withColumn("stat3", concat(lit(" [Stat3: raw "), s(col("event_id") % 50), lit(" data]")))
      .withColumn("stats", concat(
        when(col("k") % 3 === 1, col("stat1"))
          .when(col("k") % 3 === 2, concat(col("stat1"), col("stat2")))
          .otherwise(lit("")),
        when(col("k") % 11 === 5, col("stat3")).otherwise(lit(""))))
      .withColumn("file_time", col("k") * 10 + 60)
      .withColumn("sent_time", col("event_id") % (col("k") * 10 + 61))
      .withColumn("resends", col("event_id") % 7)
      .withColumn("failed_resends", col("event_id") % 3)
      .withColumn("pres_id", col("event_id") % 100)
  }

  /** events → (event_id, line).
    *
    * The raw events scan is round-robin repartitioned BEFORE the
    * render: the test events table is one small parquet file (a
    * single input split), and everything downstream — render concat,
    * regex parsing, hashing — is CPU-bound, so without the exchange
    * the whole parse family would run on one core. Repartitioning the
    * narrow raw columns is the cheapest possible barrier; at 100 TB
    * the input has thousands of splits and this becomes a no-op knob
    * (or a deliberate rebalance after a skewed source). */
  def renderedLines(spark: SparkSession, dir: String): DataFrame =
    renderedLinesFrom(Tables.events(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism))

  /** Render from an arbitrary events-shaped frame (scale trials,
    * synthetic corpora). */
  def renderedLinesFrom(ev: DataFrame): DataFrame =
    withFields(ev)
      .select(col("event_id"), concat(
      col("ip"), lit(" - - ["), col("dstr"), lit(" -0700] \"GET "), col("fname"),
      lit(" RTSP/1.0\" "), s(col("status")), lit(" "), s(col("bytes")),
      lit(" ["), col("cinfo"), lit("] ["), col("guid"), lit("]"), col("stats"),
      lit(" "), s(col("bytes")), lit(" "), s(col("file_time")), lit(" "),
      s(col("sent_time")), lit(" "), s(col("resends")), lit(" "),
      s(col("failed_resends")), lit(" "), s(col("pres_id"))).as("line"))

  /** DuckDB twin of [[renderedLines]]: CTEs `src` → `r` → `lines`. */
  val renderCtes: String =
    s"""src AS (
         SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
                coalesce(CAST(json_extract_string(props, '$$.k') AS INTEGER), 0) AS k
         FROM events),
       r AS (
         SELECT *,
           $ipSql AS ip,
           $dstrSql AS dstr,
           CASE WHEN event_type = 'error' THEN 404 ELSE 200 END AS status,
           CAST(floor(value * 1000) AS BIGINT) AS bytes,
           CASE WHEN k % 7 = 0 THEN '/'
                WHEN k % 7 = 1 THEN concat('/media/u', CAST(user_id AS VARCHAR), '/clip', CAST(k AS VARCHAR), '.rm?start=0')
                WHEN k % 7 = 2 THEN concat('/media/u', CAST(user_id AS VARCHAR), '/clip 6', CAST(k AS VARCHAR), '.rm')
                ELSE concat('/media/u', CAST(user_id AS VARCHAR), '/clip', CAST(k AS VARCHAR), '.rm') END AS fname,
           CASE WHEN event_type = 'view' THEN 'QTS (qtver=6.0;os=Mac 10.1.5)'
                ELSE concat('WinNT_5.1_6.0.11.', CAST(k AS VARCHAR), '_play32_RN01_EN_586_', CAST(user_id % 2 AS VARCHAR)) END AS cinfo,
           md5(CAST(event_id AS VARCHAR)) AS guid,
           concat(' [Stat1: ', CAST(event_id % 997 AS VARCHAR), ' ', CAST(event_id % 31 AS VARCHAR), ' ',
                  CAST(event_id % 13 AS VARCHAR), ' ', CAST(event_id % 7 AS VARCHAR), ' ',
                  CAST(event_id % 5 AS VARCHAR),
                  CASE WHEN k % 2 = 0 THEN ' sipr' ELSE '' END, ']') AS stat1,
           concat(' [Stat2: ', CAST(event_id % 225 + 1 AS VARCHAR), ' ', CAST(event_id % 225 AS VARCHAR), ' ',
                  CAST(event_id % 300 AS VARCHAR), ' ', CAST(event_id % 80 AS VARCHAR), ' ',
                  CAST(event_id % 198 AS VARCHAR), ' ', CAST(event_id % 1050 AS VARCHAR), ' ',
                  CAST(event_id % 1042 AS VARCHAR), ' ', CAST(event_id % 3 AS VARCHAR), ' ',
                  CAST(k % 4 AS VARCHAR), '.', CAST(event_id % 10 AS VARCHAR), ' ',
                  CAST(event_id % 2 AS VARCHAR), ' ', CAST(event_id % 9 AS VARCHAR), ' cook]') AS stat2,
           concat(' [Stat3: raw ', CAST(event_id % 50 AS VARCHAR), ' data]') AS stat3,
           k * 10 + 60 AS file_time,
           event_id % (k * 10 + 61) AS sent_time,
           event_id % 7 AS resends,
           event_id % 3 AS failed_resends,
           event_id % 100 AS pres_id
         FROM src),
       lines AS (
         SELECT event_id, concat(
           ip, ' - - [', dstr, ' -0700] "GET ', fname, ' RTSP/1.0" ',
           CAST(status AS VARCHAR), ' ', CAST(bytes AS VARCHAR),
           ' [', cinfo, '] [', guid, ']',
           concat(CASE WHEN k % 3 = 1 THEN stat1
                       WHEN k % 3 = 2 THEN concat(stat1, stat2)
                       ELSE '' END,
                  CASE WHEN k % 11 = 5 THEN stat3 ELSE '' END),
           ' ', CAST(bytes AS VARCHAR), ' ', CAST(file_time AS VARCHAR),
           ' ', CAST(sent_time AS VARCHAR), ' ', CAST(resends AS VARCHAR),
           ' ', CAST(failed_resends AS VARCHAR), ' ', CAST(pres_id AS VARCHAR)) AS line
         FROM r)"""

  // ----------------------------------------------------------------
  // Parser expressions (the §2.2 library, pure Column -> Column)
  // ----------------------------------------------------------------

  /** Shape prefix every parseable line must carry: leading tokens +
    * a bracket holding a style-5 timestamp. The shape alone does not
    * make the timestamp parseable (`13/Ocu/2002`, hour 29): a gate
    * built on it also needs [[stampOk]] of the bound timestamp text.
    * Spelled out here for the DuckDB twins and the web shape; the
    * style-5 gate reads the same shape from [[Style5Scan]]. */
  private[parse] val timestampShapeRe: String =
    "^\\S+ \\S+ \\S+ \\[\\d\\d/\\w\\w\\w/\\d{4}:\\d\\d:\\d\\d:\\d\\d [^\\]]*\\] "

  /** The full style-5 shape: [[timestampShapeRe]], then the quoted
    * request, status, bytes and a numeric tail. */
  private[graft] val lineShapeRe: String = timestampShapeRe + "\"[^\"]*\" \\d+ \\d+ .*\\d$"

  /** The first `[dd/MMM/yyyy:HH:mm:ss` bracket anywhere in a line
    * (P8), for the DuckDB twins. */
  private[graft] val stampRe: String = "\\[(\\d\\d/\\w\\w\\w/\\d{4}:\\d\\d:\\d\\d:\\d\\d)"

  private val stampFormat = "dd/MMM/yyyy:HH:mm:ss"

  /** P8 — timestamp text → TimestampType (`real_parse.pl:87-90,238-247`).
    * The GMT offset is captured and stored but never applied, exactly
    * like the reference. Throws under ANSI on text that does not
    * parse; gates check [[stampOk]] first. */
  private[parse] def stamp(text: Column): Column = to_timestamp(text, stampFormat)
  private[parse] def stampOk(text: Column): Column =
    try_to_timestamp(text, lit(stampFormat)).isNotNull

  /** A token a gated binding casts to long fits one (a 20-digit token
    * throws `CAST_INVALID_INPUT` under ANSI). */
  private[parse] def fitsLong(token: Column): Column = token.try_cast("long").isNotNull

  /** P3/P6 — the positional numeric binding over the head-dropped
    * token array (`real_parse.pl:70-80`): status and bytes from the
    * front, the last six from the end, whatever stats digits landed in
    * the middle absorbed. The gate checks exactly these slots. */
  private val numericSlots: Seq[(Int, String)] = Seq(
    1 -> "status_code", 2 -> "bytes_sent", -6 -> "file_size", -5 -> "file_time",
    -4 -> "sent_time", -3 -> "resends", -2 -> "failed_resends", -1 -> "presentation_id")

  /** The one style-5 gate, over a [[Style5Scan]] struct. Malformed
    * lines (truncated partial writes, foreign formats, blank lines,
    * garbled timestamps, overlong numbers) fail it: under Spark 4's
    * default ANSI mode an element_at on a short token array, a
    * to_timestamp of an impossible date or a long cast of a 20-digit
    * token would otherwise throw and fail the whole job — in a stream,
    * a restart loop replaying the same poison file forever. A line
    * passing it binds every [[parsed]] field without throwing: the
    * line has the full shape, at least the eight numeric tokens the
    * positional binding reads, a timestamp that parses, and a long in
    * every bound slot. The gate does not count brackets: the
    * client-info and guid brackets (the second and third) bind with
    * `try_element_at`, so a line that lacks one binds NULL there, as
    * a DuckDB list index past the end (the twins' `bl[2]`) does.
    *
    * The slots are read from the scanned tokens, not from
    * [[dropHead]]'s array: with eight or more tokens, slot `i > 0` of
    * the head-dropped array is token `i + 1` when the head drops and
    * token `i` when it stays, and slot `i < 0` is token `i` either
    * way. So the head-drop test runs once, where a filter (which has
    * no subexpression elimination) would rebuild the dropped array
    * once per slot. */
  private def gate(scan: Column): Column = {
    val tokens = scan("tokens")
    def fits(slots: Seq[Int], shift: Int): Column =
      slots.map(i => fitsLong(try_element_at(tokens, lit(i + shift)))).reduce(_ && _)
    val (front, back) = numericSlots.map(_._1).partition(_ > 0)
    scan("shape") && size(tokens) >= 8 && stampOk(scan("ts")) && fits(back, 0) &&
      when(headDropped(tokens), fits(front, 1)).otherwise(fits(front, 0))
  }

  /** [[gate]] over a line column. In a projection, subexpression
    * elimination evaluates its one [[Style5Scan]] once; a filter has
    * no such pass and would scan once per conjunct, so filter lines
    * with [[accepted]] / [[rejected]] instead. */
  def wellFormed(line: Column): Column = gate(Style5Scan(line))

  /** P4 — head-drop heuristic: a first numeric token matching
    * `[6_9]\w+` came from a digit-leading path segment, not the status
    * code (`real_parse.pl:71-72`). */
  private def headDropped(tokens: Column): Column =
    try_element_at(tokens, lit(1)).rlike("^[6_9]\\w+")

  /** The token array after the [[headDropped]] test. An empty array
    * stays empty. */
  def dropHead(tokens: Column): Column =
    when(headDropped(tokens), slice(tokens, lit(2), greatest(size(tokens) - 1, lit(0))))
      .otherwise(tokens)

  /** P10 — path/name split + extension truncation (`real_parse.pl:120-131`).
    * name loses anything past the extension (query strings,
    * `real_parse.pl:125` WARN comment); "/" or "" → ("",""). */
  def fileName(fname: Column): Column =
    regexp_extract(regexp_extract(fname, "([^/]*)$", 1), "^(.+\\.\\w*)", 1)
  def filePath(fname: Column): Column = regexp_extract(fname, "^(.*)/[^/]*$", 1)

  // ----------------------------------------------------------------
  // Queries (driver contract) + DuckDB oracle twins
  // ----------------------------------------------------------------

  /** Render-only round trip: if this hash-matches, both engines agree
    * on every rendered byte and the parse queries test parsers only. */
  def renderQuery(spark: SparkSession, dir: String): DataFrame =
    renderedLines(spark, dir).orderBy("event_id")

  val renderSql: String =
    s"WITH $renderCtes SELECT event_id, line FROM lines ORDER BY event_id"

  /** The scanned lines that pass (`keep`) or fail [[gate]]. The scan
    * is bound by a generator (`explode_outer` over a one-element array:
    * one row out per row in, nulls kept), not a projection: Catalyst
    * pushes a filter through a projection by inlining the projected
    * expression into each conjunct, and a Filter has no subexpression
    * elimination, so the scan would run once per conjunct. A filter on
    * a generated column stays above the generator, so every conjunct
    * reads the one bound `sc`. */
  private def gated(lines: DataFrame, keep: Boolean): DataFrame = {
    val ok = gate(col("sc"))
    lines.select(col("*"), explode_outer(array(Style5Scan(col("line")))).as("sc"))
      .filter(if (keep) ok else !ok)
  }

  /** The one style-5 line → row binding. `lines` is any frame with a
    * `line` column (and none named `sc`, `m`, `b` or `cinfo`, the
    * scratch columns dropped on the way out); every named field is
    * appended: the access hub (P1, P8), the request line and path/name
    * split (P9, P10), the variable-arity positional numeric binding
    * ([[numericSlots]], P3/P4/P6), the client-info and guid brackets
    * and the stat blocks (P7). It does not gate: use [[accepted]]
    * where input may be malformed.
    *
    * Every capture comes from one [[Style5Scan]] of the line, bound
    * in its own projection: it is referenced by every field above, so
    * CollapseProject leaves it bound and the line is read once, not
    * once per field. The head-dropped token array `m` and the bracket
    * list `b` are bound too, and so is the client-info bracket
    * `cinfo`, which the star projections read as an attribute. The
    * casts, `to_timestamp`, the path/name split and the stat slice
    * stay Catalyst expressions over the captures.
    *
    * Consumers select what they need and column pruning drops the
    * rest, so each projection plans exactly like a hand-bound one. */
  def parsed(lines: DataFrame): DataFrame = bound(lines.withColumn("sc", Style5Scan(col("line"))))

  /** [[parsed]] of the lines that pass [[wellFormed]]: one scan per
    * line serves the gate and the binding. */
  def accepted(lines: DataFrame): DataFrame = bound(gated(lines, keep = true))

  /** The rows of `lines` whose `line` fails [[wellFormed]], as they
    * came: the complement of [[accepted]], for a quarantine sink. */
  def rejected(lines: DataFrame): DataFrame = gated(lines, keep = false).drop("sc")

  /** The fields of a frame whose `sc` column holds the [[Style5Scan]]
    * of its `line`. */
  private def bound(scanned: DataFrame): DataFrame = {
    val (sc, m, b) = (col("sc"), col("m"), col("b"))
    scanned
      .withColumn("m", dropHead(sc("tokens")))
      .withColumn("b", sc("brackets"))
      .withColumn("cinfo", try_element_at(b, lit(2)))
      .select(col("*") +: (Seq(
        sc("lead").as("client_ip_address"),
        stamp(sc("ts")).as("datetime"),
        unix_timestamp(stamp(sc("ts"))).as("epoch"),
        sc("gmt").as("gmt_offset"),
        sc("method").as("method"),
        filePath(sc("file")).as("path"),
        fileName(sc("file")).as("name"),
        sc("proto").as("protocol_version")) ++
        numericSlots.map { case (i, name) => element_at(m, i).cast("long").as(name) } ++
        Seq(
          col("cinfo").as("client_info"),
          try_element_at(b, lit(3)).as("client_guid"),
          slice(b, lit(4), greatest(size(b) - 3, lit(0))).as("stat_blocks"))): _*)
      .drop("sc", "m", "b", "cinfo")
  }

  /** Reject-lane ETL quality gate: corrupt a deterministic slice of
    * the rendered lines (event_id%13==7 truncated mid-record, the way
    * a crashed logger leaves partial writes), classify every line
    * with the production gate [[wellFormed]], and count accepted vs
    * rejected. Real 100 TB ingest always needs this lane — bad rows
    * quarantine instead of poisoning the load (the reference would
    * die or silently mis-parse). */
  def parseRejects(spark: SparkSession, dir: String): DataFrame = {
    val l = renderedLines(spark, dir)
      .withColumn("corrupt_key", col("event_id") % 13)
      .withColumn("line2",
        when(col("corrupt_key") === 7, substring(col("line"), 1, 40)).otherwise(col("line")))
      .withColumn("ok", wellFormed(col("line2")))
    l.groupBy(col("ok"))
      .agg(count(lit(1)).as("n"),
           min(col("event_id")).as("first_event"))
      .orderBy(col("ok"))
  }

  val parseRejectsSql: String = {
    val bound = numericSlots.map { case (i, _) => s"TRY_CAST(m[$i] AS BIGINT) IS NOT NULL" }
      .mkString(" AND ")
    s"""WITH $renderCtes,
       c AS (
         SELECT event_id,
           CASE WHEN event_id % 13 = 7 THEN substr(line, 1, 40) ELSE line END AS line2
         FROM lines),
       t AS (
         SELECT event_id, line2, regexp_extract_all(line2, '\\s(\\d+)', 1) AS m0
         FROM c),
       g AS (
         SELECT *,
           CASE WHEN len(m0) > 0 AND regexp_matches(m0[1], '^[6_9]\\w+')
                THEN m0[2:] ELSE m0 END AS m
         FROM t)
       SELECT regexp_matches(line2, '$lineShapeRe')
           AND len(m0) >= 8
           AND try_strptime(regexp_extract(line2, '$stampRe', 1), '%d/%b/%Y:%H:%M:%S') IS NOT NULL
           AND $bound AS ok,
         CAST(count(*) AS BIGINT) AS n,
         min(event_id) AS first_event
       FROM g GROUP BY 1 ORDER BY ok"""
  }

  /** The `access` hub projection (S7; `real_parse.pl:96-106`). */
  def parseAccess(spark: SparkSession, dir: String): DataFrame =
    parsed(renderedLines(spark, dir))
      .select(col("event_id"), col("client_ip_address"),
        lit("-").as("identuser"), lit("-").as("authuser"),
        col("datetime"), col("gmt_offset"), col("epoch"))
      .orderBy("event_id")

  val parseAccessSql: String =
    s"""WITH $renderCtes
       SELECT event_id,
         regexp_extract(line, '^(\\S*)', 1) AS client_ip_address,
         '-' AS identuser,
         '-' AS authuser,
         strptime(regexp_extract(line, '\\[(\\d\\d/\\w\\w\\w/\\d{4}:\\d\\d:\\d\\d:\\d\\d)', 1), '%d/%b/%Y:%H:%M:%S') AS datetime,
         regexp_extract(line, ' -(\\d{4})\\]', 1) AS gmt_offset,
         CAST(epoch(strptime(regexp_extract(line, '\\[(\\d\\d/\\w\\w\\w/\\d{4}:\\d\\d:\\d\\d:\\d\\d)', 1), '%d/%b/%Y:%H:%M:%S')) AS BIGINT) AS epoch
       FROM lines ORDER BY event_id"""

  /** The `file` satellite projection (S8; `real_parse.pl:117-155`). */
  def parseFile(spark: SparkSession, dir: String): DataFrame =
    parsed(renderedLines(spark, dir))
      .select("event_id", "method", "path", "name", "protocol_version",
        "status_code", "bytes_sent", "file_size", "file_time", "sent_time",
        "resends", "failed_resends", "presentation_id")
      .orderBy("event_id")

  /** Shared DuckDB parse CTEs over `lines`: request-line fields,
    * numeric tokens with the P4 head-drop, brackets, path/name.
    * ONE copy — parseFileSql, Report.nameMatchSql and
    * StarEtl.starSummarySql all build on `pf` so the token heuristics
    * cannot drift between oracles. */
  val fileParseCtes: String =
    """pfile AS (
         SELECT event_id, line,
           regexp_extract(line, '"(\S+) (.*?) (\S+)"', 1) AS method,
           regexp_extract(line, '"(\S+) (.*?) (\S+)"', 2) AS fname,
           regexp_extract(line, '"(\S+) (.*?) (\S+)"', 3) AS protocol_version,
           regexp_extract_all(line, '\s(\d+)', 1) AS m0,
           regexp_extract_all(line, '\[([^\]]*)\]', 1) AS bl
         FROM lines),
       pf AS (
         SELECT *,
           CASE WHEN len(m0) > 0 AND regexp_matches(m0[1], '^[6_9]\w+')
                THEN m0[2:] ELSE m0 END AS m,
           regexp_extract(fname, '^(.*)/[^/]*$', 1) AS path,
           regexp_extract(regexp_extract(fname, '([^/]*)$', 1), '^(.+\.\w*)', 1) AS name
         FROM pfile)"""

  val parseFileSql: String =
    s"""WITH $renderCtes, $fileParseCtes
       SELECT event_id, method, path, name, protocol_version,
         CAST(m[1] AS BIGINT) AS status_code,
         CAST(m[2] AS BIGINT) AS bytes_sent,
         CAST(m[-6] AS BIGINT) AS file_size,
         CAST(m[-5] AS BIGINT) AS file_time,
         CAST(m[-4] AS BIGINT) AS sent_time,
         CAST(m[-3] AS BIGINT) AS resends,
         CAST(m[-2] AS BIGINT) AS failed_resends,
         CAST(m[-1] AS BIGINT) AS presentation_id
       FROM pf ORDER BY event_id"""

  /** The `client` satellite (S9; P11/P12 dispatch,
    * `real_parse.pl:250-277`): underscore-delimited RealPlayer info
    * split into 8 fields vs QuickTime `QTS (qtver=..;os=..)` parse. */
  /** P11/P12 dispatch over a `cinfo` column → the 9 client columns
    * (shared by the contract query and the star ETL). */
  def clientFieldCols(cinfo: Column): Seq[Column] = {
    val isRp = cinfo.rlike("^[A-Za-z0-9]+_")
    def part(n: Int): Column = when(isRp, split_part(cinfo, lit("_"), lit(n))).otherwise(lit(""))
    val qt = "^(Q\\w*)\\s\\(qtver=(\\d.+\\d);os=([A-Za-z].+)\\)"
    Seq(
      cinfo.as("client_info"),
      part(1).as("platform"),
      when(isRp, split_part(cinfo, lit("_"), lit(2)))
        .otherwise(regexp_extract(cinfo, qt, 3)).as("os_version"),
      when(isRp, split_part(cinfo, lit("_"), lit(3)))
        .otherwise(regexp_extract(cinfo, qt, 2)).as("client_version"),
      when(isRp, split_part(cinfo, lit("_"), lit(4)))
        .otherwise(regexp_extract(cinfo, qt, 1)).as("type"),
      part(5).as("distribution"),
      part(6).as("language"),
      part(7).as("cpu"),
      part(8).as("embedded"))
  }

  def parseClient(spark: SparkSession, dir: String): DataFrame =
    parsed(renderedLines(spark, dir))
      .select(col("event_id") +: clientFieldCols(col("client_info")): _*)
      .orderBy("event_id")

  val parseClientSql: String =
    s"""WITH $renderCtes,
       c AS (
         SELECT event_id, regexp_extract_all(line, '\\[([^\\]]*)\\]', 1)[2] AS cinfo,
                regexp_matches(regexp_extract_all(line, '\\[([^\\]]*)\\]', 1)[2], '^[A-Za-z0-9]+_') AS is_rp
         FROM lines)
       SELECT event_id, cinfo AS client_info,
         CASE WHEN is_rp THEN split_part(cinfo, '_', 1) ELSE '' END AS platform,
         CASE WHEN is_rp THEN split_part(cinfo, '_', 2)
              ELSE regexp_extract(cinfo, '^(Q\\w*)\\s\\(qtver=(\\d.+\\d);os=([A-Za-z].+)\\)', 3) END AS os_version,
         CASE WHEN is_rp THEN split_part(cinfo, '_', 3)
              ELSE regexp_extract(cinfo, '^(Q\\w*)\\s\\(qtver=(\\d.+\\d);os=([A-Za-z].+)\\)', 2) END AS client_version,
         CASE WHEN is_rp THEN split_part(cinfo, '_', 4)
              ELSE regexp_extract(cinfo, '^(Q\\w*)\\s\\(qtver=(\\d.+\\d);os=([A-Za-z].+)\\)', 1) END AS type,
         CASE WHEN is_rp THEN split_part(cinfo, '_', 5) ELSE '' END AS distribution,
         CASE WHEN is_rp THEN split_part(cinfo, '_', 6) ELSE '' END AS language,
         CASE WHEN is_rp THEN split_part(cinfo, '_', 7) ELSE '' END AS cpu,
         CASE WHEN is_rp THEN split_part(cinfo, '_', 8) ELSE '' END AS embedded
       FROM c ORDER BY event_id"""

  /** P18 — the prototype whitespace-split positional parser
    * (`open_log.pl:42-56`): `split(/ /)` + fixed field indexes
    * (ip, identuser, authuser from the head; status_code and
    * bytes_sent at the post-request positions), the reference's
    * no-regex fast path for lines whose request filename carries no
    * embedded space. The gate is positional self-validation — the
    * status slot must be all digits — so lines the fast path would
    * mis-bind (the k%7==2 `clip 6<k>.rm` render case, whose embedded
    * space shifts every later token) are rejected here and belong to
    * the full regex parser. On our render the timestamp bracket
    * splits into two tokens, so status/bytes sit at 1-based 9/10
    * (the reference's 0-based 9/10 applied to its own fixture,
    * `open_log.pl:55-56`).
    *
    * Scale: pure codegen split+compare, no regex on the hot fields —
    * this is the cheap first pass of a two-lane parser at 100 TB
    * (fast lane for plain lines, regex lane for the rest).
    */
  def parseFastpath(spark: SparkSession, dir: String): DataFrame = {
    // the gate filter is over a line-derived column and would
    // otherwise be pushed (with the whole split+render inlined)
    // through the exchange onto the raw single-split scan — see
    // graft.util.Fence for the trap and the 100 TB contract
    val l = graft.util.Fence.barrier(renderedLines(spark, dir))
      .withColumn("p", split(col("line"), " "))
    l.filter(coalesce(try_element_at(col("p"), lit(9)).rlike("^\\d+$"), lit(false)))
      .select(
        col("event_id"),
        try_element_at(col("p"), lit(1)).as("client_ip_address"),
        try_element_at(col("p"), lit(2)).as("identuser"),
        try_element_at(col("p"), lit(3)).as("authuser"),
        try_element_at(col("p"), lit(9)).cast("long").as("status_code"),
        try_element_at(col("p"), lit(10)).cast("long").as("bytes_sent"))
      .orderBy("event_id")
  }

  val parseFastpathSql: String =
    s"""WITH $renderCtes,
       p AS (SELECT event_id, string_split(line, ' ') AS p FROM lines)
       SELECT event_id,
         p[1] AS client_ip_address,
         p[2] AS identuser,
         p[3] AS authuser,
         CAST(p[9] AS BIGINT) AS status_code,
         CAST(p[10] AS BIGINT) AS bytes_sent
       FROM p WHERE regexp_matches(p[9], '^\\d+$$')
       ORDER BY event_id"""

  /** Stats-mask explode + dispatch (S11/F10/P13-P17,
    * `real_parse.pl:280-344`): bracket groups index ≥ 3 are Stat
    * blocks; `explode` is the Generator (§2.8) — one output row per
    * stat block, routed by its `Stat[1-3]:` tag, with the Stat1/Stat2
    * field parses and the `""` → UNKNOWN audio_format default.
    * Events with no stat blocks disappear (explode drops empty
    * arrays), matching the reference's 0..n insert loop. */
  def parseStats(spark: SparkSession, dir: String): DataFrame =
    statRows(parsed(renderedLines(spark, dir)), col("event_id"))
      .orderBy("event_id", "stat_type")

  /** One row per stat block of a [[parsed]] frame, keyed `event_id`
    * by `id`, through [[statFields]] (shared by the contract query and
    * the star ETL). explode_outer, NOT explode: for plain explode the
    * optimizer's InferFiltersFromGenerate injects `size(stat_blocks) > 0`
    * below the projections, re-evaluating the whole render+regex chain
    * twice per row in a pre-projection Filter. explode_outer gets no
    * inferred filter; the null rows from empty arrays are dropped by a
    * cheap post-filter on the generator output instead. */
  def statRows(lines: DataFrame, id: Column): DataFrame =
    statFields(lines.select(id, explode_outer(col("stat_blocks")).as("stat"))
      .filter(col("stat").isNotNull))

  /** P13-P17 field extraction over an exploded (event_id, stat)
    * frame (shared by the contract query and the star ETL), at the
    * reference's FULL field arity: 6 Stat1 data fields
    * (`real_parse.pl:296-309` — packets_received, out_of_order,
    * missing, early, late, audio_format) and 12 Stat2 data fields
    * (`real_parse.pl:313-331` — bandwidth, available, highest,
    * lowest, average, requested, received, late, rebuffering,
    * transport, startup, audio_format).
    *
    * All numerics come from ONE `regexp_extract_all` pass (the
    * reference's single big positional regex, minus per-field capture
    * groups DuckDB can't index past 9) plus positional
    * `try_element_at` binds — one regex evaluation per stat block
    * instead of one per field, with the same `nums[i]` indexing
    * verbatim in the DuckDB twin. `\s(\d+[.]?\d*)` matches both the
    * integer fields and Stat2's decimal `rebuffering`; audio_format
    * is non-numeric (`\w.+` starting with a letter) and trails the
    * numerics, so it can never shift the positional bind.
    *
    * The two `late` fields live in different reference tables, so in
    * this unified exploded frame Stat2's is `s2_late`; the
    * stats_mask2 star projection renames it back to `late`.
    */
  def statFields(l: DataFrame): DataFrame = {
    // DuckDB caps regexp_extract group index at 9, so the audio tail
    // is captured as group 1 with non-capturing prefixes — same
    // patterns verbatim on both sides.
    val s1audio = "^Stat1:(?:\\s+\\d+){5}(?:\\s+(\\w.*))?$"
    val s2audio = "^Stat2:(?:\\s+\\d+){8}\\s+\\d+[.]?\\d*(?:\\s+\\d+){2}(?:\\s+(\\w.*))?$"
    // The regexes are hoisted into their own projection BEHIND an
    // exchange barrier: the 17 positional binds below sit inside
    // when() branch values, and codegen subexpression elimination
    // does not hoist conditionally-evaluated subtrees — without the
    // barrier CollapseProject inlines `nums` per reference and the
    // extract-all regex runs once per FIELD instead of once per row
    // (measured 5× on the sf0.1 bench). The shuffled rows are narrow
    // (id + tag + a token array), so the exchange is cheap at any
    // scale, and it doubles as the CPU-spread for the single-split
    // test parquet.
    val prepared = l.select(
        col("event_id"),
        col("stat"),
        regexp_extract(col("stat"), "^(Stat[1-3]):", 1).as("stat_type"),
        regexp_extract_all(col("stat"), lit("\\s(\\d+[.]?\\d*)"), lit(1)).as("nums"),
        regexp_extract(col("stat"), s1audio, 1).as("a1"),
        regexp_extract(col("stat"), s2audio, 1).as("a2"))
      .repartition(l.sparkSession.sparkContext.defaultParallelism)
    val tag  = col("stat_type")
    val nums = col("nums")
    def n1(i: Int): Column = when(tag === "Stat1", try_element_at(nums, lit(i)).cast("long"))
    def n2(i: Int): Column = when(tag === "Stat2", try_element_at(nums, lit(i)).cast("long"))
    prepared.select(
      col("event_id"),
      tag.as("stat_type"),
      n1(1).as("packets_received"),
      n1(2).as("out_of_order"),
      n1(3).as("missing"),
      n1(4).as("early"),
      n1(5).as("late"),
      n2(1).as("bandwidth"),
      n2(2).as("available"),
      n2(3).as("highest"),
      n2(4).as("lowest"),
      n2(5).as("average"),
      n2(6).as("requested"),
      n2(7).as("received"),
      n2(8).as("s2_late"),
      when(tag === "Stat2", try_element_at(nums, lit(9)).cast("double")).as("rebuffering"),
      n2(10).as("transport"),
      n2(11).as("startup"),
      when(tag === "Stat1", when(col("a1") === "", "UNKNOWN").otherwise(col("a1")))
        .when(tag === "Stat2", when(col("a2") === "", "UNKNOWN").otherwise(col("a2")))
        .otherwise(lit("")).as("audio_format"),
      when(tag === "Stat3", col("stat")).otherwise(lit("")).as("raw_stat_text"))
  }

  val parseStatsSql: String = {
    def num1(i: Int) = s"CASE WHEN stat_type = 'Stat1' THEN CAST(nums[$i] AS BIGINT) END"
    def num2(i: Int) = s"CASE WHEN stat_type = 'Stat2' THEN CAST(nums[$i] AS BIGINT) END"
    s"""WITH $renderCtes,
       b AS (SELECT event_id, regexp_extract_all(line, '\\[([^\\]]*)\\]', 1) AS bl FROM lines),
       e AS (SELECT event_id, unnest(bl[4:]) AS stat FROM b),
       t AS (SELECT event_id, stat,
               regexp_extract(stat, '^(Stat[1-3]):', 1) AS stat_type,
               regexp_extract_all(stat, '\\s(\\d+[.]?\\d*)', 1) AS nums
             FROM e)
       SELECT event_id, stat_type,
         ${num1(1)} AS packets_received,
         ${num1(2)} AS out_of_order,
         ${num1(3)} AS missing,
         ${num1(4)} AS early,
         ${num1(5)} AS late,
         ${num2(1)} AS bandwidth,
         ${num2(2)} AS available,
         ${num2(3)} AS highest,
         ${num2(4)} AS lowest,
         ${num2(5)} AS average,
         ${num2(6)} AS requested,
         ${num2(7)} AS received,
         ${num2(8)} AS s2_late,
         CASE WHEN stat_type = 'Stat2' THEN CAST(nums[9] AS DOUBLE) END AS rebuffering,
         ${num2(10)} AS transport,
         ${num2(11)} AS startup,
         CASE WHEN stat_type = 'Stat1' THEN
                CASE WHEN regexp_extract(stat, '^Stat1:(?:\\s+\\d+){5}(?:\\s+(\\w.*))?$$', 1) = '' THEN 'UNKNOWN'
                     ELSE regexp_extract(stat, '^Stat1:(?:\\s+\\d+){5}(?:\\s+(\\w.*))?$$', 1) END
              WHEN stat_type = 'Stat2' THEN
                CASE WHEN regexp_extract(stat, '^Stat2:(?:\\s+\\d+){8}\\s+\\d+[.]?\\d*(?:\\s+\\d+){2}(?:\\s+(\\w.*))?$$', 1) = '' THEN 'UNKNOWN'
                     ELSE regexp_extract(stat, '^Stat2:(?:\\s+\\d+){8}\\s+\\d+[.]?\\d*(?:\\s+\\d+){2}(?:\\s+(\\w.*))?$$', 1) END
              ELSE '' END AS audio_format,
         CASE WHEN stat_type = 'Stat3' THEN stat ELSE '' END AS raw_stat_text
       FROM t ORDER BY event_id, stat_type"""
  }
}
