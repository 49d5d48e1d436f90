package graft.report

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.util.Exact

/** Reporting family: the decorrelated rebuild of
  * `/root/reference/pull_report.pl` (SURVEY.md §2.3-§2.5, §3.2),
  * domain-mapped onto the TPC-H-ish test tables (FIXTURES.md §C):
  * `lineitem` plays `file`, `orders` plays `access`, `customer` plays
  * the `contacts.main` dimension.
  *
  * Scale notes (100 TB design):
  *  - The reference runs 4 correlated scalar queries per file
  *    (`pull_report.pl:49-52,96-175`, an N+1 anti-pattern). Here each
  *    report is ONE grouped aggregation: map-side partial agg → one
  *    shuffle on the group key → final agg. No driver-side loops.
  *  - Dimension joins broadcast (customer/part slices are small
  *    relative to the fact); the fact side never shuffles twice for
  *    the same key.
  *  - Money aggregates go through graft.util.Exact so results are
  *    order-independent and engine-independent (SURVEY.md §7.5.6).
  */
object Report {

  /** Flagship: per-asset viewing metrics —
    * `pull_report.pl:96-175` A1-A4 (count / max / round(avg) / max)
    * with exclusion filters F4 (internal-source exclusion),
    * F5 (nonzero guard), F6 (theta bound `sent_time <= file_time`).
    * Mapping: l_partkey=asset, l_quantity=sent_time,
    * l_extendedprice=file_time, o_orderstatus 'P'=internal traffic.
    */
  def reportMetrics(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .filter(col("o_orderstatus") =!= "P")      // F4: internal exclusion
      .filter(col("l_quantity") =!= 0)           // F5: nonzero guard
      .filter(col("l_quantity") <= col("l_extendedprice")) // F6: theta bound
      .groupBy(col("l_partkey").as("asset_id"))
      .agg(
        count(col("l_quantity")).as("play_count"),            // A1
        max(col("l_extendedprice")).as("clip_length"),        // A2 (exact passthrough)
        Exact.moneyAvg(col("l_quantity")).as("avg_view"),     // A3
        max(col("l_quantity")).as("longest_view"))            // A4
      .orderBy(col("asset_id"))
  }

  val reportMetricsSql: String =
    s"""SELECT l_partkey AS asset_id,
       CAST(count(l_quantity) AS BIGINT) AS play_count,
       max(l_extendedprice) AS clip_length,
       ${Exact.moneyAvgSql("l_quantity")} AS avg_view,
       max(l_quantity) AS longest_view
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE o_orderstatus <> 'P' AND l_quantity <> 0
         AND l_quantity <= l_extendedprice
       GROUP BY l_partkey ORDER BY asset_id"""

  /** The customer → project → file dimension chain
    * (`pull_report.pl:34-64`, J2/J3) decorrelated into two equi-joins
    * with the `hosting='Yes'` dimension filter (F7) mapped to
    * `c_mktsegment='BUILDING'`. The dimension side is broadcast —
    * at 100 TB the fact table (lineitem) is the only shuffled input,
    * and only once, on its join key.
    */
  def reportChain(spark: SparkSession, dir: String): DataFrame = {
    val c  = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o  = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_custkey").as("customer_id"), col("c_name").as("customer_name"))
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_items"),
        Exact.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("customer_id"))
  }

  val reportChainSql: String =
    s"""SELECT c_custkey AS customer_id, c_name AS customer_name,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
       CAST(count(*) AS BIGINT) AS n_items,
       ${Exact.moneySumSql("l_extendedprice * (1 - l_discount)")} AS revenue
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       WHERE c_mktsegment = 'BUILDING'
       GROUP BY c_custkey, c_name ORDER BY customer_id"""

  /** TPC-H Q1-shaped pricing summary: the canonical grouped-aggregate
    * capability check (SURVEY.md §2.5 — partial+final hash agg). */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        Exact.moneySum(col("l_quantity")).as("sum_qty"),
        Exact.moneySum(col("l_extendedprice")).as("sum_base_price"),
        Exact.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        Exact.moneyAvg(col("l_quantity")).as("avg_qty"),
        Exact.moneyAvg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1PricingSummarySql: String =
    s"""SELECT l_returnflag, l_linestatus,
       ${Exact.moneySumSql("l_quantity")} AS sum_qty,
       ${Exact.moneySumSql("l_extendedprice")} AS sum_base_price,
       ${Exact.moneySumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       ${Exact.moneyAvgSql("l_quantity")} AS avg_qty,
       ${Exact.moneyAvgSql("l_extendedprice")} AS avg_price,
       CAST(count(*) AS BIGINT) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  /** Top-k assets by revenue — the reference's "longest view" top-1
    * (`pull_report.pl:162`) generalized to top-k (SURVEY.md §2.6).
    * orderBy+limit compiles to TakeOrderedAndProject: per-partition
    * top-k then a k-row merge on the driver — no full sort at scale. */
  def topkAssets(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir)
    li.groupBy(col("l_partkey"))
      .agg(Exact.moneySum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_plays"))
      .join(broadcast(p), col("l_partkey") === p("p_partkey"))
      .select(col("p_partkey").as("asset_id"), col("p_name").as("asset_name"),
              col("revenue"), col("n_plays"))
      .orderBy(col("revenue").desc, col("asset_id"))
      .limit(10)
  }

  val topkAssetsSql: String =
    s"""SELECT p_partkey AS asset_id, p_name AS asset_name, revenue, n_plays
       FROM (SELECT l_partkey,
               ${Exact.moneySumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
               CAST(count(*) AS BIGINT) AS n_plays
             FROM lineitem GROUP BY l_partkey)
       JOIN part ON l_partkey = p_partkey
       ORDER BY revenue DESC, asset_id LIMIT 10"""

  /** F1: the high-watermark incremental filter
    * (`real_parse.pl:46-52,93`). The "already loaded" sink slice is
    * events with event_id < 500; the watermark is its max(ts); new
    * rows are strictly later (the reference's strictly-greater
    * boundary semantics, SURVEY.md §7.5.2). The scalar watermark is
    * a 1-row aggregate cross-joined (broadcast) into the filter — no
    * driver collect, works unchanged at 100 TB.
    */
  def watermarkIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val wm = ev.filter(col("event_id") < 500).agg(max(col("ts")).as("wm"))
    ev.crossJoin(broadcast(wm))
      .filter(col("ts") > col("wm"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_new"),
           Exact.moneySum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val watermarkIncrementalSql: String =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_new,
       ${Exact.moneySumSql("value")} AS sum_value
       FROM events
       WHERE CAST(ts AS TIMESTAMP) > (SELECT max(CAST(ts AS TIMESTAMP)) FROM events WHERE event_id < 500)
       GROUP BY event_type ORDER BY event_type"""

  /** F11 — the reference's `LIKE '$project_file'` with no wildcard:
    * semantically a case-insensitive equi-match under MySQL's default
    * collation (`pull_report.pl:99`). Rebuilt as lower() = lower()
    * against a deliberately upper-cased asset list. */
  def nameMatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.parse.Style5
    val assets = Seq("CLIP1.RM", "CLIP42.RM", "CLIP87.RM").map(_.toLowerCase)
    // select only name + bytes (pruning drops the rest of the parse,
    // which the pushed-down filter would re-evaluate per field), and
    // fence with the ZERO-COST barrier — single consumer, so nothing
    // needs to materialize; the isin filter binds to the fenced
    // attribute instead of pushing the whole render into the scan
    Style5.parsed(graft.util.Fence.barrier(Style5.renderedLines(spark, dir)))
      .select(col("name"), col("bytes_sent"))
      .filter(lower(col("name")).isin(assets: _*))
      .groupBy(col("name"))
      .agg(count(lit(1)).as("play_count"), sum(col("bytes_sent")).as("bytes_total"))
      .orderBy(col("name"))
  }

  val nameMatchSql: String =
    s"""WITH ${graft.parse.Style5.renderCtes}, ${graft.parse.Style5.fileParseCtes}
       SELECT name, CAST(count(*) AS BIGINT) AS play_count,
       CAST(sum(CAST(m[2] AS BIGINT)) AS BIGINT) AS bytes_total
       FROM pf
       WHERE lower(name) IN ('clip1.rm', 'clip42.rm', 'clip87.rm')
       GROUP BY name ORDER BY name"""

  /** P19 `formatTime` (`pull_report.pl:178-187`): seconds →
    * `h:mm:ss` (>= 1h) or `m:ss` — pure built-ins, no UDF, stays in
    * whole-stage codegen. */
  def formatTime(secs: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // concat+lpad, not format_string: FormatString routes every row
    // through java.util.Formatter (regex parse of the pattern + boxed
    // varargs per call) — 3-4× slower in the 600k-row render path.
    // Identical strings: %d == Long.toString, and the %02d fields are
    // always in [0, 60) here so lpad-2 matches exactly.
    def p2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      lpad(c.cast("long").cast("string"), 2, "0")
    when(secs >= 3600,
      concat((secs / 3600).cast("long").cast("string"), lit(":"),
        p2((secs % 3600) / 60), lit(":"), p2(secs % 60)))
    .otherwise(
      concat((secs / 60).cast("long").cast("string"), lit(":"), p2(secs % 60)))
  }

  def formatTimeQuery(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // floor (not cast) — DuckDB's double→int cast rounds, Spark's truncates
    li.select(col("l_orderkey"), col("l_linenumber"),
        (floor(col("l_extendedprice")).cast("long") % 90000).as("view_secs"))
      .withColumn("view_time", formatTime(col("view_secs")))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** The complete pull_report output (§3.2): customer → project →
    * file chain with all four per-asset metrics AND the formatted
    * time strings the reference prints (`pull_report.pl:53-57`), in
    * one decorrelated plan instead of 1 + P + 4·F queries. Customer
    * plays contacts.main (F7 hosting filter), order plays project,
    * part plays project_file. */
  def customerReport(spark: SparkSession, dir: String): DataFrame = {
    val c  = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o  = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .filter(col("l_quantity") =!= 0)                          // F5
      .filter(col("l_quantity") <= col("l_extendedprice"))      // F6
      .groupBy(col("c_custkey").as("customer_id"),
        col("c_name").as("customer_name"), col("l_partkey").as("asset_id"))
      .agg(count(lit(1)).as("play_count"),
           max(col("l_extendedprice")).as("clip_length"),
           Exact.moneyAvg(col("l_quantity")).as("avg_view"),
           max(col("l_quantity")).as("longest_view"))
      .withColumn("avg_view_fmt", formatTime(floor(col("avg_view")).cast("long")))
      .withColumn("longest_view_fmt", formatTime(floor(col("longest_view")).cast("long")))
      .orderBy(col("customer_id"), col("asset_id"))
  }

  val customerReportSql: String =
    s"""WITH g AS (
         SELECT c_custkey AS customer_id, c_name AS customer_name,
           l_partkey AS asset_id,
           CAST(count(*) AS BIGINT) AS play_count,
           max(l_extendedprice) AS clip_length,
           ${Exact.moneyAvgSql("l_quantity")} AS avg_view,
           max(l_quantity) AS longest_view
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING' AND l_quantity <> 0
           AND l_quantity <= l_extendedprice
         GROUP BY 1, 2, 3),
       f AS (
         SELECT *, CAST(floor(avg_view) AS BIGINT) AS a_s,
                   CAST(floor(longest_view) AS BIGINT) AS l_s
         FROM g)
       SELECT customer_id, customer_name, asset_id, play_count,
         clip_length, avg_view, longest_view,
         CASE WHEN a_s >= 3600 THEN printf('%d:%02d:%02d', a_s // 3600, (a_s % 3600) // 60, a_s % 60)
              ELSE printf('%d:%02d', a_s // 60, a_s % 60) END AS avg_view_fmt,
         CASE WHEN l_s >= 3600 THEN printf('%d:%02d:%02d', l_s // 3600, (l_s % 3600) // 60, l_s % 60)
              ELSE printf('%d:%02d', l_s // 60, l_s % 60) END AS longest_view_fmt
       FROM f ORDER BY customer_id, asset_id"""

  val formatTimeSql: String =
    """WITH s AS (SELECT l_orderkey, l_linenumber,
         CAST(floor(l_extendedprice) AS BIGINT) % 90000 AS view_secs
         FROM lineitem)
       SELECT l_orderkey, l_linenumber, view_secs,
       CASE WHEN view_secs >= 3600 THEN
         printf('%d:%02d:%02d', view_secs // 3600, (view_secs % 3600) // 60, view_secs % 60)
       ELSE
         printf('%d:%02d', view_secs // 60, view_secs % 60)
       END AS view_time
       FROM s ORDER BY l_orderkey, l_linenumber"""
}
