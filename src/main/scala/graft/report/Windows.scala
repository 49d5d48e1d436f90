package graft.report

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.util.Exact

/** Window / session / set-op / JSON capability extensions
  * (SURVEY.md §2.6-§2.7 — the reference has none of these; they are
  * the §7 extensions for viewer sessionization over the access-log
  * stream, mapped to `events`).
  *
  * Scale notes: every window here partitions by `user_id` — one hash
  * shuffle on the partition key, then sorting within partitions. With
  * AQE + salting this survives skewed users; no global sort appears
  * anywhere except final presentation ORDER BY (which the driver's
  * hash-compare needs; at production scale that orderBy would be
  * dropped or pushed to the consumer).
  */
object Windows {

  /** Per-user event ranking: keep each user's first 3 events
    * (row_number window, deterministic ts+event_id tiebreak). */
  def sessionRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("rn"), col("event_id"), col("event_type"))
      .orderBy(col("user_id"), col("rn"))
  }

  val sessionRankSql: String =
    """SELECT user_id, rn, event_id, event_type
       FROM (SELECT user_id, event_id, event_type,
               row_number() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
             FROM events)
       WHERE rn <= 3 ORDER BY user_id, rn"""

  /** Gap-based sessionization (lag + running sum of session starts;
    * gap > 30 min ⇒ new session). The streaming twin is
    * `session_window` (see [[sessionWindowAgg]]); this is the batch
    * formulation every SQL engine can check. Micros arithmetic on
    * both sides so the boundary is bit-exact. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w  = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
             unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("sess", sum(col("is_new")).over(wc))
      .groupBy(col("user_id"))
      .agg(max(col("sess")).cast("long").as("n_sessions"),
           count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val sessionizeSql: String =
    """WITH l AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
           lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
         FROM events),
       s AS (
         SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
         FROM l),
       c AS (
         SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
         FROM s)
       SELECT user_id, CAST(max(sess) AS BIGINT) AS n_sessions,
              CAST(count(*) AS BIGINT) AS n_events
       FROM c GROUP BY user_id ORDER BY user_id"""

  /** Tumbling 1-hour window aggregation — the batch twin of the
    * Structured Streaming windowed agg (SURVEY.md §2.7 "Windows"). */
  def hourlyWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Exact.moneySum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  val hourlyWindowAggSql: String =
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n,
       ${Exact.moneySumSql("value")} AS sum_value
       FROM events
       GROUP BY 1, 2 ORDER BY window_start, event_type"""

  /** `session_window` (30-min inactivity gap) per user — Spark's
    * native session operator; the oracle reproduces its semantics
    * with the gap rule (new session when diff >= gap). */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))

  val sessionWindowAggSql: String =
    """WITH l AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
           lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us
         FROM events),
       s AS (
         SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS is_new
         FROM l),
       c AS (
         -- ORDER BY must carry the event_id tie-break: with duplicate
         -- timestamps an is_new row's ts-peers would otherwise split
         -- arbitrarily around it (caught by the sf1 10x-replica gate)
         SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
         FROM s)
       SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
       FROM c GROUP BY user_id, sess ORDER BY user_id, session_start"""

  /** Sliding 2-hour windows advancing hourly — each event lands in
    * two overlapping windows (the tumbling case is
    * [[hourlyWindowAgg]]); the oracle expands each event into its two
    * member windows with a list unnest. */
  def slidingWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))
      .orderBy(col("window_start"), col("event_type"))

  val slidingWindowAggSql: String =
    """SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n
       FROM (SELECT event_type,
               unnest([date_trunc('hour', CAST(ts AS TIMESTAMP)),
                       date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR]) AS window_start
             FROM events)
       GROUP BY window_start, event_type
       ORDER BY window_start, event_type"""

  /** LEFT OUTER join: order counts per customer INCLUDING customers
    * with no orders at all (the outer-join class the inner reporting
    * chain cannot express). */
  def customerOrderCounts(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_custkey").as("customer_id"))
      .agg(count(col("o_orderkey")).as("n_orders"))   // count skips nulls
      .orderBy(col("customer_id"))
  }

  val customerOrderCountsSql: String =
    """SELECT c_custkey AS customer_id,
       CAST(count(o_orderkey) AS BIGINT) AS n_orders
       FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
       GROUP BY c_custkey ORDER BY customer_id"""

  /** UNION ALL of "rotated log files" — the reference's sequential
    * two-file loop is an implicit union (S2, `real_parse.pl:54`). */
  def unionRotated(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val oldFile = ev.filter(col("event_id") % 2 === 0)
    val newFile = ev.filter(col("event_id") % 2 === 1)
    oldFile.unionAll(newFile)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  val unionRotatedSql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM (SELECT * FROM events WHERE event_id % 2 = 0
             UNION ALL
             SELECT * FROM events WHERE event_id % 2 = 1)
       GROUP BY event_type ORDER BY event_type"""

  /** INTERSECT / EXCEPT: user churn between the first and second half
    * of the event stream — retained users (both halves), new users
    * (second only), lapsed users (first only), as one labeled frame. */
  def userChurn(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val first  = ev.filter(col("event_id") < 500).select(col("user_id")).distinct()
    val second = ev.filter(col("event_id") >= 500).select(col("user_id")).distinct()
    val retained = first.intersect(second).withColumn("cohort", lit("retained"))
    val fresh    = second.except(first).withColumn("cohort", lit("new"))
    val lapsed   = first.except(second).withColumn("cohort", lit("lapsed"))
    retained.unionAll(fresh).unionAll(lapsed)
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort"))
  }

  val userChurnSql: String =
    """WITH f AS (SELECT DISTINCT user_id FROM events WHERE event_id < 500),
       s AS (SELECT DISTINCT user_id FROM events WHERE event_id >= 500),
       u AS (
         SELECT user_id, 'retained' AS cohort FROM (SELECT user_id FROM f INTERSECT SELECT user_id FROM s)
         UNION ALL
         SELECT user_id, 'new' AS cohort FROM (SELECT user_id FROM s EXCEPT SELECT user_id FROM f)
         UNION ALL
         SELECT user_id, 'lapsed' AS cohort FROM (SELECT user_id FROM f EXCEPT SELECT user_id FROM s))
       SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
       FROM u GROUP BY cohort ORDER BY cohort"""

  /** Weekly retention-cohort triangle — the classic activity view:
    * each user joins the cohort of their first active epoch-week, and
    * every (cohort, week_offset) cell counts the cohort members still
    * active that week, with exact-ppm retention against the cohort
    * size. Shapes: one distinct over (user, week) — shuffle keyed on
    * the high-cardinality user — one per-user min, one join back on
    * user, one cell groupBy; the cohort-size frame is bounded by the
    * timeline (weeks), so its join is a broadcast at any N. */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"),
        floor(unix_timestamp(col("ts")) / 604800L).cast("long").as("week"))
      .distinct()
    val cohort = uw.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    uw.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("retained_ppm",
        floor(col("n_active") * 1000000.0 / col("cohort_size")).cast("long"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_size"), col("retained_ppm"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val retentionCohortsSql: String =
    """WITH uw AS (
         SELECT DISTINCT user_id,
           CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 604800) AS BIGINT) AS week
         FROM events),
       c AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id),
       sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
              FROM c GROUP BY cohort_week),
       act AS (
         SELECT c.cohort_week, uw.week - c.cohort_week AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active
         FROM uw JOIN c ON uw.user_id = c.user_id
         GROUP BY c.cohort_week, uw.week - c.cohort_week)
       SELECT a.cohort_week, a.week_offset, a.n_active, sz.cohort_size,
         CAST(floor(a.n_active * 1000000.0 / sz.cohort_size) AS BIGINT) AS retained_ppm
       FROM act a JOIN sz ON a.cohort_week = sz.cohort_week
       ORDER BY a.cohort_week, a.week_offset"""

  /** Last-touch purchase attribution: every purchase event credits
    * the user's immediately-preceding event (lag over the per-user
    * event sequence with the (ts, event_id) total order the window
    * rules require) — the marketing-analytics counterpart to
    * [[eventFunnel]]'s forward view. A user's FIRST event being a
    * purchase attributes to 'none'. Window partitions on the
    * high-cardinality user key; one tiny groupBy ends it. */
  def purchaseAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("prev_type"), lit("none")).as("prev_event_type"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("prev_event_type"))
  }

  val purchaseAttributionSql: String =
    """WITH seq AS (
         SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type
         FROM events)
       SELECT coalesce(prev_type, 'none') AS prev_event_type,
         CAST(count(*) AS BIGINT) AS n_purchases
       FROM seq WHERE event_type = 'purchase'
       GROUP BY coalesce(prev_type, 'none') ORDER BY prev_event_type"""

  /** JSON prop extraction over `events.props` (§7.2 module 6):
    * get_json_object ≙ json_extract_string. */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
           max(col("k")).as("max_k"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))

  val jsonPropsSql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** Log-to-state compaction (CDC "latest wins"): collapse the event
    * log to each user's current state — the upsert-view every
    * event-sourced store materializes. One partial aggregate does the
    * whole thing: the latest row resolves as a struct-max over the
    * (ts, event_id) total order (the CLAUDE.md argmax convention —
    * map-side combining, so a user's history collapses to one row per
    * partition before the shuffle; a row_number window would ship
    * every event). */
  def latestSnapshot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        graft.util.Exact.cents(coalesce(col("value"), lit(0.0))).as("cents"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(struct(col("ts"), col("event_id"), col("event_type"), col("cents")))
          .as("b"))
      .select(col("user_id"), col("n_events").cast("long").as("n_events"),
        unix_timestamp(col("b")("ts")).cast("long").as("last_epoch"),
        col("b")("event_type").as("last_type"),
        col("b")("cents").cast("long").as("last_cents"))
      .orderBy(col("user_id"))

  val latestSnapshotSql: String =
    s"""WITH src AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
           ${graft.util.Exact.centsSql("coalesce(value, 0.0)")} AS cents
         FROM events),
       g AS (
         SELECT user_id, count(*) AS n_events,
           max(struct_pack(ts := ts, event_id := event_id,
             event_type := event_type, cents := cents)) AS b
         FROM src GROUP BY user_id)
       SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
         CAST(floor(epoch(b.ts)) AS BIGINT) AS last_epoch,
         b.event_type AS last_type,
         CAST(b.cents AS BIGINT) AS last_cents
       FROM g ORDER BY user_id"""

  /** ROLLUP over returnflag/linestatus — grouping-set capability
    * (absent in the reference; §2.6 extension). */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame = {
    // finest-grain pre-aggregate, coarser sets re-aggregated from the
    // ≈|flag|·|status|-row result — the planner's ROLLUP Expands every
    // fact row 3× through the shuffle (same shape as Tpch.cubeRevenue;
    // exact decimal partials, rounding at the end)
    val g = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).as("__s"),
        count(lit(1)).as("__n"))
      // ≈|flag|·|status| rows, 3 consumers: fence or Catalyst inlines
      // the fact scan per branch (3 full lineitem scans at scale)
      .transform(graft.util.Fence.lineage)
    val nullS = lit(null).cast("string")
    val full = g.select(col("l_returnflag"), col("l_linestatus"),
      round(col("__s"), 2).cast("double").as("sum_price"),
      col("__n").cast("long").as("n"))
    val byFlag = g.groupBy(col("l_returnflag"))
      .agg(round(sum(col("__s")), 2).cast("double").as("sum_price"),
        sum(col("__n")).cast("long").as("n"))
      .select(col("l_returnflag"), nullS.as("l_linestatus"),
        col("sum_price"), col("n"))
    val total = g.agg(round(sum(col("__s")), 2).cast("double").as("sum_price"),
        sum(col("__n")).cast("long").as("n"))
      .select(nullS.as("l_returnflag"), nullS.as("l_linestatus"),
        col("sum_price"), col("n"))
    full.unionByName(byFlag).unionByName(total)
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  val rollupRevenueSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       ${Exact.moneySumSql("l_extendedprice")} AS sum_price,
       CAST(count(*) AS BIGINT) AS n
       FROM lineitem
       GROUP BY ROLLUP(l_returnflag, l_linestatus)
       ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""

  /** Ordered conversion funnel over the event stream: users who
    * viewed, then clicked STRICTLY AFTER their first view, then
    * purchased strictly after that first qualifying click — the
    * sequential-dependence query that plain conditional aggregation
    * cannot express (each step's timestamp gates the next step's
    * candidate set).
    *
    * Scale shape: three filtered groupBys and two equi-joins, all
    * keyed on user_id — each stage shuffles once on the same high-
    * cardinality key (co-partitioned under AQE), and each step's
    * frame only shrinks. No windows, no self-cross. */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    // v and c each feed TWO consumers (the next step's join and their
    // own step count) — unfenced, Catalyst inlines the whole upstream
    // chain per reference and the plan scanned the fact table 12×
    // (plans/r11/event_funnel_before.txt); the fences hold user-grain
    // aggregates, so each funnel stage scans events exactly once
    val v = graft.util.Fence.lineage(e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1")))
    val c = graft.util.Fence.lineage(e.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2")))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    v.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("step"), col("n_users"))
      .unionAll(c.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click").as("step"), col("n_users")))
      .unionAll(p.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase").as("step"), col("n_users")))
      .orderBy(col("step"))
  }

  val eventFunnelSql: String =
    """WITH e AS (
         SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
       v AS (SELECT user_id, min(ts) AS t1 FROM e
             WHERE event_type = 'view' GROUP BY user_id),
       c AS (SELECT e.user_id, min(e.ts) AS t2 FROM e
             JOIN v ON e.user_id = v.user_id
             WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
       p AS (SELECT e.user_id, min(e.ts) AS t3 FROM e
             JOIN c ON e.user_id = c.user_id
             WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
       SELECT '1_view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM v
       UNION ALL
       SELECT '2_click' AS step, CAST(count(*) AS BIGINT) AS n_users FROM c
       UNION ALL
       SELECT '3_purchase' AS step, CAST(count(*) AS BIGINT) AS n_users FROM p
       ORDER BY step"""

  /** Per-user-per-day event trajectory assembly — the "user session
    * string" input to behavioral-sequence training data (and the
    * classic secondary-sort shape: order rows WITHIN each group
    * without a global sort). One shuffle on the high-cardinality
    * (user_id, day) key; the per-group array is bounded by one
    * user's single-day activity — the day component is what makes
    * the state bound structural rather than assumed. Ordering inside
    * the group is total ((ts, event_id) — event_id breaks same-second
    * ties identically in both engines). */
  def sequenceEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("ts"), col("event_id"), col("event_type"))
    ev.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x("event_type")),
          ">").as("path"))
      .orderBy(col("user_id"), col("day"))
  }

  val sequenceEventsSql: String =
    """SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         string_agg(event_type, '>' ORDER BY CAST(ts AS TIMESTAMP), event_id) AS path
       FROM events
       GROUP BY 1, 2
       ORDER BY user_id, day"""

  /** Customer balance deciles per market segment — the ntile window
    * family (the one §2.6 ranking primitive the surface didn't yet
    * exercise): decile assignment over a TOTAL order (acctbal,
    * custkey — ties split deterministically, per the repo's window
    * convention), rolled up to per-(segment, decile) counts and
    * exact money bounds.
    *
    * Scale shape: the ntile is the exact distributed one
    * ([[DistributedRank.withNtile]] partitioned by segment — chunked
    * prefix sums, never a single-task-per-segment sort; acctbal
    * rides as exact cents, a monotone injective map for 2-decimal
    * money, so the bucket order is the oracle's). The rollup after
    * it is map-side combined on ≤ segments×10 keys. */
  def valueDeciles(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        graft.util.Exact.cents(col("c_acctbal")).as("bal_cents"))
    DistributedRank.withNtile(base, Seq("c_mktsegment"), "bal_cents",
        "c_custkey", 10, "decile")
      .groupBy(col("c_mktsegment"), col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        graft.util.Exact.pround2(min(col("c_acctbal"))).as("lo_bal"),
        graft.util.Exact.pround2(max(col("c_acctbal"))).as("hi_bal"))
      .orderBy(col("c_mktsegment"), col("decile"))
  }

  val valueDecilesSql: String =
    s"""WITH d AS (
         SELECT c_mktsegment, c_acctbal,
           CAST(ntile(10) OVER (PARTITION BY c_mktsegment
             ORDER BY c_acctbal, c_custkey) AS BIGINT) AS decile
         FROM customer)
       SELECT c_mktsegment, decile, CAST(count(*) AS BIGINT) AS n_customers,
         ${graft.util.Exact.pround2Sql("min(c_acctbal)")} AS lo_bal,
         ${graft.util.Exact.pround2Sql("max(c_acctbal)")} AS hi_bal
       FROM d GROUP BY c_mktsegment, decile
       ORDER BY c_mktsegment, decile"""

  /** Materialized-view rollup maintenance — the incremental-refresh
    * pattern a 100 TB warehouse lives on: DAILY revenue partials are
    * the persisted artifact, and the MONTHLY view is re-aggregated
    * from partials (6,000× fewer rows than the fact) instead of
    * rescanning lineitem. Works because the partial states are
    * associative exact integers (per-row HALF_UP cents via
    * [[graft.util.Exact.cents]], then BIGINT sums — a double sum
    * would NOT re-aggregate exactly). The query emits both paths and
    * certifies `rollup == direct` per month as a result column, the
    * same in-result-certificate convention as join_cardinality.
    *
    * Scale shape: the direct path is one fact shuffle on the month
    * key; the maintained path shuffles the fact once on day then
    * rolls ~365 rows/year — at refresh time only NEW days pay the
    * fact scan, which is the point. */
  def rollupMaintenance(spark: SparkSession, dir: String): DataFrame = {
    import graft.util.Exact
    val li = Tables.lineitem(spark, dir)
      .select((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
          .cast("long").as("m"),
        to_date(col("l_shipdate")).as("d"),
        Exact.cents(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("cents"))
    val daily = li.groupBy(col("m"), col("d"))
      .agg(sum(col("cents")).as("day_cents"), count(lit(1)).as("day_n"))
    val fromDaily = daily.groupBy(col("m"))
      .agg(sum(col("day_cents")).cast("long").as("rollup_cents"),
        sum(col("day_n")).cast("long").as("rollup_n"),
        count(lit(1)).as("n_days"))
    val direct = li.groupBy(col("m"))
      .agg(sum(col("cents")).cast("long").as("direct_cents"),
        count(lit(1)).as("direct_n"))
    fromDaily.join(direct, Seq("m"))
      .select(col("m").as("month"), col("n_days"),
        col("rollup_cents"), col("rollup_n"),
        when(col("rollup_cents") === col("direct_cents") &&
             col("rollup_n") === col("direct_n"), 1L).otherwise(0L)
          .as("maintained_exact"))
      .orderBy(col("month"))
  }

  val rollupMaintenanceSql: String = {
    val cents = graft.util.Exact.centsSql("l_extendedprice * (1 - l_discount)")
    """WITH li AS (
         SELECT CAST(year(CAST(l_shipdate AS TIMESTAMP)) * 100
                   + month(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT) AS m,
           CAST(CAST(l_shipdate AS TIMESTAMP) AS DATE) AS d,
           """ + cents + """ AS cents
         FROM lineitem),
       daily AS (
         SELECT m, d, CAST(sum(cents) AS BIGINT) AS day_cents,
           CAST(count(*) AS BIGINT) AS day_n
         FROM li GROUP BY m, d),
       fromdaily AS (
         SELECT m, CAST(sum(day_cents) AS BIGINT) AS rollup_cents,
           CAST(sum(day_n) AS BIGINT) AS rollup_n,
           CAST(count(*) AS BIGINT) AS n_days
         FROM daily GROUP BY m),
       direct AS (
         SELECT m, CAST(sum(cents) AS BIGINT) AS direct_cents,
           CAST(count(*) AS BIGINT) AS direct_n
         FROM li GROUP BY m)
       SELECT f.m AS month, f.n_days, f.rollup_cents, f.rollup_n,
         CAST(CASE WHEN f.rollup_cents = d.direct_cents
                    AND f.rollup_n = d.direct_n THEN 1 ELSE 0 END AS BIGINT)
           AS maintained_exact
       FROM fromdaily f JOIN direct d ON f.m = d.m
       ORDER BY month"""
  }

  /** SCD Type-2 dimension build from a CDC log: each user's event_type
    * stream compacts into versioned [valid_from, valid_to) state
    * intervals with an is_current flag — the warehouse pattern
    * [[latestSnapshot]] is the degenerate (latest-version-only) case
    * of. A row opens a new version iff its state differs from the
    * previous row's (lag), valid_to is the NEXT version's start
    * (lead), and version numbers are row_numbers over the change rows
    * — all three windows share ONE total (ts, event_id) order per
    * user, so one user-keyed sort serves the whole build.
    *
    * Scale shape: one shuffle on the high-cardinality user key; the
    * change filter runs between the lag pass and the lead/row_number
    * pass, so the second window sorts only the ~|changes| survivors.
    * At 10⁹ events this is exactly the two-window plan a warehouse
    * MERGE would produce — no self-join, no driver state. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev", lag(col("event_type"), 1).over(ord))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(ord))
      .withColumn("version", row_number().over(ord).cast("long"))
      .select(col("user_id"), col("version"),
        col("event_type").as("state"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.cast("long").as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  val scd2HistorySql: String =
    """WITH e AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
         FROM events),
       lagged AS (
         SELECT *, lag(event_type) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         FROM e),
       changes AS (
         SELECT user_id, ts, event_id, event_type
         FROM lagged WHERE prev IS NULL OR prev <> event_type)
       SELECT user_id,
         CAST(row_number() OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version,
         event_type AS state,
         ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
         CAST(CASE WHEN lead(ts) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           THEN 1 ELSE 0 END AS BIGINT) AS is_current
       FROM changes
       ORDER BY user_id, version"""

  /** Cumulative-reach curve: per day, how many users touched the
    * product for the FIRST time and how many distinct users have been
    * seen up to and including that day — the growth curve behind
    * every "cumulative unique users" dashboard, and the same
    * first-seen decomposition a `count(DISTINCT user) OVER (ORDER BY
    * day)` would need anyway (engines refuse that window precisely
    * because the naive form is quadratic state).
    *
    * Scale shape: first-seen day = one user-keyed min aggregate
    * (map-side combined); the running sum then rides on the
    * ≤ #days frame — the ONLY unpartitioned window, bounded by the
    * calendar, never by rows (the zipf_fit/resample convention). Day
    * keys order totally, so the running sum is deterministic. */
  def reachCurve(spark: SparkSession, dir: String): DataFrame = {
    val firstDay = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    val byDay = firstDay.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy(col("day"))
    byDay
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .select(col("day"), col("n_new").cast("long").as("n_new"),
        col("cum_users").cast("long").as("cum_users"))
      .orderBy(col("day"))
  }

  val reachCurveSql: String =
    """WITH fd AS (
         SELECT user_id, min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS first_day
         FROM events GROUP BY user_id),
       byday AS (
         SELECT first_day AS day, count(*) AS n_new FROM fd GROUP BY first_day)
       SELECT day, CAST(n_new AS BIGINT) AS n_new,
         CAST(sum(n_new) OVER (ORDER BY day) AS BIGINT) AS cum_users
       FROM byday ORDER BY day"""

  /** Sequential-pattern mining over behavior sessions: the 20 most
    * frequent consecutive event-type TRIGRAMS across all per-(user,
    * day) trajectories — the n-gram head of [[sequenceEvents]]'
    * assembled paths (what "view>click>purchase vs view>view>view"
    * dashboards and next-event models both consume).
    *
    * Scale shape: trigram extraction is a per-group linear map over
    * the already-assembled (user, day) arrays (groups bounded by one
    * user-day); the count groupBy's key space is |event types|³ —
    * tiny, map-side combined — and TakeOrderedAndProject caps the
    * head at 20. The generator follows the repo's explode_outer +
    * isNotNull rule so the array expression is never inlined below
    * the exchange. */
  def pathMining(spark: SparkSession, dir: String): DataFrame = {
    val seqs = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("ts"), col("event_id"), col("event_type"))
      .groupBy(col("user_id"), col("day"))
      .agg(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
        x => x("event_type")).as("types"))
    val tris = seqs
      .select(explode_outer(
        when(size(col("types")) >= 3,
          transform(sequence(lit(1), size(col("types")) - 2),
            i => concat_ws(">", slice(col("types"), i, lit(3)))))
        .otherwise(array().cast("array<string>"))).as("trigram"))
      .filter(col("trigram").isNotNull)
    tris.groupBy(col("trigram"))
      .agg(count(lit(1)).cast("long").as("n"))
      .orderBy(col("n").desc, col("trigram"))
      .limit(20)
  }

  val pathMiningSql: String =
    """WITH e AS (
         SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
         FROM events),
       seqs AS (
         SELECT user_id, day,
           list(event_type ORDER BY ts, event_id) AS types
         FROM e GROUP BY user_id, day),
       tris AS (
         SELECT array_to_string(list_slice(types, i, i + 2), '>') AS trigram
         FROM seqs, UNNEST(generate_series(1, len(types) - 2)) AS t(i)
         WHERE len(types) >= 3)
       SELECT trigram, CAST(count(*) AS BIGINT) AS n
       FROM tris GROUP BY trigram
       ORDER BY n DESC, trigram LIMIT 20"""

  /** RFM customer segmentation: recency / frequency / monetary
    * quintiles rolled up to segment cells — the classic marketing
    * cut of an orders table. Recency anchors on the corpus max order
    * date derived IN-QUERY (1-row agg cross-join-broadcast, the
    * repo's no-driver-probe rule); monetary rides as exact integer
    * cents; each ntile orders TOTALLY ((metric, custkey)) so bucket
    * edges are deterministic in both engines.
    *
    * Scale shape: one custkey aggregate collapses orders to one row
    * per customer; each quintile is then an exact distributed ntile
    * via [[DistributedRank.withNtile]] (chunked prefix sums — NO
    * unpartitioned window ever sees the |customers| frame; the only
    * unbounded-partition windows run over per-chunk aggregate frames
    * bounded by the value domain). The fenced per-customer frame
    * feeds three rank pipelines, re-joined on custkey; the final
    * rollup is ≤ 5³ cells, map-side combined. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"),
        Exact.cents(col("o_totalprice")).as("cents"))
    val mx = o.agg(max(col("o_orderdate")).as("maxd"))
    val perCust = o.crossJoin(broadcast(mx))
      .groupBy(col("o_custkey"))
      .agg(datediff(first(col("maxd")), max(col("o_orderdate")))
          .cast("long").as("recency_days"),
        count(lit(1)).cast("long").as("frequency"),
        sum(col("cents")).cast("long").as("monetary_cents"))
      .transform(graft.util.Fence.lineage)
    // recency DESC == negated-recency ASC; each score frame is
    // (custkey, score) only, so the three rejoins stay narrow
    def quintile(metric: org.apache.spark.sql.Column,
                 name: String, out: String): DataFrame =
      DistributedRank.withNtile(
        perCust.select(col("o_custkey"), metric.as(name)),
        Nil, name, "o_custkey", 5, out)
        .select(col("o_custkey"), col(out))
    perCust
      .join(quintile(-col("recency_days"), "neg_r", "r_score"), "o_custkey")
      .join(quintile(col("frequency"), "f_v", "f_score"), "o_custkey")
      .join(quintile(col("monetary_cents"), "m_v", "m_score"), "o_custkey")
      .withColumn("rfm", concat_ws("", col("r_score"), col("f_score"), col("m_score")))
      .groupBy(col("rfm"))
      .agg(count(lit(1)).cast("long").as("n_customers"),
        sum(col("monetary_cents")).cast("long").as("segment_cents"),
        min(col("recency_days")).cast("long").as("min_recency"),
        max(col("recency_days")).cast("long").as("max_recency"))
      .orderBy(col("rfm"))
  }

  val rfmSegmentsSql: String =
    s"""WITH o AS (
         SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
           ${Exact.centsSql("o_totalprice")} AS cents
         FROM orders),
       mx AS (SELECT max(o_orderdate) AS maxd FROM o),
       per_cust AS (
         SELECT o_custkey,
           CAST(datediff('day', max(o_orderdate), any_value(maxd)) AS BIGINT)
             AS recency_days,
           CAST(count(*) AS BIGINT) AS frequency,
           CAST(sum(cents) AS BIGINT) AS monetary_cents
         FROM o CROSS JOIN mx GROUP BY o_custkey),
       scored AS (
         SELECT *,
           ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_score,
           ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
           ntile(5) OVER (ORDER BY monetary_cents, o_custkey) AS m_score
         FROM per_cust)
       SELECT concat(r_score, f_score, m_score) AS rfm,
         CAST(count(*) AS BIGINT) AS n_customers,
         CAST(sum(monetary_cents) AS BIGINT) AS segment_cents,
         CAST(min(recency_days) AS BIGINT) AS min_recency,
         CAST(max(recency_days) AS BIGINT) AS max_recency
       FROM scored GROUP BY 1 ORDER BY rfm"""

  /** Behavioral-diversity profile: per user, how spread their event
    * mix is — distinct types, the dominant type (struct-max argmax,
    * the resample convention: count then type, so ties break to the
    * lexicographically larger type identically in both engines), its
    * share, and the Gini impurity 1 − Σpᵢ² in exact ppm — the
    * libm-free concentration measure (entropy needs ln; Gini ranks
    * the same). All arithmetic is integer until one final
    * floor-divided double.
    *
    * Scale shape: (user, type) counts first — map-side combined, the
    * frame shrinks to ≤ users × 5 rows — then one user-keyed
    * aggregate; nothing row-scale passes the second shuffle. */
  def behaviorDiversity(spark: SparkSession, dir: String): DataFrame = {
    val byType = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    byType.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"),
        count(lit(1)).cast("long").as("n_types"),
        sum(col("c") * col("c")).as("s2"),
        max(struct(col("c"), col("event_type"))).as("top"))
      .select(col("user_id"),
        col("n").cast("long").as("n_events"),
        col("n_types"),
        col("top")("event_type").as("dominant_type"),
        col("top")("c").cast("long").as("dominant_n"),
        floor((col("n") * col("n") - col("s2")).cast("double") * 1000000 /
          (col("n") * col("n"))).cast("long").as("gini_ppm"))
      .orderBy(col("user_id"))
  }

  val behaviorDiversitySql: String =
    """WITH bt AS (
         SELECT user_id, event_type, count(*) AS c
         FROM events GROUP BY user_id, event_type),
       g AS (
         SELECT user_id, sum(c) AS n, count(*) AS n_types,
           sum(c * c) AS s2,
           max(struct_pack(c := c, event_type := event_type)) AS top
         FROM bt GROUP BY user_id)
       SELECT user_id, CAST(n AS BIGINT) AS n_events,
         CAST(n_types AS BIGINT) AS n_types,
         top.event_type AS dominant_type,
         CAST(top.c AS BIGINT) AS dominant_n,
         CAST(floor(CAST(n * n - s2 AS DOUBLE) * 1000000 / (n * n)) AS BIGINT)
           AS gini_ppm
       FROM g ORDER BY user_id"""

  /** Conversion-latency profile: how LONG the [[eventFunnel]] steps
    * take — per-user first-view → first-qualifying-click →
    * first-qualifying-purchase deltas, profiled as exact integer
    * seconds (min/max/sum + a 4-dp portable mean). The funnel stages
    * reuse the eventFunnel decomposition (each step's min-ts gates
    * the next step's candidates), so "time to convert" is measured on
    * the same semantics the step counts report.
    *
    * Scale shape: identical to eventFunnel — three user-keyed
    * filtered aggregates, each frame shrinking — plus one final 1-row
    * global profile; deltas never leave integer seconds, so the sums
    * are exact. */
  def funnelTiming(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(first(col("t1")).as("t1"), min(col("ts")).as("t2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c.select(col("user_id"), col("t2")), Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(first(col("t2")).as("t2b"), min(col("ts")).as("t3"))
    val d1 = c.select((unix_timestamp(col("t2")) - unix_timestamp(col("t1"))).as("d"))
    val d2 = p.select((unix_timestamp(col("t3")) - unix_timestamp(col("t2b"))).as("d"))
    val s1 = d1.agg(count(lit(1)).cast("long").as("n_click"),
      min(col("d")).cast("long").as("min_vc_s"),
      max(col("d")).cast("long").as("max_vc_s"),
      sum(col("d")).cast("long").as("sum_vc_s"))
    val s2 = d2.agg(count(lit(1)).cast("long").as("n_purchase"),
      min(col("d")).cast("long").as("min_cp_s"),
      max(col("d")).cast("long").as("max_cp_s"),
      sum(col("d")).cast("long").as("sum_cp_s"))
    s1.crossJoin(s2)
      .withColumn("mean_vc_s",
        Exact.pround4(col("sum_vc_s").cast("double") / col("n_click")))
      .withColumn("mean_cp_s",
        Exact.pround4(col("sum_cp_s").cast("double") / col("n_purchase")))
      .orderBy(col("n_click"))
  }

  val funnelTimingSql: String = {
    import AsOf.es
    s"""WITH e AS (
         SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
       v AS (SELECT user_id, min(ts) AS t1 FROM e
             WHERE event_type = 'view' GROUP BY user_id),
       c AS (SELECT e.user_id, any_value(v.t1) AS t1, min(e.ts) AS t2 FROM e
             JOIN v ON e.user_id = v.user_id
             WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
       p AS (SELECT e.user_id, any_value(c.t2) AS t2b, min(e.ts) AS t3 FROM e
             JOIN c ON e.user_id = c.user_id
             WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id),
       d1 AS (SELECT ${es("t2")} - ${es("t1")} AS d FROM c),
       d2 AS (SELECT ${es("t3")} - ${es("t2b")} AS d FROM p),
       s1 AS (SELECT CAST(count(*) AS BIGINT) AS n_click,
                CAST(min(d) AS BIGINT) AS min_vc_s,
                CAST(max(d) AS BIGINT) AS max_vc_s,
                CAST(sum(d) AS BIGINT) AS sum_vc_s FROM d1),
       s2 AS (SELECT CAST(count(*) AS BIGINT) AS n_purchase,
                CAST(min(d) AS BIGINT) AS min_cp_s,
                CAST(max(d) AS BIGINT) AS max_cp_s,
                CAST(sum(d) AS BIGINT) AS sum_cp_s FROM d2)
       SELECT s1.*, s2.*,
         ${Exact.pround4Sql("CAST(sum_vc_s AS DOUBLE) / n_click")} AS mean_vc_s,
         ${Exact.pround4Sql("CAST(sum_cp_s AS DOUBLE) / n_purchase")} AS mean_cp_s
       FROM s1 CROSS JOIN s2 ORDER BY n_click"""
  }

  /** Multi-touch (linear) attribution: every view/click in the hour
    * BEFORE a purchase shares that purchase's credit equally —
    * [[purchaseAttribution]]'s last-touch is the degenerate one-touch
    * case. Credit stays integer: each touch earns
    * `floor(1,000,000 / n_touches)` micro-credits (the floor
    * remainder is reported, not smeared — exactness over prettiness),
    * and zero-touch purchases credit a 'none' channel in full.
    *
    * Scale shape: the touch-purchase pairing is a BANDED RANGE JOIN —
    * both sides bucket on floor(epoch/3600) and every touch probes
    * its own bucket and the next (a 1-hour-back window spans at most
    * two hour buckets, by the [[graft.report.AsOf]] truncation
    * argument), so the equi-join key is (user, hour) and per-task
    * work is purchases × touches WITHIN ONE USER-HOUR. The raw
    * user-only equi-join evaluated every same-user pair and went
    * quadratic as per-user history grew (measured 41 s at sf10, 13×
    * its sf1 time; banded: linear). The per-purchase touch count is
    * a groupBy on the join output (no window), and the channel
    * rollup is 3 rows. */
  def multitouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("ts").as("pts"),
        floor(unix_timestamp(col("ts")) / 3600).cast("long").as("bk"))
    val touches = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_type").as("channel"),
        col("ts").as("tts"),
        floor(unix_timestamp(col("ts")) / 3600).cast("long").as("tbk"))
      // a touch can serve purchases in its own hour bucket or the
      // next one — never further, since the window is exactly one
      // bucket wide; at most one probe matches a given purchase, so
      // the banding introduces no duplicates
      .withColumn("bk", explode_outer(array(col("tbk"), col("tbk") + 1)))
      .drop("tbk")
    // joined feeds the per-purchase count AND the credited rollup, and
    // purchases feeds the join AND the untouched anti-join — unfenced,
    // each reference re-ran its upstream scan chain (14 fact scans in
    // plans/r11/multitouch_attribution_before.txt)
    val purchasesF = graft.util.Fence.lineage(purchases)
    val joined = graft.util.Fence.lineage(purchasesF.join(touches,
      purchasesF("user_id") === touches("user_id") &&
        purchasesF("bk") === touches("bk") &&
        col("tts") < col("pts") &&
        col("tts") >= col("pts") - expr("INTERVAL 3600 SECONDS")))
    val perPurchase = joined.groupBy(col("pid"))
      .agg(count(lit(1)).as("n_touches"))
    val credited = joined.select(col("pid"), col("channel"))
      .join(perPurchase, Seq("pid"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).cast("long").as("n_touches"),
        sum(floor(lit(1000000L) / col("n_touches")).cast("long"))
          .cast("long").as("micro_credits"))
    val untouched = purchasesF
      .join(perPurchase, Seq("pid"), "left_anti")
      .agg(count(lit(1)).cast("long").as("n_touches"))
      .select(lit("none").as("channel"), col("n_touches"),
        (col("n_touches") * 1000000L).cast("long").as("micro_credits"))
    credited.unionAll(untouched).orderBy(col("channel"))
  }

  val multitouchAttributionSql: String =
    """WITH e AS (
         SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
         FROM events),
       p AS (SELECT user_id, event_id AS pid, ts AS pts FROM e
             WHERE event_type = 'purchase'),
       t AS (SELECT user_id, event_type AS channel, ts AS tts FROM e
             WHERE event_type IN ('view', 'click')),
       j AS (
         SELECT p.pid, t.channel FROM p JOIN t
           ON p.user_id = t.user_id
          AND t.tts < p.pts AND t.tts >= p.pts - INTERVAL 3600 SECOND),
       per_p AS (SELECT pid, count(*) AS n_touches FROM j GROUP BY pid),
       credited AS (
         SELECT j.channel, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(CAST(floor(1000000 / per_p.n_touches) AS BIGINT)) AS BIGINT)
             AS micro_credits
         FROM j JOIN per_p ON j.pid = per_p.pid
         GROUP BY j.channel),
       untouched AS (
         SELECT 'none' AS channel, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(count(*) * 1000000 AS BIGINT) AS micro_credits
         FROM p WHERE pid NOT IN (SELECT pid FROM per_p))
       SELECT * FROM credited
       UNION ALL SELECT * FROM untouched
       ORDER BY channel"""

  /** First-order Markov transition matrix over per-user event
    * streams: counts and exact-ppm row-probabilities of every
    * (from_type → to_type) step — the table a next-event predictor,
    * anomaly scorer, or session simulator reads. One lag window under
    * the repo's total (ts, event_id) order produces the step pairs;
    * [[pathMining]] is the order-3 head of the same stream, this is
    * the complete order-1 model.
    *
    * Scale shape: one user-keyed window pass, then a ≤|types|²-key
    * count (map-side combined to ≤25 rows per partition) plus one
    * broadcast-joined per-from total — probabilities are integer
    * cross-mult ppm, never a float accumulation. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val steps = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).cast("long").as("n"))
    val fromTotals = steps.groupBy(col("from_type"))
      .agg(sum(col("n")).cast("long").as("from_n"))
    steps.join(broadcast(fromTotals), Seq("from_type"))
      .withColumn("p_ppm",
        floor(col("n").cast("double") * 1000000 / col("from_n")).cast("long"))
      .select(col("from_type"), col("to_type"), col("n"), col("from_n"),
        col("p_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val markovTransitionsSql: String =
    """WITH seq AS (
         SELECT event_type AS to_type,
           lag(event_type) OVER (PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP), event_id) AS from_type
         FROM events),
       steps AS (
         SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
         FROM seq WHERE from_type IS NOT NULL
         GROUP BY from_type, to_type),
       ft AS (
         SELECT from_type, CAST(sum(n) AS BIGINT) AS from_n
         FROM steps GROUP BY from_type)
       SELECT s.from_type, s.to_type, s.n, ft.from_n,
         CAST(floor(CAST(s.n AS DOUBLE) * 1000000 / ft.from_n) AS BIGINT)
           AS p_ppm
       FROM steps s JOIN ft ON s.from_type = ft.from_type
       ORDER BY s.from_type, s.to_type"""

  /** Rolling active users — DAU / 7-day WAU / 28-day MAU per calendar
    * day, the product-health triple every analytics stack reports.
    * Exact semantics (a user counts once per window, however often
    * they appear): the (user, day) presence set dedups ONCE, each
    * presence day then contributes to the ≤7 / ≤28 observation days
    * it can influence (a bounded explode, the interval_join fanout
    * idea applied to windows), and a second distinct collapses
    * multi-hit users before the per-day count. The day grid densifies
    * from in-query min/max (a zero-activity day still has WAU/MAU
    * mass — an inner join on activity days would silently drop it).
    *
    * Scale shape: everything after the first dedup is keyed on
    * (day, user) or day; fanout is a constant 7/28 on the ALREADY
    * per-day-deduped frame, not on raw events. At 10⁹ users/day the
    * approximate rung is a mergeable per-day HLL sketch rolled over
    * the window (cf. distinct_sketch) — documented, not silently
    * substituted. */
  def activeUsersRolling(spark: SparkSession, dir: String): DataFrame = {
    val pud = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .transform(graft.util.Fence.lineage)
    val span = pud.agg(min(col("day")).as("mind"), max(col("day")).as("maxd"))
    val grid = span
      .select(explode_outer(sequence(col("mind"), col("maxd"))).as("day"))
      .filter(col("day").isNotNull)
    val dau = pud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    def rolling(w: Int, name: String) = pud
      .select(col("user_id"),
        explode_outer(sequence(col("day"), date_add(col("day"), w - 1)))
          .as("obs"))
      .filter(col("obs").isNotNull)
      .distinct()
      .groupBy(col("obs").as("day"))
      .agg(count(lit(1)).as(name))
    grid
      .join(dau, Seq("day"), "left")
      .join(rolling(7, "wau7"), Seq("day"), "left")
      .join(rolling(28, "mau28"), Seq("day"), "left")
      .select(col("day"),
        coalesce(col("dau"), lit(0L)).cast("long").as("dau"),
        coalesce(col("wau7"), lit(0L)).cast("long").as("wau7"),
        coalesce(col("mau28"), lit(0L)).cast("long").as("mau28"))
      .orderBy(col("day"))
  }

  val activeUsersRollingSql: String =
    """WITH pud AS (
         SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
         FROM events),
       span AS (SELECT min(day) AS mind, max(day) AS maxd FROM pud),
       grid AS (
         SELECT unnest(generate_series(mind, maxd, INTERVAL 1 DAY))::DATE AS day
         FROM span),
       dau AS (SELECT day, count(*) AS dau FROM pud GROUP BY day),
       w7 AS (
         SELECT obs AS day, count(DISTINCT user_id) AS wau7 FROM (
           SELECT user_id,
             unnest(generate_series(day, day + 6, INTERVAL 1 DAY))::DATE AS obs
           FROM pud) GROUP BY obs),
       w28 AS (
         SELECT obs AS day, count(DISTINCT user_id) AS mau28 FROM (
           SELECT user_id,
             unnest(generate_series(day, day + 27, INTERVAL 1 DAY))::DATE AS obs
           FROM pud) GROUP BY obs)
       SELECT g.day,
         CAST(coalesce(dau.dau, 0) AS BIGINT) AS dau,
         CAST(coalesce(w7.wau7, 0) AS BIGINT) AS wau7,
         CAST(coalesce(w28.mau28, 0) AS BIGINT) AS mau28
       FROM grid g
       LEFT JOIN dau ON g.day = dau.day
       LEFT JOIN w7 ON g.day = w7.day
       LEFT JOIN w28 ON g.day = w28.day
       ORDER BY g.day"""

  /** New-vs-returning daily split: per day, how many active users are
    * brand new (first-ever activity) vs returning — [[reachCurve]]'s
    * per-day companion and the growth-vs-retention decomposition of
    * [[activeUsersRolling]]'s DAU. A user's first day is one min
    * aggregate; the presence set joins it back on the user key (both
    * frames already partition by user), and new+returning = DAU is
    * certified per row in-result. */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val pud = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .transform(graft.util.Fence.lineage)
    val firstDay = pud.groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    pud.join(firstDay, Seq("user_id"))
      .groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("dau"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .cast("long").as("n_new"))
      .withColumn("n_returning", (col("dau") - col("n_new")).cast("long"))
      .withColumn("split_exact",
        (col("n_new") + col("n_returning") === col("dau")).cast("long"))
      .orderBy(col("day"))
  }

  val newVsReturningSql: String =
    """WITH pud AS (
         SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
         FROM events),
       fd AS (SELECT user_id, min(day) AS first_day FROM pud GROUP BY user_id),
       g AS (
         SELECT day, CAST(count(*) AS BIGINT) AS dau,
           CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new
         FROM pud JOIN fd ON pud.user_id = fd.user_id
         GROUP BY day)
       SELECT day, dau, n_new,
         CAST(dau - n_new AS BIGINT) AS n_returning,
         CAST(CASE WHEN n_new + (dau - n_new) = dau THEN 1 ELSE 0 END AS BIGINT)
           AS split_exact
       FROM g ORDER BY day"""

  /** Weekly seasonality profile: per (event_type, ISO weekday), the
    * event count, its exact-ppm share of that type's total, and the
    * peak hour-of-day (struct-max argmax — count then hour, so ties
    * break to the later hour identically in both engines). Weekday is
    * `weekday()+1` ≡ DuckDB `isodow` (1=Mon..7=Sun) — the one
    * calendar function pair that agrees on numbering.
    *
    * Scale shape: the (type, dow, hour) pre-aggregate bounds
    * everything after at |types|·7·24 rows; two shrinking groupBys,
    * one broadcast of the |types| totals. */
  def seasonalityProfile(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(col("event_type"),
        (weekday(col("ts")) + 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"))
      .groupBy(col("event_type"), col("dow"), col("hr"))
      .agg(count(lit(1)).as("n"))
    val byDow = cells.groupBy(col("event_type"), col("dow"))
      .agg(sum(col("n")).cast("long").as("n"),
        max(struct(col("n"), col("hr"))).as("peak"))
    val totals = byDow.groupBy(col("event_type"))
      .agg(sum(col("n")).as("type_n"))
    byDow.join(broadcast(totals), Seq("event_type"))
      .select(col("event_type"), col("dow"), col("n"),
        floor(col("n").cast("double") * 1000000 / col("type_n")).cast("long")
          .as("share_ppm"),
        col("peak")("hr").cast("long").as("peak_hour"))
      .orderBy(col("event_type"), col("dow"))
  }

  val seasonalityProfileSql: String =
    """WITH cells AS (
         SELECT event_type,
           CAST(isodow(CAST(ts AS TIMESTAMP)) AS BIGINT) AS dow,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr,
           count(*) AS n
         FROM events GROUP BY 1, 2, 3),
       bydow AS (
         SELECT event_type, dow, CAST(sum(n) AS BIGINT) AS n,
           max(struct_pack(n := n, hr := hr)) AS peak
         FROM cells GROUP BY event_type, dow),
       t AS (SELECT event_type, sum(n) AS type_n FROM bydow GROUP BY event_type)
       SELECT b.event_type, b.dow, b.n,
         CAST(floor(CAST(b.n AS DOUBLE) * 1000000 / t.type_n) AS BIGINT)
           AS share_ppm,
         CAST(b.peak.hr AS BIGINT) AS peak_hour
       FROM bydow b JOIN t ON b.event_type = t.event_type
       ORDER BY b.event_type, b.dow"""

  /** Error-rate SLI per day: error share of all events in exact ppm
    * with an SLO-breach flag (threshold 250,000 ppm = 25% — the
    * synthetic stream mixes 5 types uniformly, so breaches are the
    * days noise pushes errors above their natural ~20% share). Pure
    * conditional aggregation; the flag is an integer compare. */
  def errorRateSli(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .cast("long").as("n_errors"))
      .withColumn("error_ppm",
        floor(col("n_errors").cast("double") * 1000000 / col("n_events"))
          .cast("long"))
      .withColumn("slo_breached",
        (col("error_ppm") > 250000L).cast("long"))
      .orderBy(col("day"))

  val errorRateSliSql: String =
    """WITH g AS (
         SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_errors
         FROM events GROUP BY 1)
       SELECT day, n_events, n_errors,
         CAST(floor(CAST(n_errors AS DOUBLE) * 1000000 / n_events) AS BIGINT)
           AS error_ppm,
         CAST(CASE WHEN floor(CAST(n_errors AS DOUBLE) * 1000000 / n_events)
           > 250000 THEN 1 ELSE 0 END AS BIGINT) AS slo_breached
       FROM g ORDER BY day"""

  /** Inter-event gap profile per event type — the dwell-time /
    * arrival-cadence report behind rate limiting and bot detection:
    * for every event with a predecessor in the same user's timeline,
    * the gap to that predecessor in exact MICROSECONDS (the
    * [[sessionize]] micros convention), aggregated per the CURRENT
    * event's type. All-BIGINT output: sums, extremes, and a mean in
    * integer micro floor-division — nothing rounds, nothing drifts.
    * The lag window orders by the TOTAL (ts, event_id) key —
    * duplicate timestamps would otherwise split peer rows
    * differently per engine (the VERIFY_sf1 rule).
    *
    * Scale shape: one shuffle on user_id for the lag window (each
    * user's timeline sorts independently), then a map-side-combining
    * groupBy on |event_types| keys. No self-join — the window IS the
    * predecessor lookup. */
  def sessionGapStats(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_us")).cast("long").as("sum_gap_us"),
        min(col("gap_us")).cast("long").as("min_gap_us"),
        max(col("gap_us")).cast("long").as("max_gap_us"))
      .withColumn("mean_gap_us", expr("sum_gap_us div n_gaps"))
      .orderBy(col("event_type"))
  }

  val sessionGapStatsSql: String =
    """WITH l AS (
         SELECT event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) -
             lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
         FROM events),
       g AS (
         SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
         FROM l WHERE gap_us IS NOT NULL GROUP BY event_type)
       SELECT event_type, n_gaps, sum_gap_us, min_gap_us, max_gap_us,
         CAST(sum_gap_us // n_gaps AS BIGINT) AS mean_gap_us
       FROM g ORDER BY event_type"""

  /** Cohort lifetime value — [[retentionCohorts]]' revenue twin: each
    * user joins the cohort of their FIRST-seen epoch week (any event
    * type), purchase revenue accrues per (cohort, weeks-since) cell
    * in exact integer cents, and the running-sum window turns the
    * cells into the cumulative LTV curve every growth team reads.
    * Per-user LTV is BIGINT floor-division by the cohort's size —
    * no double division, no drift; the running sum orders by the
    * DISTINCT week_offset within each cohort (a total order on the
    * aggregated frame).
    *
    * Scale shape: cohort assignment is one user-keyed min-aggregate
    * joined back on the key; revenue is one (cohort, offset) groupBy;
    * the window runs over ≤ |weeks|² aggregated cells, never events. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        floor(unix_timestamp(col("ts")) / 604800L).cast("long").as("week"),
        Exact.cents(col("value")).as("cents"),
        col("event_type"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).cast("long").as("cohort_size"))
    val wcum = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, 0)
    ev.filter(col("event_type") === "purchase")
      .join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(sum(col("cents")).cast("long").as("rev_cents"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(wcum).cast("long"))
      .withColumn("ltv_cents_per_user", expr("cum_rev_cents div cohort_size"))
      .select(col("cohort_week"), col("week_offset"), col("rev_cents"),
        col("cohort_size"), col("cum_rev_cents"), col("ltv_cents_per_user"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val cohortLtvSql: String =
    """WITH ev AS (
         SELECT user_id,
           CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 604800) AS BIGINT) AS week,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           event_type
         FROM events),
       c AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id),
       sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
              FROM c GROUP BY cohort_week),
       r AS (
         SELECT c.cohort_week, ev.week - c.cohort_week AS week_offset,
           CAST(sum(ev.cents) AS BIGINT) AS rev_cents
         FROM ev JOIN c USING (user_id)
         WHERE ev.event_type = 'purchase'
         GROUP BY c.cohort_week, ev.week - c.cohort_week),
       w AS (
         SELECT r.cohort_week, r.week_offset, r.rev_cents, sz.cohort_size,
           CAST(sum(r.rev_cents) OVER (PARTITION BY r.cohort_week
             ORDER BY r.week_offset ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_rev_cents
         FROM r JOIN sz USING (cohort_week))
       SELECT cohort_week, week_offset, rev_cents, cohort_size, cum_rev_cents,
         CAST(cum_rev_cents // cohort_size AS BIGINT) AS ltv_cents_per_user
       FROM w ORDER BY cohort_week, week_offset"""

  /** Multi-grain time rollup — hourly, daily, and weekly aggregates
    * of the event stream in ONE pass via GROUPING SETS (a rollup
    * table maintenance job would otherwise scan the fact three
    * times). Grains are integer epoch buckets (the
    * [[retentionCohorts]] convention) so the three grain columns are
    * plain BIGINTs and the set a row belongs to reads off
    * grouping_id. One Expand (×3) + one map-side-combined aggregate —
    * at 100 TB this halves-to-thirds the scan cost of maintaining
    * the three rollup tables separately.
    *
    * The oracle encodes gid as grouping()-bit arithmetic (DuckDB's
    * grouping_id argument order matches Spark's here). */
  def timeGrainRollup(spark: SparkSession, dir: String): DataFrame = {
    // Spark 4's Dataset.groupingSets DSL — no named temp view, so the
    // builder is side-effect-free and safe under concurrent
    // construction in one session (ADVICE r6: a fixed global view
    // name could race or clobber another caller's).
    Tables.events(spark, dir)
      .select(
        floor(unix_timestamp(col("ts")) / 3600).cast("long").as("hour_b"),
        floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day_b"),
        floor(unix_timestamp(col("ts")) / 604800).cast("long").as("week_b"),
        col("value"))
      .groupingSets(
        Seq(Seq(col("hour_b")), Seq(col("day_b")), Seq(col("week_b"))),
        col("hour_b"), col("day_b"), col("week_b"))
      .agg(
        grouping_id(col("hour_b"), col("day_b"), col("week_b"))
          .cast("long").as("gid"),
        count(lit(1)).cast("long").as("n"),
        expr("CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)")
          .as("sum_value"))
      .orderBy(col("gid"), col("hour_b").asc_nulls_first,
        col("day_b").asc_nulls_first, col("week_b").asc_nulls_first)
  }

  val timeGrainRollupSql: String =
    s"""WITH ev AS (
         SELECT
           CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 3600) AS BIGINT) AS hour_b,
           CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT) AS day_b,
           CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 604800) AS BIGINT) AS week_b,
           value
         FROM events)
       SELECT hour_b, day_b, week_b,
         CAST(grouping(hour_b) * 4 + grouping(day_b) * 2 + grouping(week_b)
           AS BIGINT) AS gid,
         CAST(count(*) AS BIGINT) AS n,
         ${Exact.moneySumSql("value")} AS sum_value
       FROM ev
       GROUP BY GROUPING SETS ((hour_b), (day_b), (week_b))
       ORDER BY gid, hour_b ASC NULLS FIRST, day_b ASC NULLS FIRST,
         week_b ASC NULLS FIRST"""

  /** Point-in-time training-example assembly — the feature-store
    * join every supervised model over behavioral data needs done
    * WITHOUT temporal leakage: each purchase event (the label row)
    * carries features computed STRICTLY BEFORE its own timestamp —
    * prior view/click/event counts, the previous event's type, and
    * the seconds since it — never the purchase itself or anything
    * after (the "point-in-time correctness" rule; a plain as-of-now
    * join would leak the future into training).
    *
    * Scale shape: one user-keyed shuffle; every feature shares ONE
    * total (ts, event_id) sort per user — the strictly-prior frame is
    * `rowsBetween(unboundedPreceding, -1)` so tied timestamps still
    * split deterministically by event_id. The purchase filter runs
    * AFTER the windows (it must: features count non-purchase rows),
    * but nothing else is sorted — at 10^9 events this is exactly one
    * sort-merge pass per user partition. */
  def pitFeatures(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val prior = ord.rowsBetween(Window.unboundedPreceding, -1)
    ev
      .withColumn("n_prior_events",
        coalesce(sum(lit(1L)).over(prior), lit(0L)))
      .withColumn("n_prior_views",
        coalesce(sum(when(col("event_type") === "view", 1L)
          .otherwise(0L)).over(prior), lit(0L)))
      .withColumn("n_prior_clicks",
        coalesce(sum(when(col("event_type") === "click", 1L)
          .otherwise(0L)).over(prior), lit(0L)))
      .withColumn("prev_type", coalesce(lag(col("event_type"), 1).over(ord),
        lit("none")))
      .withColumn("secs_since_prev",
        coalesce(unix_timestamp(col("ts"))
          - lag(unix_timestamp(col("ts")), 1).over(ord), lit(-1L)))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("prev_type"), col("secs_since_prev").cast("long").as("secs_since_prev"),
        col("n_prior_events").cast("long").as("n_prior_events"),
        col("n_prior_views").cast("long").as("n_prior_views"),
        col("n_prior_clicks").cast("long").as("n_prior_clicks"))
      .orderBy(col("event_id"))
  }

  val pitFeaturesSql: String =
    """WITH e AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
         FROM events),
       f AS (
         SELECT *,
           coalesce(sum(1) OVER w_prior, 0) AS n_prior_events,
           coalesce(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             OVER w_prior, 0) AS n_prior_views,
           coalesce(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             OVER w_prior, 0) AS n_prior_clicks,
           coalesce(lag(event_type) OVER w_ord, 'none') AS prev_type,
           coalesce(CAST(floor(epoch(ts)) AS BIGINT)
             - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w_ord, -1)
             AS secs_since_prev
         FROM e
         WINDOW
           w_ord AS (PARTITION BY user_id ORDER BY ts, event_id),
           w_prior AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       SELECT event_id, user_id, ts, prev_type,
         CAST(secs_since_prev AS BIGINT) AS secs_since_prev,
         CAST(n_prior_events AS BIGINT) AS n_prior_events,
         CAST(n_prior_views AS BIGINT) AS n_prior_views,
         CAST(n_prior_clicks AS BIGINT) AS n_prior_clicks
       FROM f WHERE event_type = 'purchase'
       ORDER BY event_id"""

  /** A/B experiment readout — the two-proportion conversion report
    * every product experiment ships: users split into arms by a pure
    * content hash (reproducible on any engine — the split_assign
    * rule applied to experimentation), each user converts iff they
    * ever purchased, and the single result row carries both arms'
    * exact counts, conversion rates in ppm, the lift, and the
    * two-proportion z² statistic (z² > 3.84 ≈ p < 0.05) — computed
    * as ONE exact rational (c₁n₂−c₂n₁)²·n / (n₁n₂c(n−c)) in
    * DECIMAL(38,0): no float subtraction of near-equal rates, no
    * libm sqrt. 38 digits hold to ~10⁸ users per arm; past that the
    * rates pre-scale to ppm before squaring (documented rung).
    *
    * Scale shape: one user-keyed max-aggregate (map-side combined)
    * collapses events to a (user, converted) row, the arm rollup is
    * a 2-key groupBy, and everything after runs on a 2-row frame. */
  def abTestLift(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .select(col("user_id"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
      .groupBy(col("user_id"))
      .agg(max(col("conv")).as("converted"))
      .withColumn("arm",
        graft.util.Hashing.phash(col("user_id").cast("string"), "ab_") % 2L)
    users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("c"))
      .agg(
        sum(when(col("arm") === 0L, col("n"))).cast("long").as("n_a"),
        sum(when(col("arm") === 0L, col("c"))).cast("long").as("c_a"),
        sum(when(col("arm") === 1L, col("n"))).cast("long").as("n_b"),
        sum(when(col("arm") === 1L, col("c"))).cast("long").as("c_b"))
      .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        expr("c_a * 1000000 div n_a").as("conv_a_ppm"),
        expr("c_b * 1000000 div n_b").as("conv_b_ppm"),
        expr("c_a * 1000000 div n_a - c_b * 1000000 div n_b")
          .as("lift_ppm"),
        expr("""CAST(
            (CAST(c_a AS DECIMAL(38,0)) * n_b - CAST(c_b AS DECIMAL(38,0)) * n_a)
          * (CAST(c_a AS DECIMAL(38,0)) * n_b - CAST(c_b AS DECIMAL(38,0)) * n_a)
          * (n_a + n_b) * 1000
          div nullif(CAST(n_a AS DECIMAL(38,0)) * n_b * (c_a + c_b)
              * (n_a + n_b - c_a - c_b), 0)
          AS BIGINT)""").as("z2_milli"))
  }

  val abTestLiftSql: String =
    s"""WITH u AS (
         SELECT user_id,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS converted
         FROM events GROUP BY user_id),
       armed AS (
         SELECT ${graft.util.Hashing.phashSql("CAST(user_id AS VARCHAR)", "ab_")} % 2
             AS arm,
           converted
         FROM u),
       g AS (
         SELECT arm, count(*) AS n, sum(converted) AS c
         FROM armed GROUP BY arm),
       w AS (
         SELECT
           CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN arm = 0 THEN c END) AS BIGINT) AS c_a,
           CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n_b,
           CAST(sum(CASE WHEN arm = 1 THEN c END) AS BIGINT) AS c_b
         FROM g)
       SELECT n_a, c_a, n_b, c_b,
         CAST(c_a * 1000000 // n_a AS BIGINT) AS conv_a_ppm,
         CAST(c_b * 1000000 // n_b AS BIGINT) AS conv_b_ppm,
         CAST(c_a * 1000000 // n_a - c_b * 1000000 // n_b AS BIGINT)
           AS lift_ppm,
         CAST(
             (CAST(c_a AS HUGEINT) * n_b - CAST(c_b AS HUGEINT) * n_a)
           * (CAST(c_a AS HUGEINT) * n_b - CAST(c_b AS HUGEINT) * n_a)
           * (n_a + n_b) * 1000
           // nullif(CAST(n_a AS HUGEINT) * n_b * (c_a + c_b)
               * (n_a + n_b - c_a - c_b), 0)
           AS BIGINT) AS z2_milli
       FROM w"""

  /** Conversion rate by session ENTRY event type — the landing-page
    * funnel: sessions assemble exactly as [[sessionize]] (30-min
    * gap, micros-exact boundary), each session's entry is the
    * struct-MIN argmin on the (us, event_id) total order (partial-
    * aggregating — no rank window over raw events), a session
    * converts iff it contains a purchase, and the report rolls
    * sessions up by what they STARTED with — the "which doors do
    * buyers come through" table.
    *
    * Scale shape: one user-keyed sort serves lag + running sum (the
    * sessionize pass); the per-session collapse is ONE groupBy on
    * (user, sess) whose struct-min/max combine map-side; the final
    * rollup's key space is |event types|. */
  def sessionEntryConversion(spark: SparkSession, dir: String): DataFrame = {
    val w  = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
             col("us") - col("prev_us") > 1800000000L, 1).otherwise(0))
      .withColumn("sess", sum(col("is_new")).over(wc))
      .groupBy(col("user_id"), col("sess"))
      .agg(min(struct(col("us"), col("event_id"), col("event_type"))).as("entry"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"),
        count(lit(1)).as("n_events"))
      .groupBy(col("entry")("event_type").as("entry_type"))
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        sum(col("converted")).cast("long").as("n_converted"),
        sum(col("n_events")).cast("long").as("n_events"))
      .select(col("entry_type"), col("n_sessions"), col("n_converted"),
        col("n_events"),
        expr("n_converted * 1000000 div n_sessions").as("conv_ppm"))
      .orderBy(col("entry_type"))
  }

  val sessionEntryConversionSql: String =
    """WITH l AS (
         SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
             (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             AS prev_us
         FROM events),
       s AS (
         SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
           THEN 1 ELSE 0 END AS is_new
         FROM l),
       c AS (
         SELECT *, sum(is_new) OVER (PARTITION BY user_id
           ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
         FROM s),
       per AS (
         SELECT user_id, sess,
           min(struct_pack(us := us, event_id := event_id,
             event_type := event_type)) AS entry,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             AS converted,
           count(*) AS n_events
         FROM c GROUP BY user_id, sess),
       g AS (
         SELECT entry.event_type AS entry_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           CAST(sum(n_events) AS BIGINT) AS n_events
         FROM per GROUP BY entry.event_type)
       SELECT entry_type, n_sessions, n_converted, n_events,
         CAST(n_converted * 1000000 // n_sessions AS BIGINT) AS conv_ppm
       FROM g ORDER BY entry_type"""

  /** CUPED variance-reduced experiment lift (Deng et al., WSDM'13) —
    * the modern A/B readout: the corpus splits at its median day
    * into pre/post periods, each user's PRE-period activity count is
    * the covariate X, POST-period purchases the metric Y, and the
    * adjusted lift (Ȳ_A − Ȳ_B) − θ(X̄_A − X̄_B) with θ =
    * cov(X,Y)/var(X) removes the between-user variance the
    * randomization already balanced — same expectation as the raw
    * lift, tighter CI, the difference every mature experimentation
    * platform ships. Only users SEEN pre-split enter (post-only
    * users have no covariate; standard CUPED population). Everything
    * is ONE exact rational: the adjusted lift's numerator/denominator
    * in DECIMAL(38,0) (HUGEINT twin), milli quotients truncating
    * identically cross-engine.
    *
    * Scale shape: events collapse once per user (map-side combined)
    * with pre/post conditional sums; the split day is a 1-row
    * broadcast off the same pass's min/max, never a driver probe;
    * every moment after runs on the per-user frame, the final
    * algebra on one row. */
  def cupedLift(spark: SparkSession, dir: String): DataFrame = {
    import graft.util.Hashing
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        floor(unix_timestamp(col("ts")) / 86400L).cast("long").as("day"),
        col("event_type"))
      .transform(graft.util.Fence.lineage)
    val split = ev.agg(
      expr("(min(day) + max(day) + 1) div 2").as("m"))
    val users = ev.crossJoin(broadcast(split))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("day") < col("m"), 1L).otherwise(0L)).as("x"),
        sum(when(col("day") >= col("m")
          && col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .filter(col("x") > 0L)
      .withColumn("arm",
        Hashing.phash(col("user_id").cast("string"), "ab_") % 2L)
    users.agg(
        count(lit(1)).cast("long").as("n"),
        sum(col("x")).cast("long").as("sx"),
        sum(col("y")).cast("long").as("sy"),
        sum(col("x") * col("y")).cast("long").as("sxy"),
        sum(col("x") * col("x")).cast("long").as("sxx"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).cast("long").as("n_a"),
        sum(when(col("arm") === 0L, col("x"))).cast("long").as("sx_a"),
        sum(when(col("arm") === 0L, col("y"))).cast("long").as("sy_a"))
      .select(col("n"), col("n_a"), (col("n") - col("n_a")).as("n_b"),
        expr("n * sxy - sx * sy").as("theta_num"),
        expr("n * sxx - sx * sx").as("theta_den"),
        col("sx_a"), col("sy_a"), (col("sx") - col("sx_a")).as("sx_b"),
        (col("sy") - col("sy_a")).as("sy_b"))
      .select(col("n_a"), col("n_b"), col("theta_num"), col("theta_den"),
        expr("(sy_a * n_b - sy_b * n_a) * 1000 div nullif(n_a * n_b, 0)")
          .as("raw_lift_milli"),
        expr("""CAST(
            ((CAST(sy_a AS DECIMAL(38,0)) * n_b - CAST(sy_b AS DECIMAL(38,0)) * n_a)
               * theta_den
             - CAST(theta_num AS DECIMAL(38,0))
               * (CAST(sx_a AS DECIMAL(38,0)) * n_b - CAST(sx_b AS DECIMAL(38,0)) * n_a))
            * 1000
            div nullif(CAST(n_a AS DECIMAL(38,0)) * n_b * theta_den, 0)
            AS BIGINT)""").as("cuped_lift_milli"))
  }

  val cupedLiftSql: String = {
    import graft.util.Hashing
    s"""WITH e AS (
         SELECT user_id,
           CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS BIGINT)
             AS day,
           event_type
         FROM events),
       sp AS (SELECT (min(day) + max(day) + 1) // 2 AS m FROM e),
       u AS (
         SELECT user_id,
           CAST(sum(CASE WHEN day < sp.m THEN 1 ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN day >= sp.m AND event_type = 'purchase'
             THEN 1 ELSE 0 END) AS BIGINT) AS y
         FROM e CROSS JOIN sp GROUP BY user_id
         HAVING sum(CASE WHEN day < sp.m THEN 1 ELSE 0 END) > 0),
       armed AS (
         SELECT x, y,
           ${Hashing.phashSql("CAST(user_id AS VARCHAR)", "ab_")} % 2 AS arm
         FROM u),
       g AS (
         SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN arm = 0 THEN x END) AS BIGINT) AS sx_a,
           CAST(sum(CASE WHEN arm = 0 THEN y END) AS BIGINT) AS sy_a
         FROM armed),
       w AS (
         SELECT n_a, n - n_a AS n_b,
           CAST(n * sxy - sx * sy AS BIGINT) AS theta_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS theta_den,
           sx_a, sy_a, sx - sx_a AS sx_b, sy - sy_a AS sy_b
         FROM g)
       SELECT n_a, n_b, theta_num, theta_den,
         CAST((sy_a * n_b - sy_b * n_a) * 1000 // nullif(n_a * n_b, 0)
           AS BIGINT) AS raw_lift_milli,
         CAST(
           ((CAST(sy_a AS HUGEINT) * n_b - CAST(sy_b AS HUGEINT) * n_a)
              * theta_den
            - CAST(theta_num AS HUGEINT)
              * (CAST(sx_a AS HUGEINT) * n_b - CAST(sx_b AS HUGEINT) * n_a))
           * 1000
           // nullif(CAST(n_a AS HUGEINT) * n_b * theta_den, 0)
           AS BIGINT) AS cuped_lift_milli
       FROM w"""
  }

  /** Daily sample-ratio-mismatch monitor — the experiment-health
    * check that catches broken randomization BEFORE anyone reads a
    * lift: under a 50/50 hash split, each day's active users should
    * split evenly between arms; the one-degree chi-square
    * (n_A−n_B)²/(n_A+n_B) flags days where they don't (3.841 = the
    * p<0.05 line). A crawler in one arm, a logging bug, or a
    * client-version skew shows up here as a persistent SRM — and any
    * lift read over those days is invalid (Fabijan et al.,
    * KDD'19 diagnoses). Exact integers end to end: chi2_milli =
    * (n_A−n_B)²·1000 div (n_A+n_B).
    *
    * Scale shape: events collapse to the distinct (day, user, arm)
    * presence frame once, then a calendar-bounded per-day rollup —
    * the monitor costs one dedup shuffle however large the log. */
  def srmDaily(spark: SparkSession, dir: String): DataFrame = {
    import graft.util.Hashing
    Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .withColumn("arm",
        Hashing.phash(col("user_id").cast("string"), "ab_") % 2L)
      .groupBy(col("day"))
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).cast("long")
          .as("n_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).cast("long")
          .as("n_b"))
      .select(col("day"), col("n_a"), col("n_b"),
        expr("(n_a - n_b) * (n_a - n_b) * 1000 div nullif(n_a + n_b, 0)")
          .as("chi2_milli"),
        (expr("(n_a - n_b) * (n_a - n_b) * 1000 div nullif(n_a + n_b, 0)")
          > 3841L).cast("long").as("srm_flag"))
      .orderBy(col("day"))
  }

  val srmDailySql: String = {
    import graft.util.Hashing
    s"""WITH pres AS (
         SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
         FROM events),
       armed AS (
         SELECT day,
           ${Hashing.phashSql("CAST(user_id AS VARCHAR)", "ab_")} % 2 AS arm
         FROM pres),
       g AS (
         SELECT day,
           CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
         FROM armed GROUP BY day)
       SELECT day, n_a, n_b,
         CAST((n_a - n_b) * (n_a - n_b) * 1000 // nullif(n_a + n_b, 0)
           AS BIGINT) AS chi2_milli,
         CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 1000
             // nullif(n_a + n_b, 0) > 3841 THEN 1 ELSE 0 END AS BIGINT)
           AS srm_flag
       FROM g ORDER BY day"""
  }

  private val BURN_BUDGET_PPM = 200000L // SLO: <=20% error share
  private val BURN_THRESH_X10 = 11L     // page at 1.1x budget burn

  /** Multi-window SLO burn-rate alerts (Google SRE workbook ch.5) —
    * the paging rule that replaces naive threshold alerts: page only
    * when BOTH the trailing 24h window AND the current hour burn the
    * error budget faster than 1.1× — the long window proves the burn
    * is material, the short window proves it's still happening (no
    * 3 a.m. page for an incident that already ended). Burn =
    * error_share / budget_share, compared by exact integer
    * cross-multiplication (e·10⁶·10 > n·budget_ppm·11), emitted in
    * milli for the dashboard.
    *
    * Scale shape: raw events collapse once to the hourly
    * (n, errors) frame; the trailing window is a RANGE frame over
    * the integer hour index on that calendar-bounded frame — the
    * [[graft.report.Intervals.rateAnomaly]] plan shape with SLO
    * semantics on top. */
  def burnRateAlerts(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(floor(unix_timestamp(col("ts")) / 3600L).cast("long")
        .as("hour"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("e"))
    val wTrail = Window.orderBy(col("hour"))
      .rangeBetween(-23L, Window.currentRow)
    hourly
      .withColumn("n24", sum(col("n")).over(wTrail))
      .withColumn("e24", sum(col("e")).over(wTrail))
      .select(col("hour"), col("n").cast("long").as("n"),
        col("e").cast("long").as("e"),
        expr(s"e * 1000000000 div nullif(n * $BURN_BUDGET_PPM, 0)")
          .as("burn_1h_milli"),
        expr(s"e24 * 1000000000 div nullif(n24 * $BURN_BUDGET_PPM, 0)")
          .as("burn_24h_milli"),
        // burn > 1.1x ⟺ e·10^7 > n·budget_ppm·11 (both sides BIGINT)
        (expr(s"e * 10000000 > n * $BURN_BUDGET_PPM * $BURN_THRESH_X10") &&
         expr(s"e24 * 10000000 > n24 * $BURN_BUDGET_PPM * $BURN_THRESH_X10"))
          .cast("long").as("page"))
      .orderBy(col("hour"))
  }

  val burnRateAlertsSql: String =
    s"""WITH h AS (
         SELECT CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 3600)
             AS BIGINT) AS hour,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             AS BIGINT) AS e
         FROM events GROUP BY 1),
       t AS (
         SELECT *,
           CAST(sum(n) OVER w AS BIGINT) AS n24,
           CAST(sum(e) OVER w AS BIGINT) AS e24
         FROM h
         WINDOW w AS (ORDER BY hour
           RANGE BETWEEN 23 PRECEDING AND CURRENT ROW))
       SELECT hour, n, e,
         CAST(e * 1000000000 // nullif(n * $BURN_BUDGET_PPM, 0) AS BIGINT)
           AS burn_1h_milli,
         CAST(e24 * 1000000000 // nullif(n24 * $BURN_BUDGET_PPM, 0) AS BIGINT)
           AS burn_24h_milli,
         CAST(CASE WHEN e * 10000000 > n * $BURN_BUDGET_PPM * $BURN_THRESH_X10
               AND e24 * 10000000 > n24 * $BURN_BUDGET_PPM * $BURN_THRESH_X10
           THEN 1 ELSE 0 END AS BIGINT) AS page
       FROM t ORDER BY hour"""
}
