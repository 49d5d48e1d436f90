package graft.report

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.util.Exact

/** As-of (point-in-time) join — the canonical operator Spark lacks
  * natively (SURVEY.md §2.4 notes the reference has none either; this
  * is a §7 capability extension for time-series enrichment: "what
  * config/rate was in force when this event happened").
  *
  * Built as a COARSE-TIME-BUCKET equi-join — the shape that survives
  * any rate-side cardinality (the round-2 version broadcast one
  * sorted array per event_type; rates here are derived from events
  * (1%), so that array was O(N) — ~1 TB at 100 TB — and the
  * per-event_type `collect_list` was unbounded):
  *
  *  1. rates land in (event_type, bucket) cells, bucket =
  *     floor(epoch/W). Each cell's rates collect into ONE sorted
  *     array whose size is bounded by rates·W/span — W is the knob
  *     that caps it (W=1h here; shrink W as rate density grows);
  *  2. events equi-join their own cell (shuffle on the
  *     high-cardinality (event_type, bucket) key — never a broadcast
  *     of the rate side) and binary-search-in-spirit scan that
  *     bounded array for the last rate with ts <= event ts;
  *  3. events whose cell has no earlier rate fall back to a CARRY
  *     table: rate-in-force at each bucket's end, densified per type
  *     over the bucket range. Its size is #types × #buckets —
  *     bounded by the timeline, NOT by N — so it broadcasts safely,
  *     and the window that builds it runs over that tiny frame, not
  *     the data.
  *
  * Tie semantics (bit-compatible with the round-2 array scan and the
  * round-1 window): rates sort by (ts, event_id); an event at ts T
  * sees every rate with rate.ts <= T (a rate "arrives" before an
  * event in the same second), and the latest (ts, event_id) wins.
  *
  * The "rate changes" dimension is derived deterministically from the
  * events table itself (every event_id % 97 == 0 row becomes a rate
  * change for its event_type), so the oracle can rebuild it exactly.
  */
object AsOf {

  /** Bucket width in seconds. Caps the per-cell rate array at
    * n_rates·W/span; 1 hour over the 30-day test timeline gives ~720
    * buckets per type. The RESULT is W-invariant (asserted by
    * ReportSpec's bucket-width property test) — W only trades carry
    * table size against per-cell array length. */
  private val W = 3600L

  def asofJoinRates(spark: SparkSession, dir: String): DataFrame =
    asofJoinRatesW(spark, dir, W)

  /** [[asofJoinRates]] with an explicit bucket width — the property-
    * test entry point. */
  private[graft] def asofJoinRatesW(spark: SparkSession, dir: String, W: Long): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
    // rate rows KEEP their source event_id: two rate changes sharing
    // (event_type, ts) would otherwise tie on the sort key and make
    // rate_in_force nondeterministic across runs and engines
    val rates = ev.filter(col("event_id") % 97 === 0)
      .select(col("event_type"),
        floor(unix_timestamp(col("ts")) / W).cast("long").as("bucket"),
        col("ts"), col("event_id"), col("value").as("rate"))
    // per-cell sorted rate arrays — size bounded by construction
    val arr = rates.groupBy(col("event_type"), col("bucket"))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("rate")))).as("ra"))
    // carry: rate in force at the END of each bucket, densified over
    // each type's bucket range (#types × #buckets rows — tiny)
    val span = rates.groupBy(col("event_type"))
      .agg(min(col("bucket")).as("minb"), max(col("bucket")).as("maxb"))
    val dense = span.select(col("event_type"),
      explode(sequence(col("minb"), col("maxb"))).as("bucket"))
    val lastPer = arr.select(col("event_type"), col("bucket"),
      element_at(col("ra"), -1).as("lr"))
    val wspec = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carry = dense.join(lastPer, Seq("event_type", "bucket"), "left")
      .withColumn("carry_rate", last(col("lr"), ignoreNulls = true).over(wspec)("rate"))
      .select(col("event_type"), col("bucket").as("cb"), col("carry_rate"))
    val evb = ev.select(col("event_type"), col("ts"),
      floor(unix_timestamp(col("ts")) / W).cast("long").as("bucket"))
    // events past the last rate bucket clamp their carry lookup to it
    // (explicit when(): engines differ on least() null handling)
    evb
      .join(arr, Seq("event_type", "bucket"), "left")
      .join(broadcast(span.select(col("event_type"), col("maxb"))),
        Seq("event_type"), "left")
      .withColumn("cb",
        when(col("maxb").isNull || col("bucket") - 1 < col("maxb"),
          col("bucket") - 1).otherwise(col("maxb")))
      .join(broadcast(carry), Seq("event_type", "cb"), "left")
      .withColumn("rate_in_force", coalesce(
        try_element_at(
          filter(col("ra"), r => r("ts") <= col("ts")), lit(-1))("rate"),
        col("carry_rate")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           count(col("rate_in_force")).as("n_with_rate"),
           Exact.moneySum(coalesce(col("rate_in_force"), lit(0.0))).as("sum_rate"))
      .orderBy(col("event_type"))
  }

  val asofJoinRatesSql: String =
    s"""WITH src AS (
         SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value
         FROM events),
       rates AS (
         SELECT event_type, CAST(floor(epoch(ts) / $W) AS BIGINT) AS bucket,
                ts, event_id, value AS rate
         FROM src WHERE event_id % 97 = 0),
       arr AS (
         SELECT event_type, bucket,
           list(struct_pack(ts := ts, event_id := event_id, rate := rate)
                ORDER BY ts, event_id) AS ra
         FROM rates GROUP BY event_type, bucket),
       span AS (
         SELECT event_type, min(bucket) AS minb, max(bucket) AS maxb
         FROM rates GROUP BY event_type),
       dense AS (
         SELECT s.event_type, unnest(generate_series(s.minb, s.maxb)) AS bucket
         FROM span s),
       lastper AS (SELECT event_type, bucket, ra[-1] AS lr FROM arr),
       carry AS (
         SELECT d.event_type, d.bucket AS cb,
           (last_value(l.lr IGNORE NULLS) OVER (
              PARTITION BY d.event_type ORDER BY d.bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)).rate AS carry_rate
         FROM dense d LEFT JOIN lastper l
           ON d.event_type = l.event_type AND d.bucket = l.bucket),
       evb AS (
         SELECT event_type, ts,
                CAST(floor(epoch(ts) / $W) AS BIGINT) AS bucket
         FROM src),
       f AS (
         SELECT e.event_type,
           coalesce((list_filter(a.ra, r -> r.ts <= e.ts))[-1].rate,
                    c.carry_rate) AS rate_in_force
         FROM evb e
         LEFT JOIN arr a ON e.event_type = a.event_type AND e.bucket = a.bucket
         LEFT JOIN span s ON e.event_type = s.event_type
         LEFT JOIN carry c ON e.event_type = c.event_type
           AND c.cb = (CASE WHEN s.maxb IS NULL OR e.bucket - 1 < s.maxb
                       THEN e.bucket - 1 ELSE s.maxb END))
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(rate_in_force) AS BIGINT) AS n_with_rate,
         ${Exact.moneySumSql("coalesce(rate_in_force, 0.0)")} AS sum_rate
       FROM f
       GROUP BY event_type ORDER BY event_type"""

  // ---- direction = nearest -----------------------------------------

  /** As-of join, `nearest` direction (pandas merge_asof's third
    * mode, completing the family: [[asofJoinRates]] is `backward`;
    * `forward` falls out of this one's forward arm): each event
    * matches the rate change with the smallest |Δt|, equidistant ties
    * preferring the backward candidate (the rate already in force),
    * within a side the (ts, event_id) total order.
    *
    * Same coarse-bucket shape as backward — nothing O(N) broadcasts:
    * the in-bucket sorted arrays serve BOTH directions (last ≤ ts /
    * first > ts against one array), and the carry table doubles: the
    * backward carry holds the rate in force at each bucket's END, the
    * FORWARD carry the next rate at each bucket's START (the same
    * #types × #buckets frame under a mirrored window — still
    * timeline-bounded, still broadcastable). Δt compares in integer
    * epoch seconds (`floor` applied on the oracle side to mirror
    * Spark's truncating unix_timestamp — the double→long convention). */
  def asofNearest(spark: SparkSession, dir: String): DataFrame =
    asofNearestW(spark, dir, W)

  /** Shared candidate builder for the nearest/forward directions: one
    * frame per event carrying BOTH the last rate at-or-before ts
    * (`back`) and the first rate after ts (`fwd`) — the in-bucket
    * arrays and both carry tables built once, consumed by whichever
    * direction the caller aggregates. */
  private def asofCandidatesW(spark: SparkSession, dir: String, W: Long): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
    val rates = ev.filter(col("event_id") % 97 === 0)
      .select(col("event_type"),
        floor(unix_timestamp(col("ts")) / W).cast("long").as("bucket"),
        col("ts"), col("event_id"), col("value").as("rate"))
    val arr = rates.groupBy(col("event_type"), col("bucket"))
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_id"), col("rate")))).as("ra"))
    val span = rates.groupBy(col("event_type"))
      .agg(min(col("bucket")).as("minb"), max(col("bucket")).as("maxb"))
    val dense = span.select(col("event_type"),
      explode(sequence(col("minb"), col("maxb"))).as("bucket"))
    val ends = arr.select(col("event_type"), col("bucket"),
      element_at(col("ra"), -1).as("lr"), element_at(col("ra"), 1).as("fr"))
    val wB = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val carries = dense.join(ends, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket").as("cb"),
        last(col("lr"), ignoreNulls = true).over(wB).as("bs"),
        first(col("fr"), ignoreNulls = true).over(wF).as("fs"))
    val evb = ev.select(col("event_type"), col("ts"),
      floor(unix_timestamp(col("ts")) / W).cast("long").as("bucket"))
    val withC = evb
      .join(arr, Seq("event_type", "bucket"), "left")
      .join(broadcast(span), Seq("event_type"), "left")
      // backward carry looks at the PREVIOUS bucket's end (clamped down
      // to maxb); forward carry at the NEXT bucket's start (clamped up
      // to minb — an event before all rates still sees the first rate;
      // past maxb the lookup naturally misses → no forward candidate)
      .withColumn("cbb",
        when(col("maxb").isNull || col("bucket") - 1 < col("maxb"),
          col("bucket") - 1).otherwise(col("maxb")))
      .withColumn("cbf",
        when(col("minb").isNull || col("bucket") + 1 > col("minb"),
          col("bucket") + 1).otherwise(col("minb")))
      .join(broadcast(carries.select(col("event_type"), col("cb").as("cbb"),
        col("bs"))), Seq("event_type", "cbb"), "left")
      .join(broadcast(carries.select(col("event_type"), col("cb").as("cbf"),
        col("fs"))), Seq("event_type", "cbf"), "left")
      .withColumn("back", coalesce(
        try_element_at(filter(col("ra"), r => r("ts") <= col("ts")), lit(-1)),
        col("bs")))
      .withColumn("fwd", coalesce(
        try_element_at(filter(col("ra"), r => r("ts") > col("ts")), lit(1)),
        col("fs")))
    withC
  }

  /** Per-direction aggregation over the candidate frame: pick the
    * candidate, report coverage / exact rate mass / total |Δt|. */
  private def asofAgg(withC: DataFrame, pick: Column): DataFrame =
    withC
      .withColumn("nr", pick)
      .withColumn("dt_s",
        when(col("nr").isNull, lit(null).cast("long")).otherwise(
          abs(unix_timestamp(col("nr")("ts")) - unix_timestamp(col("ts")))
            .cast("long")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(col("nr")).as("n_with_rate"),
        Exact.moneySum(coalesce(col("nr")("rate"), lit(0.0))).as("sum_rate"),
        sum(coalesce(col("dt_s"), lit(0L))).cast("long").as("sum_dt_s"))
      .orderBy(col("event_type"))

  private[graft] def asofNearestW(spark: SparkSession, dir: String, W: Long): DataFrame = {
    val withC = asofCandidatesW(spark, dir, W)
    val db = unix_timestamp(col("ts")) - unix_timestamp(col("back")("ts"))
    val df_ = unix_timestamp(col("fwd")("ts")) - unix_timestamp(col("ts"))
    val nearest = when(col("back").isNotNull &&
        (col("fwd").isNull || db <= df_), col("back"))
      .otherwise(col("fwd"))
    asofAgg(withC, nearest)
  }

  /** As-of join, FORWARD direction (merge_asof direction='forward',
    * completing the backward/nearest/forward family): each event
    * matches the FIRST rate change strictly after it — the
    * "next-scheduled-price" / look-ahead-label join. Same coarse-
    * bucket candidate machinery as nearest ([[asofCandidatesW]]);
    * only the pick differs, so the plan shape and the at-scale
    * argument are inherited verbatim. */
  def asofForward(spark: SparkSession, dir: String): DataFrame =
    asofForwardW(spark, dir, W)

  private[graft] def asofForwardW(spark: SparkSession, dir: String, W: Long): DataFrame =
    asofAgg(asofCandidatesW(spark, dir, W), col("fwd"))

  // Spark's unix_timestamp truncates to whole seconds; mirror with
  // floor(epoch(..)) before the BIGINT cast (double→long convention).
  // Shared with the Windows twins.
  private[report] def es(x: String) = s"CAST(floor(epoch($x)) AS BIGINT)"

  /** Shared CTE prefix (through candidate selection `j`) for the
    * nearest/forward oracle twins — mirrors [[asofCandidatesW]]. */
  private val asofCandidatesSqlPrefix: String =
    s"""WITH src AS (
         SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id, value
         FROM events),
       rates AS (
         SELECT event_type, CAST(floor(epoch(ts) / $W) AS BIGINT) AS bucket,
                ts, event_id, value AS rate
         FROM src WHERE event_id % 97 = 0),
       arr AS (
         SELECT event_type, bucket,
           list(struct_pack(ts := ts, event_id := event_id, rate := rate)
                ORDER BY ts, event_id) AS ra
         FROM rates GROUP BY event_type, bucket),
       span AS (
         SELECT event_type, min(bucket) AS minb, max(bucket) AS maxb
         FROM rates GROUP BY event_type),
       dense AS (
         SELECT s.event_type, unnest(generate_series(s.minb, s.maxb)) AS bucket
         FROM span s),
       ends AS (SELECT event_type, bucket, ra[-1] AS lr, ra[1] AS fr FROM arr),
       carries AS (
         SELECT d.event_type, d.bucket AS cb,
           last_value(e.lr IGNORE NULLS) OVER (
             PARTITION BY d.event_type ORDER BY d.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bs,
           first_value(e.fr IGNORE NULLS) OVER (
             PARTITION BY d.event_type ORDER BY d.bucket
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fs
         FROM dense d LEFT JOIN ends e
           ON d.event_type = e.event_type AND d.bucket = e.bucket),
       evb AS (
         SELECT event_type, ts,
                CAST(floor(epoch(ts) / $W) AS BIGINT) AS bucket
         FROM src),
       j AS (
         SELECT e.event_type, e.ts,
           coalesce((list_filter(a.ra, r -> r.ts <= e.ts))[-1], cb.bs) AS back,
           coalesce((list_filter(a.ra, r -> r.ts > e.ts))[1], cf.fs) AS fwd
         FROM evb e
         LEFT JOIN arr a ON e.event_type = a.event_type AND e.bucket = a.bucket
         LEFT JOIN span s ON e.event_type = s.event_type
         LEFT JOIN carries cb ON e.event_type = cb.event_type
           AND cb.cb = (CASE WHEN s.maxb IS NULL OR e.bucket - 1 < s.maxb
                        THEN e.bucket - 1 ELSE s.maxb END)
         LEFT JOIN carries cf ON e.event_type = cf.event_type
           AND cf.cb = (CASE WHEN s.minb IS NULL OR e.bucket + 1 > s.minb
                        THEN e.bucket + 1 ELSE s.minb END))"""

  /** Shared aggregate tail over a CTE `n(event_type, ts, nr)`. */
  private val asofAggSqlTail: String =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(nr) AS BIGINT) AS n_with_rate,
         ${Exact.moneySumSql("coalesce(nr.rate, 0.0)")} AS sum_rate,
         CAST(sum(coalesce(abs(${es("nr.ts")} - ${es("ts")}), 0)) AS BIGINT)
           AS sum_dt_s
       FROM n GROUP BY event_type ORDER BY event_type"""

  val asofNearestSql: String =
    s"""$asofCandidatesSqlPrefix,
       n AS (
         SELECT event_type, ts,
           CASE WHEN back IS NOT NULL AND (fwd IS NULL OR
                  ${es("ts")} - ${es("back.ts")} <= ${es("fwd.ts")} - ${es("ts")})
                THEN back ELSE fwd END AS nr
         FROM j)
       $asofAggSqlTail"""

  val asofForwardSql: String =
    s"""$asofCandidatesSqlPrefix,
       n AS (SELECT event_type, ts, fwd AS nr FROM j)
       $asofAggSqlTail"""
}
