package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Dataset audit/profiling — the pre-flight sweep every large-scale
  * ingest runs before committing compute: per-column null counts,
  * exact distinct cardinalities, and value ranges (the reference has
  * no audit surface at all; its parser silently skips malformed rows
  * — SURVEY.md §2.2 P-ops — so this is the §7 "know your corpus
  * before you train on it" extension).
  *
  * Shape: ONE AGGREGATE PER COLUMN, unioned. The tempting
  * alternative — a single wide aggregate with 11 DISTINCT aggregates
  * — plans through Expand: every row fans out ×(|cols|+1) with wide
  * mostly-null composite grouping keys, and measured 18.7 s at sf0.1
  * where this shape runs in ~1 s. Per-column aggregates instead get
  * (a) parquet column pruning — each scan reads exactly one column,
  * so the 11 scans together read ≈ one row-width of I/O, the
  * canonical profiling shape on columnar storage — and (b) Spark's
  * two-level partial-distinct plan per column (map-side distinct
  * partials, no row fan-out). At 100 TB the exact DISTINCT is still
  * the knob to relax: swap count_distinct for approx_count_distinct
  * (HLL++) — kept exact here because the oracle hash-compares, and
  * [[Sketches.distinctSketch]] already covers the approximate path.
  */
object Audit {

  private val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val strCols = Seq("l_returnflag", "l_linestatus")
  private val tsCols  = Seq("l_shipdate")

  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    def prof(c: String): DataFrame = {
      val isTs = tsCols.contains(c)
      val isNum = numCols.contains(c) || isTs
      // timestamps surface as whole epoch seconds (unix_timestamp
      // truncates; l_shipdate has no sub-second part, and DuckDB's
      // floor(epoch()) matches exactly)
      val mn: Column =
        if (isTs) unix_timestamp(min(col(c))).cast("double")
        else if (isNum) min(col(c)).cast("double")
        else lit(null).cast("double")
      val mx: Column =
        if (isTs) unix_timestamp(max(col(c))).cast("double")
        else if (isNum) max(col(c)).cast("double")
        else lit(null).cast("double")
      val smn: Column = if (isNum) lit(null).cast("string") else min(col(c))
      val smx: Column = if (isNum) lit(null).cast("string") else max(col(c))
      li.select(col(c)).agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col(c))).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        mn.as("min_num"), mx.as("max_num"),
        smn.as("min_str"), smx.as("max_str"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_num"), col("max_num"),
          col("min_str"), col("max_str"))
    }
    (numCols ++ tsCols ++ strCols).map(prof)
      .reduce(_ unionAll _)
      .orderBy(col("col_name"))
  }

  /** Referential-integrity audit between the two modality tables —
    * the orphan scan every multimodal pipeline runs before training
    * (a document without its embedding silently vanishes from ANN
    * retrieval; an embedding without its document is dead weight).
    * ONE full-outer equi-join on the id (a single shuffle keyed on
    * the high-cardinality id — the scalable shape; never two
    * separate anti-joins re-shuffling the same tables) aggregated
    * down to a one-row summary. */
  def refIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"))
      .withColumn("has_d", lit(1))
    val e = Tables.embeddings(spark, dir).select(col("vec_id"))
      .withColumn("has_e", lit(1))
    d.join(e, d("doc_id") === e("vec_id"), "full")
      .agg(
        sum(coalesce(col("has_d"), lit(0))).as("n_docs"),
        sum(coalesce(col("has_e"), lit(0))).as("n_vecs"),
        sum(when(col("has_d").isNotNull && col("has_e").isNotNull, 1L)
          .otherwise(0L)).as("n_matched"),
        sum(when(col("has_d").isNotNull && col("has_e").isNull, 1L)
          .otherwise(0L)).as("docs_orphaned"),
        sum(when(col("has_d").isNull && col("has_e").isNotNull, 1L)
          .otherwise(0L)).as("vecs_orphaned"))
      .orderBy(col("n_docs"))
  }

  val refIntegritySql: String =
    """SELECT
         CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_vecs,
         CAST(sum(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
         CAST(sum(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS docs_orphaned,
         CAST(sum(CASE WHEN d.doc_id IS NULL AND e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS vecs_orphaned
       FROM documents d FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
       ORDER BY n_docs"""

  val columnProfileSql: String = {
    def row(c: String, numeric: Boolean): String = {
      val isTs = tsCols.contains(c)
      val mn = if (isTs) s"CAST(floor(epoch(min($c))) AS DOUBLE)"
               else if (numeric) s"CAST(min($c) AS DOUBLE)"
               else "CAST(NULL AS DOUBLE)"
      val mx = if (isTs) s"CAST(floor(epoch(max($c))) AS DOUBLE)"
               else if (numeric) s"CAST(max($c) AS DOUBLE)"
               else "CAST(NULL AS DOUBLE)"
      val smn = if (numeric) "CAST(NULL AS VARCHAR)" else s"min($c)"
      val smx = if (numeric) "CAST(NULL AS VARCHAR)" else s"max($c)"
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           $mn AS min_num, $mx AS max_num, $smn AS min_str, $smx AS max_str
         FROM lineitem"""
    }
    val rows = (numCols ++ tsCols).map(row(_, numeric = true)) ++
      strCols.map(row(_, numeric = false))
    rows.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // ---- Join-cardinality audit --------------------------------------

  /** Join sizing audit — predict a join's output size from the two
    * key HISTOGRAMS before paying for the join, then measure: the
    * exact output cardinality of an equi-join is Σ over matching keys
    * of c₁·c₂, so `predicted == actual` always (emitted as a flag
    * the oracle pins), and the same histogram join yields the skew
    * facts a planner wants — matching-key count and the worst
    * per-key fanout (the row that decides whether the real join needs
    * salting; compare `skew_join`).
    *
    * Scale shape: the histograms shuffle once each on the join key
    * with map-side combine (far smaller than the join's own shuffle,
    * which moves whole rows); their join and the rollup run on
    * distinct-key frames. At 100 TB the exact histograms relax to
    * samples — the prediction becomes an estimate, the query shape
    * stays this one. The `actual` pass exists to certify the
    * identity and would be dropped in production. */
  def joinCardinalityAudit(spark: SparkSession, dir: String): DataFrame = {
    val h1 = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("c1"))
    val h2 = Tables.orders(spark, dir)
      .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("c2"))
    val pred = h1.join(h2, Seq("k"))
      .agg(sum(col("c1") * col("c2")).cast("long").as("predicted_rows"),
        count(lit(1)).cast("long").as("n_join_keys"),
        max(col("c1") * col("c2")).cast("long").as("max_key_fanout"))
    val actual = Tables.lineitem(spark, dir).select(col("l_orderkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).cast("long").as("actual_rows"))
    pred.crossJoin(actual)
      .select(col("predicted_rows"), col("actual_rows"),
        when(col("predicted_rows") === col("actual_rows"), 1L).otherwise(0L)
          .as("prediction_exact"),
        col("n_join_keys"), col("max_key_fanout"))
      .orderBy(col("predicted_rows"))
  }

  val joinCardinalityAuditSql: String =
    """WITH h1 AS (SELECT l_orderkey AS k, count(*) AS c1 FROM lineitem GROUP BY l_orderkey),
       h2 AS (SELECT o_orderkey AS k, count(*) AS c2 FROM orders GROUP BY o_orderkey),
       pred AS (
         SELECT CAST(sum(c1 * c2) AS BIGINT) AS predicted_rows,
           CAST(count(*) AS BIGINT) AS n_join_keys,
           CAST(max(c1 * c2) AS BIGINT) AS max_key_fanout
         FROM h1 JOIN h2 USING (k)),
       act AS (
         SELECT CAST(count(*) AS BIGINT) AS actual_rows
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
       SELECT predicted_rows, actual_rows,
         CAST(CASE WHEN predicted_rows = actual_rows THEN 1 ELSE 0 END AS BIGINT)
           AS prediction_exact,
         n_join_keys, max_key_fanout
       FROM pred CROSS JOIN act ORDER BY predicted_rows"""

  private val K_ANON = 5L

  /** k-anonymity audit over the customer quasi-identifiers
    * (mktsegment × nation) — the release gate a privacy review runs
    * before a table with indirect identifiers ships into a training
    * corpus: any equivalence class smaller than k re-identifies its
    * members. Emits one row per class-size bucket plus the headline:
    * how many classes (and customers) sit below k.
    *
    * Scale shape: one groupBy on the quasi-identifier tuple (map-side
    * combined; the class-count frame is ≤ |segments|×|nations| rows),
    * then a tiny second rollup by class size. Nothing row-scale
    * survives the first aggregate. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("class_size"))
      .groupBy(col("class_size"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("class_size")).cast("long").as("n_customers"),
        max(when(col("class_size") < K_ANON, 1L).otherwise(0L))
          .as("below_k"))
      .orderBy(col("class_size"))

  val kAnonymitySql: String =
    s"""WITH classes AS (
         SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS class_size
         FROM customer GROUP BY c_mktsegment, c_nationkey)
       SELECT class_size, CAST(count(*) AS BIGINT) AS n_classes,
         CAST(sum(class_size) AS BIGINT) AS n_customers,
         CAST(max(CASE WHEN class_size < $K_ANON THEN 1 ELSE 0 END) AS BIGINT)
           AS below_k
       FROM classes GROUP BY class_size ORDER BY class_size"""

  /** Event-order audit: per event type, how many events arrive with a
    * timestamp EARLIER than the previous event of the same user (in
    * event_id = arrival order) — the out-of-orderness profile that
    * sizes a streaming watermark (`withWatermark` delay = the p100/p99
    * regression magnitude this reports). Emits per-type arrival
    * counts, disorder counts, and the worst backward jump in
    * milliseconds.
    *
    * Scale shape: one window keyed on user_id (high-cardinality
    * partition key — shuffles once, no global sort), then a map-side
    * combined rollup on event_type. The lag feeds arithmetic, so the
    * window ORDER BY is total (event_id is unique per user) per the
    * repo convention. */
  def eventOrderAudit(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("back_us",
        when(col("prev_ts").isNotNull && col("ts") < col("prev_ts"),
          unix_micros(col("prev_ts")) - unix_micros(col("ts")))
          .otherwise(lit(null)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(col("back_us")).as("n_disordered"),
        coalesce(max(col("back_us")), lit(0L)).cast("long").as("max_back_us"))
      .orderBy(col("event_type"))
  }

  val eventOrderAuditSql: String =
    """WITH lagged AS (
         SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
           lag(CAST(ts AS TIMESTAMP), 1) OVER (
             PARTITION BY user_id ORDER BY event_id) AS prev_ts
         FROM events),
       marked AS (
         SELECT event_type,
           CASE WHEN prev_ts IS NOT NULL AND ts < prev_ts THEN
             CAST(epoch_us(prev_ts) - epoch_us(ts) AS BIGINT)
           ELSE NULL END AS back_us
         FROM lagged)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(back_us) AS BIGINT) AS n_disordered,
         CAST(coalesce(max(back_us), 0) AS BIGINT) AS max_back_us
       FROM marked GROUP BY event_type ORDER BY event_type"""

  private val DRIFT_CUT = "1998-07-01"

  /** Distribution-drift profile between two eras of the orders table
    * (split at [[DRIFT_CUT]]) — the snapshot-to-snapshot comparison a
    * pipeline runs before retraining on refreshed data: per priority
    * class, the row share (exact integer ppm) and mean order value in
    * each era, plus the absolute share shift. A large total shift
    * means the upstream distribution moved and cached statistics /
    * mixture weights are stale.
    *
    * Scale shape: ONE scan, one map-side-combined groupBy on the
    * tiny priority key space with conditional partial aggregates per
    * era; the era totals come back as a 1-row broadcast cross join.
    * (Two separate era scans + a join would read the fact twice for
    * no benefit — conditional aggregation is the one-pass form.) */
  def profileDrift(spark: SparkSession, dir: String): DataFrame = {
    val cut = to_timestamp(lit(DRIFT_CUT))
    val byClass = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        sum(when(col("o_orderdate") < cut, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("o_orderdate") >= cut, 1L).otherwise(0L)).as("n_b"),
        graft.util.Exact.moneySum(when(col("o_orderdate") < cut,
          col("o_totalprice")).otherwise(lit(0.0))).as("price_a"),
        graft.util.Exact.moneySum(when(col("o_orderdate") >= cut,
          col("o_totalprice")).otherwise(lit(0.0))).as("price_b"))
    val tot = byClass.agg(sum(col("n_a")).cast("long").as("t_a"),
      sum(col("n_b")).cast("long").as("t_b"))
    byClass.crossJoin(broadcast(tot))
      .select(col("o_orderpriority"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        col("price_a"), col("price_b"),
        graft.util.Exact.floorDiv(col("n_a") * 1000000L, col("t_a")).as("share_a_ppm"),
        graft.util.Exact.floorDiv(col("n_b") * 1000000L, col("t_b")).as("share_b_ppm"))
      .withColumn("shift_ppm",
        abs(col("share_a_ppm") - col("share_b_ppm")))
      .orderBy(col("o_orderpriority"))
  }

  val profileDriftSql: String =
    s"""WITH byclass AS (
         SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '$DRIFT_CUT' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '$DRIFT_CUT' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           ${graft.util.Exact.moneySumSql(
             s"CASE WHEN o_orderdate < TIMESTAMP '$DRIFT_CUT' THEN o_totalprice ELSE 0.0 END")} AS price_a,
           ${graft.util.Exact.moneySumSql(
             s"CASE WHEN o_orderdate >= TIMESTAMP '$DRIFT_CUT' THEN o_totalprice ELSE 0.0 END")} AS price_b
         FROM orders GROUP BY o_orderpriority),
       tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS t_a, CAST(sum(n_b) AS BIGINT) AS t_b FROM byclass)
       SELECT o_orderpriority, n_a, n_b, price_a, price_b,
         CAST((n_a * 1000000 - ((n_a * 1000000) % t_a)) / t_a AS BIGINT) AS share_a_ppm,
         CAST((n_b * 1000000 - ((n_b * 1000000) % t_b)) / t_b AS BIGINT) AS share_b_ppm,
         CAST(abs((n_a * 1000000 - ((n_a * 1000000) % t_a)) / t_a
                - (n_b * 1000000 - ((n_b * 1000000) % t_b)) / t_b) AS BIGINT) AS shift_ppm
       FROM byclass CROSS JOIN tot ORDER BY o_orderpriority"""

  /** Right-to-be-forgotten cascade audit — the pre-deletion impact
    * report a GDPR/CCPA erasure run produces: for a deterministic
    * forget set (every 13th event user — standing in for the
    * uploaded deletion batch), the row counts that would be erased
    * from each table in the foreign-key cascade user → customer →
    * orders → lineitem → events. The deletion itself is these four
    * anti-joins materialized; auditing first is how a pipeline
    * reviews blast radius before an irreversible write.
    *
    * Scale shape: the forget set (bounded: a deletion batch) and the
    * affected order keys (bounded: its orders) broadcast into semi
    * joins — each fact table is scanned once, nothing joins
    * fact-to-fact. At a larger deletion batch the broadcasts become
    * shuffle semi-joins; the per-table single-scan shape holds. */
  def forgetAudit(spark: SparkSession, dir: String): DataFrame = {
    val forget = Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .filter(pmod(col("user_id"), lit(13)) === 0)
    val ords = Tables.orders(spark, dir)
      .join(broadcast(forget), col("o_custkey") === col("user_id"), "left_semi")
      .select(col("o_orderkey"))
    def audit(name: String, df: DataFrame, hit: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows")).crossJoin(
        broadcast(hit.agg(count(lit(1)).as("n_forgotten"))))
        .select(lit(name).as("table_name"), col("n_rows"), col("n_forgotten"))
    val cust = Tables.customer(spark, dir)
    val ev = Tables.events(spark, dir)
    val li = Tables.lineitem(spark, dir)
    audit("customer", cust,
        cust.join(broadcast(forget), col("c_custkey") === col("user_id"), "left_semi"))
      .unionAll(audit("events", ev,
        ev.join(broadcast(forget.withColumnRenamed("user_id", "fid")),
          col("user_id") === col("fid"), "left_semi")))
      .unionAll(audit("lineitem", li,
        li.join(ords, col("l_orderkey") === col("o_orderkey"), "left_semi")))
      .unionAll(audit("orders", Tables.orders(spark, dir), ords))
      .orderBy(col("table_name"))
  }

  val forgetAuditSql: String =
    """WITH forget AS (
         SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0),
       ords AS (
         SELECT o_orderkey FROM orders
         WHERE o_custkey IN (SELECT user_id FROM forget))
       SELECT 'customer' AS table_name,
         CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_rows,
         CAST((SELECT count(*) FROM customer
               WHERE c_custkey IN (SELECT user_id FROM forget)) AS BIGINT) AS n_forgotten
       UNION ALL
       SELECT 'events',
         CAST((SELECT count(*) FROM events) AS BIGINT),
         CAST((SELECT count(*) FROM events
               WHERE user_id IN (SELECT user_id FROM forget)) AS BIGINT)
       UNION ALL
       SELECT 'lineitem',
         CAST((SELECT count(*) FROM lineitem) AS BIGINT),
         CAST((SELECT count(*) FROM lineitem
               WHERE l_orderkey IN (SELECT o_orderkey FROM ords)) AS BIGINT)
       UNION ALL
       SELECT 'orders',
         CAST((SELECT count(*) FROM orders) AS BIGINT),
         CAST((SELECT count(*) FROM orders
               WHERE o_custkey IN (SELECT user_id FROM forget)) AS BIGINT)
       ORDER BY table_name"""

  /** Z-ORDER layout audit: interleave the low 16 bits of
    * (l_partkey, l_suppkey) into a Morton code, cut the curve into
    * 256 equal z-ranges, and report each range's row count and
    * min/max span on BOTH dimensions — the locality evidence behind a
    * Delta/Iceberg `ZORDER BY (partkey, suppkey)` rewrite: tight
    * per-range spans on both keys mean file-level min/max stats prune
    * scans for predicates on EITHER column, which is the entire point
    * of z-ordering a 100 TB table. The interleave is the standard
    * bit-spreading chain (shift-or-mask, 4 steps) — pure integer ops,
    * bit-identical in any engine.
    *
    * Scale shape: one narrow projection computes the code (all
    * codegen bitwise ops), then ONE aggregate keyed on the 256
    * z-buckets — map-side combine collapses every partition to
    * ≤256 rows; this audit never sorts the data it would lay out
    * (the actual rewrite would `repartitionByRange(zvalue)`). */
  // spread the low 16 bits of x to even bit positions (Morton half) —
  // shared by zorderLayout and pruningAudit
  private def spread(x0: Column): Column = {
    val m  = x0.bitwiseAND(lit(0xFFFFL))
    val s1 = m.bitwiseOR(shiftleft(m, 8)).bitwiseAND(lit(0x00FF00FFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
  }
  // scale-free: keys normalize to the 16-bit domain against their
  // in-query maxima (1-row broadcast, the no-driver-probe rule), so
  // the z-ranges stay meaningful at any corpus size. floor of a
  // double quotient — products ≤ 65535·key stay exactly
  // representable, and floor-first is the cross-engine convention.
  private def norm16(x: Column, mx: Column): Column =
    floor(x.cast("double") * 65535 / mx).cast("long")
  private def zval(a: Column, maxA: Column, b: Column, maxB: Column): Column =
    spread(norm16(a, maxA)).bitwiseOR(shiftleft(spread(norm16(b, maxB)), 1))

  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
    val mx = li.agg(max(col("l_partkey")).as("maxp"),
      max(col("l_suppkey")).as("maxs"))
    li.crossJoin(broadcast(mx))
      .withColumn("z",
        zval(col("l_partkey"), col("maxp"), col("l_suppkey"), col("maxs")))
      .groupBy(shiftright(col("z"), 25).cast("long").as("z_bucket"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        min(col("l_partkey")).cast("long").as("min_part"),
        max(col("l_partkey")).cast("long").as("max_part"),
        min(col("l_suppkey")).cast("long").as("min_supp"),
        max(col("l_suppkey")).cast("long").as("max_supp"))
      .withColumn("part_span", col("max_part") - col("min_part"))
      .withColumn("supp_span", col("max_supp") - col("min_supp"))
      .orderBy(col("z_bucket"))
  }

  val zorderLayoutSql: String = {
    def spreadSql(x: String): String = {
      val m  = s"($x & 65535)"
      val s1 = s"(($m | ($m << 8)) & 16711935)"
      val s2 = s"(($s1 | ($s1 << 4)) & 252645135)"
      val s3 = s"(($s2 | ($s2 << 2)) & 858993459)"
      s"(($s3 | ($s3 << 1)) & 1431655765)"
    }
    def normSql(x: String, mx: String): String =
      s"CAST(floor(CAST($x AS DOUBLE) * 65535 / $mx) AS BIGINT)"
    s"""WITH mx AS (
         SELECT max(l_partkey) AS maxp, max(l_suppkey) AS maxs FROM lineitem),
       z AS (
         SELECT l_partkey, l_suppkey,
           (${spreadSql(normSql("l_partkey", "maxp"))} |
            (${spreadSql(normSql("l_suppkey", "maxs"))} << 1)) AS zv
         FROM lineitem CROSS JOIN mx),
       g AS (
         SELECT CAST(zv >> 25 AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_partkey) AS BIGINT) AS min_part,
           CAST(max(l_partkey) AS BIGINT) AS max_part,
           CAST(min(l_suppkey) AS BIGINT) AS min_supp,
           CAST(max(l_suppkey) AS BIGINT) AS max_supp
         FROM z GROUP BY 1)
       SELECT z_bucket, n_rows, min_part, max_part, min_supp, max_supp,
         max_part - min_part AS part_span,
         max_supp - min_supp AS supp_span
       FROM g ORDER BY z_bucket"""
  }

  /** Min/max data-skipping audit — the measurement behind the layout
    * decision [[zorderLayout]] demonstrates: for the SAME two point-
    * range predicates (a ~2%-of-domain partkey band and a suppkey
    * band, bounds derived in-query), how many shards — and how many
    * rows — each of three physical layouts lets a min/max-stats scan
    * skip. Layouts: insertion order (shards = orderkey ranges — the
    * do-nothing baseline), single-key sort (partkey ranges — perfect
    * for its own key, useless for the other), and Morton/Z-order
    * (both keys interleaved — the multi-dimensional compromise).
    * A shard is skippable when its [min, max] on the predicate column
    * misses the band — exactly the parquet row-group / Delta file
    * pruning rule. The result is the 3-row table that answers "is
    * Z-ordering this table worth it for this workload".
    *
    * Scale shape: ONE fact scan, one aggregate at the combined
    * (s1,s2,s3) shard grain (≤ 64³ groups, map-side combine) from
    * which all three layouts' per-shard stats refine — the ×3 row
    * generator runs over that aggregate, never over fact rows; knob
    * maxima ride a 1-row broadcast. */
  def pruningAudit(spark: SparkSession, dir: String): DataFrame = {
    // the test parquets are single-split: spread the scan before the
    // ×3 generator + per-row Morton work runs in one task
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .repartition(spark.sparkContext.defaultParallelism)
    val mx = li.agg(max(col("l_orderkey")).as("maxo"),
      max(col("l_partkey")).as("maxp"), max(col("l_suppkey")).as("maxs"))
    // ONE aggregate at the COMBINED (s1,s2,s3) shard grain — the
    // three layouts' per-shard stats all refine from it, so the ×3
    // row generator runs over the ≤ 64³-row (in practice far smaller,
    // keys correlate) aggregate instead of over every fact row. The
    // former fact-grain explode allocated 3 structs per row and
    // hash-aggregated 3·N rows — measured 8.7-11.7 s vs 1.3-2.5 s at
    // sf1 for a bit-identical 192-row result (guide §1.2/§2.3: fix
    // the algorithm's row count before the per-task work).
    // explode_outer, not explode: the plain form makes
    // InferFiltersFromGenerate synthesize a size()>0 filter that
    // re-inlines the whole 3-struct array below the projection
    // (CLAUDE.md trap); the literal array is never empty so the
    // outer variant is behavior-identical.
    val fine = li.crossJoin(broadcast(mx))
      .select(expr("(l_orderkey * 64) div (maxo + 1)").as("s1"),
        expr("(l_partkey * 64) div (maxp + 1)").as("s2"),
        shiftright(zval(col("l_partkey"), col("maxp"),
          col("l_suppkey"), col("maxs")), 26).as("s3"),
        col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .groupBy(col("s1"), col("s2"), col("s3"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("pk")).as("min_pk"), max(col("pk")).as("max_pk"),
        min(col("sk")).as("min_sk"), max(col("sk")).as("max_sk"))
    // fenced (≤ 3·64 rows): consumed by the predicate-band projection
    // AND the knob re-derivation below — without the fence the second
    // consumer's pruned aggregate would re-run the whole pipeline
    val g0 = graft.util.Fence.lineage(
      fine.select(explode_outer(array(
          struct(lit(1).as("lay"), col("s1").as("shard")),
          struct(lit(2).as("lay"), col("s2").as("shard")),
          struct(lit(3).as("lay"), col("s3").as("shard")))).as("r"),
          col("n_rows"), col("min_pk"), col("max_pk"),
          col("min_sk"), col("max_sk"))
        .groupBy(col("r.lay").as("lay"), col("r.shard").as("shard"))
        .agg(sum(col("n_rows")).as("n_rows"),
          min(col("min_pk")).as("min_pk"), max(col("max_pk")).as("max_pk"),
          min(col("min_sk")).as("min_sk"), max(col("max_sk")).as("max_sk")))
    // every fact row lands in each layout's groups, so the global key
    // maxima re-derive from the 192-row aggregate itself — no second
    // scan of the fact table to re-broadcast mx
    val mx2 = g0.agg(max(col("max_pk")).as("maxp"),
      max(col("max_sk")).as("maxs"))
    val g = g0
      .crossJoin(broadcast(mx2))
      .withColumn("layout",
        when(col("lay") === 1, "1_natural")
          .when(col("lay") === 2, "2_by_part").otherwise("3_zorder"))
      // predicate bands: (40%, 42%] of each key domain
      .withColumn("plo", expr("maxp * 40 div 100 + 1"))
      .withColumn("phi", expr("maxp * 42 div 100"))
      .withColumn("slo", expr("maxs * 40 div 100 + 1"))
      .withColumn("shi", expr("maxs * 42 div 100"))
      .withColumn("p_skip", col("max_pk") < col("plo") || col("min_pk") > col("phi"))
      .withColumn("s_skip", col("max_sk") < col("slo") || col("min_sk") > col("shi"))
    g.groupBy(col("layout"))
      .agg(count(lit(1)).cast("long").as("n_shards"),
        sum(col("n_rows")).cast("long").as("total_rows"),
        sum(when(col("p_skip"), 1L).otherwise(0L)).cast("long")
          .as("part_skip_shards"),
        sum(when(col("p_skip"), 0L).otherwise(col("n_rows"))).cast("long")
          .as("part_scan_rows"),
        sum(when(col("s_skip"), 1L).otherwise(0L)).cast("long")
          .as("supp_skip_shards"),
        sum(when(col("s_skip"), 0L).otherwise(col("n_rows"))).cast("long")
          .as("supp_scan_rows"))
      .orderBy(col("layout"))
  }

  val pruningAuditSql: String = {
    def spreadSql(x: String): String = {
      val m  = s"($x & 65535)"
      val s1 = s"(($m | ($m << 8)) & 16711935)"
      val s2 = s"(($s1 | ($s1 << 4)) & 252645135)"
      val s3 = s"(($s2 | ($s2 << 2)) & 858993459)"
      s"(($s3 | ($s3 << 1)) & 1431655765)"
    }
    def normSql(x: String, mx: String): String =
      s"CAST(floor(CAST($x AS DOUBLE) * 65535 / $mx) AS BIGINT)"
    val zv = s"(${spreadSql(normSql("l_partkey", "maxp"))} | " +
      s"(${spreadSql(normSql("l_suppkey", "maxs"))} << 1))"
    s"""WITH mx AS (
         SELECT max(l_orderkey) AS maxo, max(l_partkey) AS maxp,
                max(l_suppkey) AS maxs
         FROM lineitem),
       base AS (
         SELECT l_orderkey, l_partkey AS pk, l_suppkey AS sk,
           maxo, maxp, maxs, $zv AS zv
         FROM lineitem CROSS JOIN mx),
       sh AS (
         SELECT '1_natural' AS layout, (l_orderkey * 64) // (maxo + 1) AS shard,
                pk, sk, maxp, maxs FROM base
         UNION ALL
         SELECT '2_by_part', (pk * 64) // (maxp + 1), pk, sk, maxp, maxs
         FROM base
         UNION ALL
         SELECT '3_zorder', zv >> 26, pk, sk, maxp, maxs FROM base),
       g AS (
         SELECT layout, shard, count(*) AS n_rows,
           min(pk) AS min_pk, max(pk) AS max_pk,
           min(sk) AS min_sk, max(sk) AS max_sk,
           any_value(maxp) AS maxp, any_value(maxs) AS maxs
         FROM sh GROUP BY 1, 2),
       f AS (
         SELECT layout, n_rows,
           (max_pk < maxp * 40 // 100 + 1 OR min_pk > maxp * 42 // 100)
             AS p_skip,
           (max_sk < maxs * 40 // 100 + 1 OR min_sk > maxs * 42 // 100)
             AS s_skip
         FROM g)
       SELECT layout, CAST(count(*) AS BIGINT) AS n_shards,
         CAST(sum(n_rows) AS BIGINT) AS total_rows,
         CAST(sum(CASE WHEN p_skip THEN 1 ELSE 0 END) AS BIGINT)
           AS part_skip_shards,
         CAST(sum(CASE WHEN p_skip THEN 0 ELSE n_rows END) AS BIGINT)
           AS part_scan_rows,
         CAST(sum(CASE WHEN s_skip THEN 1 ELSE 0 END) AS BIGINT)
           AS supp_skip_shards,
         CAST(sum(CASE WHEN s_skip THEN 0 ELSE n_rows END) AS BIGINT)
           AS supp_scan_rows
       FROM f GROUP BY layout ORDER BY layout"""
  }

  /** Shard-rebalance movement audit — the planning number behind
    * growing a 100 TB table's shard count (12 → 16 here): what
    * fraction of rows MOVE under plain mod-hash assignment (nearly
    * everything — `h mod 12` and `h mod 16` agree only by luck)
    * versus rendezvous/HRW hashing (`argmax over shards of
    * hash(key, shard)` — provably only the rows whose argmax lands
    * on one of the 4 NEW shards move, ≈ 25%). Per-row shard hashes
    * come from the portable md5 family ([[graft.util.Hashing]]);
    * the argmax is the struct-max convention (lexicographic on
    * (hash, shard) — identical in both engines). Also emits the
    * post-rebalance HRW load spread (max/min shard load) — the
    * balance check that makes the movement saving trustworthy.
    *
    * Scale shape: assignment is a property of the KEY, so hashing
    * runs on the DISTINCT-key frame (one narrow groupBy carries each
    * key's row weight) — at TPC-H fanout that is 4× less hashing
    * than per-row, and the 16 rendezvous words cost only 8 md5s
    * (low/high 60-bit word split, the phash/phashHi trick). The hash
    * array is hoisted behind a fence so both argmax consumers read
    * ONE materialized column (CollapseProject would otherwise inline
    * the 8-md5 expression per consumer — the Style5 lesson). Then
    * ONE groupBy on the 16-value new-shard key with weighted movement
    * flags partial-aggregated map-side, and a 16-row final fold. */
  def rebalancePlan(spark: SparkSession, dir: String): DataFrame = {
    import graft.util.{Fence, Hashing}
    val keys = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("w"))
    val key = col("l_orderkey").cast("string")
    // the 16 HRW hash words land as NAMED columns behind a fence (an
    // array-of-structs HOF build measured 3× slower — higher-order
    // lambdas stay interpreted, and the argmax consumers would
    // re-inline the build); shard 2p ← hex chars 1-15 of md5(key#p),
    // shard 2p+1 ← chars 17-31 (the native Md5Word words), argmax via
    // codegen'd greatest() over (h, s) structs — struct ordering is
    // lexicographic on both engines
    val withMd5 = keys.select(
      Seq(col("w"), Hashing.phash(key, "rb_").as("h0")) ++
        (0 until 16).map(s => graft.functions.Md5Word(
          concat(key, lit(s"#${s / 2}")), "", hi = s % 2 == 1).as(s"hw$s")): _*)
    val fenced = Fence.barrier(withMd5)
    def shardStruct(s: Int): Column =
      struct(col(s"hw$s").as("h"), lit(s.toLong).as("s"))
    val structs = (0 until 16).map(shardStruct)
    val per = fenced.select(col("w"),
      pmod(col("h0"), lit(12L)).as("mod_old"),
      pmod(col("h0"), lit(16L)).as("mod_new"),
      greatest(structs.take(12): _*).getField("s").as("hrw_old"),
      greatest(structs: _*).getField("s").as("hrw_new"))
    val byShard = per.groupBy(col("hrw_new"))
      .agg(sum(col("w")).as("n"),
        sum(when(col("mod_old") =!= col("mod_new"), col("w")).otherwise(0L))
          .as("mod_mv"),
        sum(when(col("hrw_old") =!= col("hrw_new"), col("w")).otherwise(0L))
          .as("hrw_mv"))
    // left-join against the literal 16-shard list so a shard that
    // received ZERO keys surfaces as load 0 — min-load over only
    // NON-EMPTY shards would let the balance check look healthy
    // while a shard is empty
    val allShards = spark.range(16).toDF("hrw_new")
      .join(byShard, Seq("hrw_new"), "left")
      .na.fill(0L, Seq("n", "mod_mv", "hrw_mv"))
    allShards.agg(
        sum(col("n")).cast("long").as("n_rows"),
        sum(col("mod_mv")).cast("long").as("mod_moved"),
        sum(col("hrw_mv")).cast("long").as("hrw_moved"),
        max(col("n")).cast("long").as("hrw_max_load"),
        min(col("n")).cast("long").as("hrw_min_load"))
      .select(col("n_rows"), col("mod_moved"),
        expr("mod_moved * 1000000 div n_rows").as("mod_moved_ppm"),
        col("hrw_moved"),
        expr("hrw_moved * 1000000 div n_rows").as("hrw_moved_ppm"),
        col("hrw_max_load"), col("hrw_min_load"))
  }

  val rebalancePlanSql: String = {
    def word(p: String, off: Int) =
      s"CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '#' || $p), $off, 15)) AS BIGINT)"
    val h0 = "CAST(('0x' || substr(md5('rb_' || CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)"
    s"""WITH k AS (
         SELECT l_orderkey, count(*) AS w FROM lineitem GROUP BY l_orderkey),
       hashed AS (
         SELECT w, $h0 AS h0,
           flatten(list_transform(generate_series(0, 7), p ->
             [struct_pack(h := ${word("p", 1)}, s := CAST(2 * p AS BIGINT)),
              struct_pack(h := ${word("p", 17)}, s := CAST(2 * p + 1 AS BIGINT))]))
             AS hs
         FROM k),
       per AS (
         SELECT w, h0 % 12 AS mod_old, h0 % 16 AS mod_new,
           struct_extract(list_max(hs[1:12]), 's') AS hrw_old,
           struct_extract(list_max(hs), 's') AS hrw_new
         FROM hashed),
       g AS (
         SELECT hrw_new, sum(w) AS n,
           sum(CASE WHEN mod_old <> mod_new THEN w ELSE 0 END) AS mod_mv,
           sum(CASE WHEN hrw_old <> hrw_new THEN w ELSE 0 END) AS hrw_mv
         FROM per GROUP BY hrw_new),
       g2 AS (
         SELECT t.range AS hrw_new, coalesce(g.n, 0) AS n,
           coalesce(g.mod_mv, 0) AS mod_mv, coalesce(g.hrw_mv, 0) AS hrw_mv
         FROM range(0, 16) t LEFT JOIN g ON g.hrw_new = t.range)
       SELECT CAST(sum(n) AS BIGINT) AS n_rows,
         CAST(sum(mod_mv) AS BIGINT) AS mod_moved,
         CAST(sum(mod_mv) * 1000000 // sum(n) AS BIGINT) AS mod_moved_ppm,
         CAST(sum(hrw_mv) AS BIGINT) AS hrw_moved,
         CAST(sum(hrw_mv) * 1000000 // sum(n) AS BIGINT) AS hrw_moved_ppm,
         CAST(max(n) AS BIGINT) AS hrw_max_load,
         CAST(min(n) AS BIGINT) AS hrw_min_load
       FROM g2"""
  }

  /** Small-file compaction planning — the nightly OPTIMIZE decision
    * table of any lakehouse ingest (Delta/Iceberg bin-packing
    * compaction): per partition (ship month), pack the partition's
    * files into target-size bins with NEXT-FIT-DECREASING and report
    * file count, bin count, the lower bound ⌈total/cap⌉, and the
    * achieved fill rate. Files are synthesized deterministically from
    * lineitem ((l_orderkey % 97) % 64 — 64 files per month in two 2:1
    * size classes, so the packing is non-trivial at every scale); the
    * target bin size is DATA-DERIVED in-plan (4× the global mean file
    * size as a 1-row broadcast — the no-driver-probe convention), so
    * the plan stays meaningful as file sizes grow 100×.
    *
    * Scale shape: one (month, chunk) map-side-combined groupBy, a
    * per-month fold over a ≤64-element array (bounded by
    * CONSTRUCTION, and asserted in-plan via the boundedSeries
    * contract), and a 1-row knob broadcast. The NFD fold is the exact
    * integer recurrence `(bins, fill) -> overflow ? (bins+1, s) :
    * (bins, fill+s)` — pinned fold order on a sorted array, mirrored
    * step-for-step by the oracle's recursive CTE. */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val files = Tables.lineitem(spark, dir)
      .select((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
          .cast("long").as("mon"),
        (pmod(col("l_orderkey"), lit(97)) % 64).as("chunk"))
      .groupBy(col("mon"), col("chunk"))
      .agg(count(lit(1)).as("fsize"))
    // target bin size: 4x the global mean file size, floored at the
    // largest file — so no file is ever oversize for its bin and the
    // ceil(total/cap) lower bound is a true invariant (asserted in
    // ExtSpec) at every scale, including degenerate 1-row files
    val knob = files.agg(sum(col("fsize")).as("t"), count(lit(1)).as("nf"),
        max(col("fsize")).as("mx"))
      .select(greatest(expr("4 * (t div nf)"), col("mx")).cast("long").as("cap"))
    val arr = files.groupBy(col("mon"))
      .agg(count(lit(1)).cast("long").as("n_files"),
        sum(col("fsize")).cast("long").as("total_rows"),
        array_sort(collect_list(
          struct((-col("fsize")).as("nr"), col("chunk").as("c")))).as("fs"))
      .crossJoin(broadcast(knob))
    arr
      .withColumn("fs",
        graft.report.Intervals.boundedSeries(col("fs"), "compaction_plan"))
      .withColumn("acc", aggregate(col("fs"),
        struct(lit(0L).as("bins"), lit(0L).as("fill")),
        (acc, x) => {
          val s = -x.getField("nr")
          val overflow =
            acc.getField("bins") === 0L || (acc.getField("fill") + s) > col("cap")
          struct(
            when(overflow, acc.getField("bins") + 1L)
              .otherwise(acc.getField("bins")).as("bins"),
            when(overflow, s)
              .otherwise(acc.getField("fill") + s).as("fill"))
        }))
      .select(col("mon"), col("n_files"), col("total_rows"), col("cap"),
        col("acc.bins").as("n_bins"),
        expr("(total_rows + cap - 1) div cap").cast("long").as("ideal_bins"),
        expr("total_rows * 1000 div (acc.bins * cap)").cast("long")
          .as("fill_permille"))
      .orderBy(col("mon"))
  }

  val compactionPlanSql: String =
    """WITH RECURSIVE files AS (
         SELECT (year(l_shipdate) * 100 + month(l_shipdate)) AS mon,
           (l_orderkey % 97) % 64 AS chunk, count(*) AS fsize
         FROM lineitem GROUP BY 1, 2),
       knob AS (SELECT greatest(4 * (sum(fsize) // count(*)), max(fsize)) AS cap
                FROM files),
       ix AS (
         SELECT mon, fsize,
           row_number() OVER (PARTITION BY mon ORDER BY fsize DESC, chunk) AS i
         FROM files),
       cnt AS (SELECT mon, count(*) AS n_files, sum(fsize) AS total_rows
               FROM files GROUP BY mon),
       rec AS (
         SELECT mon, 1 AS i, 1 AS bins, fsize AS fill FROM ix WHERE i = 1
         UNION ALL
         SELECT r.mon, r.i + 1,
           CASE WHEN r.fill + x.fsize > k.cap THEN r.bins + 1 ELSE r.bins END,
           CASE WHEN r.fill + x.fsize > k.cap THEN x.fsize
                ELSE r.fill + x.fsize END
         FROM rec r JOIN ix x ON x.mon = r.mon AND x.i = r.i + 1
         CROSS JOIN knob k),
       fin AS (SELECT mon, arg_max(bins, i) AS n_bins FROM rec GROUP BY mon)
       SELECT CAST(c.mon AS BIGINT) AS mon, CAST(c.n_files AS BIGINT) AS n_files,
         CAST(c.total_rows AS BIGINT) AS total_rows, CAST(k.cap AS BIGINT) AS cap,
         CAST(f.n_bins AS BIGINT) AS n_bins,
         CAST((c.total_rows + k.cap - 1) // k.cap AS BIGINT) AS ideal_bins,
         CAST(c.total_rows * 1000 // (f.n_bins * k.cap) AS BIGINT) AS fill_permille
       FROM cnt c JOIN fin f USING (mon) CROSS JOIN knob k
       ORDER BY mon"""

  /** Hot-key skew report — the measurement that decides WHERE the
    * salting patterns ([[graft.report.Incremental.saltedAgg]],
    * `skew_join`) are worth their overhead: the 20 heaviest join/agg
    * keys with each key's corpus share (exact ppm), its load factor
    * versus the uniform ideal (permille of total/n_keys), and the
    * ceil-division salt fan-out that would level it. All-BIGINT
    * arithmetic; the thresholds a planner (or AQE's skew-join rule)
    * would consult, materialized as a report.
    *
    * Scale shape: ONE map-side-combining groupBy on the key, a 1-row
    * total broadcast back (in-plan scalar convention), and a
    * TakeOrdered(20) head — per-key rows never sort globally. */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_events"))
    val tot = counts.agg(sum(col("n_events")).cast("long").as("total"),
      count(lit(1)).cast("long").as("n_keys"))
    counts.crossJoin(broadcast(tot))
      .select(col("user_id"), col("n_events"),
        expr("n_events * 1000000 div total").as("freq_ppm"),
        expr("n_events * n_keys * 1000 div total").as("load_permille"),
        expr("(n_events * n_keys + total - 1) div total").as("salt_parts"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(20)
  }

  val skewReportSql: String =
    """WITH c AS (
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
         FROM events GROUP BY user_id),
       t AS (SELECT CAST(sum(n_events) AS BIGINT) AS total,
                    CAST(count(*) AS BIGINT) AS n_keys FROM c)
       SELECT user_id, n_events,
         CAST(n_events * 1000000 // total AS BIGINT) AS freq_ppm,
         CAST(n_events * n_keys * 1000 // total AS BIGINT) AS load_permille,
         CAST((n_events * n_keys + total - 1) // total AS BIGINT) AS salt_parts
       FROM c, t ORDER BY n_events DESC, user_id LIMIT 20"""

  /** Schema-evolution union — the ingest move every long-lived
    * pipeline needs when an upstream adds a column mid-stream:
    * `unionByName(allowMissingColumns = true)` aligns a legacy batch
    * (no user_id yet) with the evolved batch by NAME, null-filling
    * the missing column — position-based unionAll would silently
    * misalign. The oracle is DuckDB's `UNION ALL BY NAME`. The
    * report certifies the alignment: per event type, total rows,
    * rows carrying the evolved column, and the exact money sum that
    * would be corrupted by a positional mismatch.
    *
    * Scale shape: a union is free (no shuffle — partitions
    * concatenate); the only exchange is the final small groupBy. */
  def schemaDriftUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val legacy = ev.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("event_type"), col("value"))
    val evolved = ev.filter(col("event_id") % 2 =!= 0)
      .select(col("event_id"), col("event_type"), col("value"), col("user_id"))
    legacy.unionByName(evolved, allowMissingColumns = true)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        count(col("user_id")).cast("long").as("n_with_user"),
        graft.util.Exact.moneySum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val schemaDriftUnionSql: String =
    s"""WITH u AS (
         (SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0)
         UNION ALL BY NAME
         (SELECT event_id, event_type, value, user_id FROM events
          WHERE event_id % 2 <> 0))
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(user_id) AS BIGINT) AS n_with_user,
         ${graft.util.Exact.moneySumSql("value")} AS sum_value
       FROM u GROUP BY event_type ORDER BY event_type"""

  /** Benford first-digit audit — the fraud/synthetic-data screen over
    * a money column: the observed first-significant-digit
    * distribution per event type against Benford's log10(1+1/d)
    * expectation. The expectation enters as nine INTEGER ppm literals
    * (no libm log in-plan, per the no-transcendentals rule); values
    * reduce to exact cents first so the leading digit is
    * string-exact on both engines.
    *
    * Scale shape: one narrow digit map, one (type, digit) groupBy,
    * one per-type total window over the ≤ 9-row-per-type frame. */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val expected = typedLit(Map(
      1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
      6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L))
    val wt = Window.partitionBy(col("event_type"))
    Tables.events(spark, dir)
      .select(col("event_type"), graft.util.Exact.cents(col("value")).as("cents"))
      .filter(col("cents") > 0)
      .select(col("event_type"),
        substring(col("cents").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("event_type"), col("digit"))
      .agg(count(lit(1)).cast("long").as("n"))
      .withColumn("share_ppm",
        expr("n * 1000000 div sum(n) OVER (PARTITION BY event_type)"))
      .withColumn("expected_ppm", element_at(expected, col("digit")))
      .withColumn("dev_ppm", col("share_ppm") - col("expected_ppm"))
      .select(col("event_type"), col("digit"), col("n"), col("share_ppm"),
        col("expected_ppm"), col("dev_ppm"))
      .orderBy(col("event_type"), col("digit"))
  }

  val benfordAuditSql: String =
    """WITH d AS (
         SELECT event_type,
           CAST(left(CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS VARCHAR), 1)
             AS INTEGER) AS digit
         FROM events WHERE floor(value * 100 + 0.5) > 0),
       g AS (
         SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
         FROM d GROUP BY event_type, digit),
       s AS (
         SELECT event_type, digit, n,
           CAST(n * 1000000 // sum(n) OVER (PARTITION BY event_type) AS BIGINT)
             AS share_ppm
         FROM g),
       e AS (
         SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
           (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
           (9, 45757)) v(digit, expected_ppm))
       SELECT s.event_type, s.digit, s.n, s.share_ppm,
         CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
         CAST(s.share_ppm - e.expected_ppm AS BIGINT) AS dev_ppm
       FROM s JOIN e USING (digit)
       ORDER BY s.event_type, s.digit"""

  /** Order-total consistency audit — the cross-table monetary
    * reconciliation every finance-adjacent pipeline runs: per order
    * status, does `o_totalprice` equal the sum of its line items'
    * extended prices? Both sides reduce to exact integer CENTS
    * before comparing (the [[graft.util.Exact]] rule), so "exact
    * match" is a bit-decidable predicate, not a double tolerance.
    * Orders with no line items are counted separately — an outer
    * join, not a silent drop.
    *
    * Scale shape: one orderkey-keyed partial-sum over lineitem, one
    * shuffled LEFT join against orders, one small-status groupBy. */
  def orderTotalAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), graft.util.Exact.cents(col("l_extendedprice")).as("cents"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("cents")).cast("long").as("li_cents"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        graft.util.Exact.cents(col("o_totalprice")).as("o_cents"))
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("diff",
        when(col("li_cents").isNull, lit(null).cast("long"))
          .otherwise(abs(col("o_cents") - col("li_cents"))))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        sum(when(col("li_cents").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_no_lines"),
        sum(when(col("diff") === 0L, 1L).otherwise(0L)).cast("long")
          .as("n_exact"),
        max(col("diff")).cast("long").as("max_abs_diff_cents"),
        sum(col("diff")).cast("long").as("sum_abs_diff_cents"))
      .orderBy(col("o_orderstatus"))
  }

  val orderTotalAuditSql: String =
    """WITH li AS (
         SELECT l_orderkey,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS li_cents
         FROM lineitem GROUP BY l_orderkey),
       j AS (
         SELECT o.o_orderstatus,
           CASE WHEN li.li_cents IS NULL THEN NULL
                ELSE abs(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                         - li.li_cents) END AS diff,
           li.li_cents
         FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey)
       SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CASE WHEN li_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_no_lines,
         CAST(sum(CASE WHEN diff = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
         CAST(max(diff) AS BIGINT) AS max_abs_diff_cents,
         CAST(sum(diff) AS BIGINT) AS sum_abs_diff_cents
       FROM j GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Group-wise MODE profile — the most-frequent-value summary
    * [[columnProfile]] deliberately omits (mode needs a second
    * frequency aggregate, not a single pass): per source, the modal
    * document token-length and the modal language, each via the
    * cross-engine struct-max argmax over (count, value) — which
    * partial-aggregates map-side, where the textbook rank-1 window
    * would ship every (source, value) frequency row to one partition.
    * Ties break to the LARGER value lexicographically/numerically
    * (struct ordering), identically on both engines.
    *
    * Scale shape: two (source, value) frequency groupBys (the value
    * domains are bounded: distinct lengths, distinct langs) + two
    * struct-max argmaxes on the frequency frames, joined on the
    * ≤|sources| key. */
  def modeProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(graft.ext.TextAnalysis.toks(col("text"))).cast("long").as("n_tok"))
    val lenMode = d.groupBy(col("source"), col("n_tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(max(struct(col("c"), col("n_tok"))).as("m"))
      .select(col("source"), col("m.n_tok").as("mode_len"),
        col("m.c").cast("long").as("mode_len_freq"))
    val langMode = d.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(max(struct(col("c"), col("lang"))).as("m"))
      .select(col("source"), col("m.lang").as("mode_lang"),
        col("m.c").cast("long").as("mode_lang_freq"))
    lenMode.join(langMode, Seq("source"))
      .select(col("source"), col("mode_len"), col("mode_len_freq"),
        col("mode_lang"), col("mode_lang_freq"))
      .orderBy(col("source"))
  }

  val modeProfileSql: String =
    s"""WITH d AS (
         SELECT source, lang,
           CAST(len(${graft.ext.TextAnalysis.toksSql("text")}) AS BIGINT) AS n_tok
         FROM documents),
       lm AS (
         SELECT source,
           (max(struct_pack(c := c, n_tok := n_tok))).n_tok AS mode_len,
           CAST((max(struct_pack(c := c, n_tok := n_tok))).c AS BIGINT)
             AS mode_len_freq
         FROM (SELECT source, n_tok, count(*) AS c FROM d
               GROUP BY source, n_tok)
         GROUP BY source),
       gm AS (
         SELECT source,
           (max(struct_pack(c := c, lang := lang))).lang AS mode_lang,
           CAST((max(struct_pack(c := c, lang := lang))).c AS BIGINT)
             AS mode_lang_freq
         FROM (SELECT source, lang, count(*) AS c FROM d
               GROUP BY source, lang)
         GROUP BY source)
       SELECT lm.source, lm.mode_len, lm.mode_len_freq,
         gm.mode_lang, gm.mode_lang_freq
       FROM lm JOIN gm USING (source) ORDER BY lm.source"""

  /** l-diversity audit — k-anonymity's necessary companion (Machana-
    * vajjhala et al., ICDE'06): a class of 50 identical quasi-
    * identifiers is still a leak if all 50 share one sensitive value.
    * Same equivalence classes as [[kAnonymity]] ((mktsegment,
    * nationkey)), sensitive attribute = the account-balance band;
    * per distinct-sensitive-count l: how many classes, how many
    * customers sit in them, and whether that l is below the
    * l >= 3 floor — the histogram a release decision reads next to
    * the k one.
    *
    * Scale shape: one (class, band) groupBy collapses rows, the
    * per-class distinct count is a second small groupBy over ≤
    * classes × bands rows — no count-distinct over raw rows — and
    * the final histogram keys on l. */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val banded = Tables.customer(spark, dir)
      .select(col("c_mktsegment"), col("c_nationkey"),
        when(col("c_acctbal") < 0.0, "debt")
          .when(col("c_acctbal") < 5000.0, "mid")
          .otherwise("high").as("band"))
      .groupBy(col("c_mktsegment"), col("c_nationkey"), col("band"))
      .agg(count(lit(1)).as("n"))
    banded.groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("l"), sum(col("n")).as("class_size"))
      .groupBy(col("l"))
      .agg(count(lit(1)).cast("long").as("n_classes"),
        sum(col("class_size")).cast("long").as("n_customers"),
        max(when(col("l") < 3L, 1L).otherwise(0L)).as("below_l"))
      .select(col("l").cast("long").as("l"), col("n_classes"),
        col("n_customers"), col("below_l"))
      .orderBy(col("l"))
  }

  val lDiversitySql: String =
    """WITH banded AS (
         SELECT c_mktsegment, c_nationkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS band,
           count(*) AS n
         FROM customer GROUP BY 1, 2, 3),
       cls AS (
         SELECT c_mktsegment, c_nationkey,
           CAST(count(*) AS BIGINT) AS l,
           CAST(sum(n) AS BIGINT) AS class_size
         FROM banded GROUP BY 1, 2)
       SELECT l, CAST(count(*) AS BIGINT) AS n_classes,
         CAST(sum(class_size) AS BIGINT) AS n_customers,
         CAST(max(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS below_l
       FROM cls GROUP BY l ORDER BY l"""

  /** Snapshot diff — the table-version reconciliation every data-lake
    * pipeline runs after a load: classify each key as added / removed
    * / changed / unchanged between two versions and quantify the
    * changed value drift. Two versions are simulated deterministically
    * from `orders`: version A drops keys ≡0 (mod 101) ("rows created
    * after A"), version B drops keys ≡0 (mod 97) ("rows deleted since
    * A") and bumps the cents of keys ≡0 (mod 89) by 500 ("updates").
    *
    * The row comparison is a single 60-bit content hash over the
    * non-key payload ([[graft.util.Hashing.phash]] of a '|'-joined
    * rendering with the timestamp as epoch seconds — integers and
    * strings render identically in both engines), NOT a column-wise
    * equality chain: at real table widths the hash is computed
    * map-side from the scan and the join carries (key, hash, cents)
    * only, never the full payload.
    *
    * Scale shape: one equi-join shuffle on the key (full outer), both
    * sides pre-projected to 3 columns; the classification collapses to
    * a 4-row aggregate with map-side partials. At warehouse scale both
    * versions would be bucketed/partitioned on the key so the join is
    * storage-co-located (no shuffle at all) — the plan here is the
    * shuffle-join equivalent. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import graft.util.{Exact, Hashing}
    val base = Tables.orders(spark, dir).select(
      col("o_orderkey").as("k"), col("o_custkey"), col("o_orderstatus"),
      Exact.cents(col("o_totalprice")).as("cents"),
      unix_timestamp(col("o_orderdate")).cast("long").as("od"),
      col("o_orderpriority"))
    def rowHash(cents: Column): Column = Hashing.phash(concat_ws("|",
      col("o_custkey"), col("o_orderstatus"), cents, col("od"),
      col("o_orderpriority")))
    val va = base.filter(col("k") % 101 =!= 0)
      .select(col("k"), rowHash(col("cents")).as("h"), col("cents"))
    val bCents = col("cents") + when(col("k") % 89 === 0, 500L).otherwise(0L)
    val vb = base.filter(col("k") % 97 =!= 0)
      .select(col("k"), rowHash(bCents).as("h"), bCents.as("cents"))
    va.as("a").join(vb.as("b"), col("a.k") === col("b.k"), "full_outer")
      .select(
        when(col("a.k").isNull, "added")
          .when(col("b.k").isNull, "removed")
          .when(col("a.h") =!= col("b.h"), "changed")
          .otherwise("unchanged").as("change_type"),
        when(col("a.k").isNotNull && col("b.k").isNotNull &&
             col("a.h") =!= col("b.h"),
          abs(col("b.cents") - col("a.cents"))).otherwise(0L).as("delta"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("delta")).cast("long").as("sum_abs_cents_delta"))
      .orderBy(col("change_type"))
  }

  val snapshotDiffSql: String = {
    import graft.util.Hashing
    val h = Hashing.phashSql(
      "concat_ws('|', o_custkey, o_orderstatus, cents, od, o_orderpriority)")
    """WITH base AS (
         SELECT o_orderkey AS k, o_custkey, o_orderstatus,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) AS od,
           o_orderpriority
         FROM orders),
       va AS (
         SELECT k, HASH_A AS h, cents FROM base WHERE k % 101 <> 0),
       vbsrc AS (
         SELECT k, o_custkey, o_orderstatus, od, o_orderpriority,
           cents + CASE WHEN k % 89 = 0 THEN 500 ELSE 0 END AS cents
         FROM base WHERE k % 97 <> 0),
       vb AS (
         SELECT k, HASH_A AS h, cents FROM vbsrc),
       j AS (
         SELECT CASE WHEN a.k IS NULL THEN 'added'
                     WHEN b.k IS NULL THEN 'removed'
                     WHEN a.h <> b.h THEN 'changed'
                     ELSE 'unchanged' END AS change_type,
           CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL AND a.h <> b.h
                THEN abs(b.cents - a.cents) ELSE 0 END AS delta
         FROM va a FULL OUTER JOIN vb b ON a.k = b.k)
       SELECT change_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(delta) AS BIGINT) AS sum_abs_cents_delta
       FROM j GROUP BY change_type ORDER BY change_type"""
      .replace("HASH_A", h)
  }

  private val DAY_US = 86400000000L

  /** Data-freshness audit — the staleness distribution every
    * incremental pipeline reports per feed: how old is each event
    * relative to the load watermark (the corpus' max event time,
    * derived in-query as a 1-row broadcast — no driver probe)?
    * One row per (event_type, staleness_days) with the share in
    * exact ppm, so an SLA check is a filter on this table ("99% of
    * type X within 2 days") and a feed that silently stopped shows
    * up as missing low-staleness buckets, not as an empty diff.
    * All arithmetic is integer microseconds: the day bucket is a
    * non-negative floor division and the ppm share an exact integer
    * division, bit-identical in both engines.
    *
    * Scale shape: one 1-row max broadcast, one groupBy on the tiny
    * (type × ~days) key space — map-side combined, the shuffle is
    * ≤ |types|·|days| rows regardless of N — and one |types|-row
    * totals join. */
  def freshnessAudit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
    val load = ev.agg(max(col("us")).as("load_us"))
    val g = ev.crossJoin(broadcast(load))
      .select(col("event_type"),
        expr(s"(load_us - us) div $DAY_US").cast("long").as("staleness_days"))
      .groupBy(col("event_type"), col("staleness_days"))
      .agg(count(lit(1)).cast("long").as("n_events"))
    val tot = g.groupBy(col("event_type"))
      .agg(sum(col("n_events")).as("tot"))
    g.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("staleness_days"), col("n_events"),
        expr("n_events * 1000000 div tot").cast("long").as("pct_ppm"))
      .orderBy(col("event_type"), col("staleness_days"))
  }

  val freshnessAuditSql: String =
    s"""WITH ev AS (
         SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
       mx AS (SELECT max(us) AS load_us FROM ev),
       g AS (
         SELECT event_type, (mx.load_us - us) // $DAY_US AS staleness_days,
           CAST(count(*) AS BIGINT) AS n_events
         FROM ev CROSS JOIN mx GROUP BY 1, 2),
       t AS (
         SELECT event_type, CAST(sum(n_events) AS BIGINT) AS tot
         FROM g GROUP BY 1)
       SELECT g.event_type, CAST(g.staleness_days AS BIGINT) AS staleness_days,
         g.n_events,
         CAST(g.n_events * 1000000 // t.tot AS BIGINT) AS pct_ppm
       FROM g JOIN t USING (event_type)
       ORDER BY event_type, staleness_days"""
}
