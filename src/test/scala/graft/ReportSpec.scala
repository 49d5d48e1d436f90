package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
  /** The sf0.01 fixtures beside [[sf]], the scale the oracle check runs at. */
  val sf01: String = sf.replace("sf0.001", "sf0.01")
}

class ReportSpec extends AnyFunSuite {
  import TestSpark._

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("report_metrics respects filters and has 4 metrics") {
    val df = SparkEntry.queries("report_metrics")(spark, sf)
    assert(df.columns.toSeq ==
      Seq("asset_id", "play_count", "clip_length", "avg_view", "longest_view"))
    val row = df.head()
    assert(row.getLong(1) > 0)                 // play_count
    assert(row.getDouble(4) <= row.getDouble(2)) // longest_view <= clip_length (F6)
  }

  test("topk_assets returns exactly 10 ordered rows") {
    val rows = SparkEntry.queries("topk_assets")(spark, sf).collect()
    assert(rows.length == 10)
    val revs = rows.map(_.getDouble(2))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
  }

  test("watermark_incremental only counts rows after the watermark") {
    val df = SparkEntry.queries("watermark_incremental")(spark, sf)
    // sf0.001 has 1000 events; ~half are "already loaded" → new < total
    val newRows = df.agg(org.apache.spark.sql.functions.sum("n_new")).head().getLong(0)
    assert(newRows > 0 && newRows < 1000)
  }

  test("every query name has either an oracle or is documented rows-only") {
    // every query has a DuckDB twin, so the key sets are equal
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("as-of join is bucket-width invariant") {
    // W only trades carry-table size against per-cell array length;
    // the rate-in-force answer must not depend on it. Exercises the
    // carry clamp (coarse W → few buckets, most events hit the carry
    // path) and the in-cell scan (fine W) against each other.
    import graft.report.AsOf
    val base = AsOf.asofJoinRatesW(spark, sf, 3600L).collect().map(_.toSeq).toSeq
    for (w <- Seq(60L, 86400L, 7L * 86400L)) {
      val alt = AsOf.asofJoinRatesW(spark, sf, w).collect().map(_.toSeq).toSeq
      assert(alt == base, s"asof result changed at bucket width $w")
    }
  }

  test("as-of nearest is bucket-width invariant and never farther than backward") {
    import graft.report.AsOf
    import org.apache.spark.sql.functions._
    val base = AsOf.asofNearestW(spark, sf, 3600L).collect().map(_.toSeq).toSeq
    for (w <- Seq(60L, 86400L, 7L * 86400L)) {
      val alt = AsOf.asofNearestW(spark, sf, w).collect().map(_.toSeq).toSeq
      assert(alt == base, s"asof_nearest result changed at bucket width $w")
    }
    // nearest must cover at least every event backward covers (a
    // backward candidate is always a nearest candidate), and the
    // naive per-event check: nearest |dt| <= backward dt everywhere
    val b = SparkEntry.queries("asof_join_rates")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    SparkEntry.queries("asof_nearest")(spark, sf).collect().foreach { r =>
      assert(r.getLong(2) >= b(r.getString(0)),
        s"${r.getString(0)}: nearest covers fewer events than backward")
    }
  }

  test("mad_outliers matches a naive median/MAD computation per type") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("mad_outliers")(spark, sf).collect()
    val raw = graft.model.Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def lowerMedian(xs: Array[Long]): Long = xs((xs.length - 1) / 2)
    assert(rows.map(_.getString(0)).toSet == raw.keySet)
    rows.foreach { r =>
      val xs = raw(r.getString(0))
      val med = lowerMedian(xs)
      val mad = lowerMedian(xs.map(x => math.abs(x - med)).sorted)
      assert(r.getLong(1) == xs.length)
      assert(r.getLong(2) == med, s"${r.getString(0)}: median mismatch")
      assert(r.getLong(3) == mad, s"${r.getString(0)}: MAD mismatch")
      assert(r.getLong(4) == xs.count(x => math.abs(x - med) > 3 * mad),
        s"${r.getString(0)}: outlier count mismatch")
    }
  }

  test("resample_hourly fills every hour, conserves events, carries readings") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("resample_hourly")(spark, sf).collect()
    val byType = rows.groupBy(_.getString(0))
    val totals = graft.model.Tables.events(spark, sf)
      .groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byType.foreach { case (t, rs) =>
      // contiguous hour grid
      val hrs = rs.map(_.getLong(1)).sorted
      assert(hrs.zip(hrs.tail).forall { case (a, b) => b - a == 3600L },
        s"$t: hour grid has holes or duplicates")
      // every event lands in exactly one hour row
      assert(rs.map(_.getLong(2)).sum == totals(t), s"$t: event count not conserved")
      var lastSeen: Option[Long] = None
      rs.sortBy(_.getLong(1)).foreach { r =>
        val (n, carried, gap) = (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4))
        assert((n == 0L) == (gap == 1L), s"$t: gap flag disagrees with count")
        if (n == 0L) assert(carried == lastSeen, s"$t: gap hour lost the carried reading")
        else { assert(carried.isDefined); lastSeen = carried }
      }
    }
  }

  test("interval_join matches the naive theta-join on window count and membership") {
    import org.apache.spark.sql.functions._
    val bucketed = SparkEntry.queries("interval_join")(spark, sf)
    // independent naive computation (theta join — fine at sf0.001):
    // every window must report exactly the events a direct range
    // predicate finds, proving the bucket decomposition loses/dups none
    val ev = graft.model.Tables.events(spark, sf)
    val wins = ev.filter(col("event_id") % 199 === 0)
      .select(col("event_id").as("window_id"), col("event_type").as("w_type"),
        col("ts").as("w_start"))
    val naive = ev.join(wins, ev("event_type") === wins("w_type") &&
        ev("ts") >= wins("w_start") &&
        ev("ts") <= wins("w_start") + expr("INTERVAL 7200 SECONDS"))
      .groupBy(col("window_id")).agg(count(lit(1)).as("n_naive"))
    val joined = bucketed.join(naive, Seq("window_id"), "full")
    assert(joined.filter(col("n_events").isNull || col("n_naive").isNull ||
      col("n_events") =!= col("n_naive")).count() == 0,
      "bucketed interval join disagrees with the naive range predicate")
    // each window contains at least its own opening event
    assert(bucketed.filter(col("n_events") < 1).count() == 0)
  }

  test("rolling_window trailing counts include the current row and only look back") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("rolling_window")(spark, sf)
    assert(df.filter(col("trailing_cnt") < 1).count() == 0)
    // a user's max trailing_cnt can never exceed their total events
    val totals = graft.model.Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("total"))
    val bad = df.groupBy(col("user_id")).agg(max(col("trailing_cnt")).as("mx"))
      .join(totals, Seq("user_id"))
      .filter(col("mx") > col("total"))
    assert(bad.count() == 0)
  }

  test("sequence_events path arity equals the group count and respects ts order") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("sequence_events")(spark, sf)
    // path has exactly n_events segments
    val bad = df.filter(size(split(col("path"), ">")) =!= col("n_events"))
    assert(bad.count() == 0, "path segment count disagrees with n_events")
    // spot-check one multi-event group against an independent sort
    val g = df.filter(col("n_events") >= 3).orderBy(col("user_id"), col("day")).head()
    val (uid, day) = (g.getLong(0), g.getDate(1))
    val expected = graft.model.Tables.events(spark, sf)
      .filter(col("user_id") === uid && to_date(col("ts")) === lit(day))
      .orderBy(col("ts"), col("event_id"))
      .select(col("event_type")).collect().map(_.getString(0)).mkString(">")
    assert(g.getString(3) == expected)
  }

  test("q14 promo revenue is a sub-share of total with a consistent pct") {
    val r = SparkEntry.queries("q14_promo_revenue")(spark, sf).head()
    val (promo, total, pct) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    assert(promo >= 0 && promo <= total)
    assert(pct == math.floor(promo * 100 / total * 100 + 0.5) / 100)
  }

  test("purchase_attribution accounts for every purchase exactly once") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("purchase_attribution")(spark, sf)
    val attributed = df.agg(sum("n_purchases")).head().getLong(0)
    val purchases = graft.model.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(attributed == purchases,
      s"attributed $attributed of $purchases purchases")
  }

  test("retention_cohorts offset-0 cells are full and later cells never exceed them") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("retention_cohorts")(spark, sf)
    // every cohort's week-0 row exists with n_active == cohort_size
    val wk0 = df.filter(col("week_offset") === 0)
    assert(wk0.count() > 0)
    assert(wk0.filter(col("n_active") =!= col("cohort_size")).count() == 0,
      "a user's first-activity week must count them active")
    assert(df.filter(col("n_active") > col("cohort_size")).count() == 0)
    assert(df.filter(col("retained_ppm") > 1000000L).count() == 0)
    // total cohort membership equals the distinct user universe
    val users = graft.model.Tables.events(spark, sf)
      .select(col("user_id")).distinct().count()
    assert(wk0.agg(sum(col("cohort_size"))).head().getLong(0) == users)
  }

  test("q7 keeps both trade directions and only the two target nations") {
    import org.apache.spark.sql.functions._
    // sf0.001 has no NATION_1↔NATION_2 trade in the ship window; use sf0.01
    val rows = SparkEntry.queries("q7_volume_shipping")(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    val dirs = rows.map(r => (r.getString(0), r.getString(1))).toSet
    assert(dirs.subsetOf(Set(("NATION_1", "NATION_2"), ("NATION_2", "NATION_1"))))
    assert(dirs.map(_.swap) == dirs, "a direction is missing its mirror")
    assert(rows.forall(r => r.getLong(2) == 1996L || r.getLong(2) == 1997L))
    assert(rows.forall(_.getDouble(3) > 0))
  }

  test("q8 market share is the nation/total quotient and stays in [0,1]") {
    val rows = SparkEntry.queries("q8_market_share")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nat, tot, share) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(nat >= 0 && nat <= tot)
      assert(share >= 0 && share <= 1)
      assert(math.abs(share - math.floor(nat / tot * 10000 + 0.5) / 10000) < 1e-12)
    }
  }

  test("q22 idle customers truly have no trailing-year orders and beat the avg") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("q22_idle_customers")(spark, d)
    assert(out.count() > 0)
    // recompute the threshold and the idle set naively
    val cust = graft.model.Tables.customer(spark, d)
      .filter(col("c_nationkey").isin(1L, 2L, 3L))
    val avg = cust.filter(col("c_acctbal") > 0)
      .agg(avg_("c_acctbal")).head().getDouble(0)
    val recent = graft.model.Tables.orders(spark, d)
      .filter(col("o_orderdate") >= to_timestamp(lit("2000-08-01")))
      .select(col("o_custkey")).distinct()
      .collect().map(_.getLong(0)).toSet
    // (plain double avg vs the operator's decimal-derived avg: 2-dp
    // balances sit far from the last-ULP boundary, so > agrees)
    val naiveCount = cust.select(col("c_custkey"), col("c_acctbal")).collect()
      .count(r => r.getDouble(1) > avg && !recent.contains(r.getLong(0)))
    assert(out.agg(sum(col("numcust"))).head().getLong(0) == naiveCount)
  }

  private def avg_(c: String) = org.apache.spark.sql.functions.avg(c)

  test("value_deciles partitions each segment into 10 ordered non-overlapping bands") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("value_deciles")(spark, sf).collect()
    val bySeg = rows.groupBy(_.getString(0))
    val custTotal = graft.model.Tables.customer(spark, sf).count()
    assert(rows.map(_.getLong(2)).sum == custTotal)
    bySeg.foreach { case (seg, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length))
      // deciles are balanced within 1 (ntile's defining property)
      val ns = sorted.map(_.getLong(2))
      assert(ns.max - ns.min <= 1, s"$seg unbalanced: ${ns.toSeq}")
      // bands are ordered: each decile's hi <= next decile's... lo can tie
      sorted.sliding(2).foreach { p =>
        if (p.length == 2)
          assert(p(0).getDouble(4) <= p(1).getDouble(3) + 0.01, s"$seg bands overlap")
      }
    }
  }
}
