package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** query_floor: one client in a closed loop over a fixed
  * set of `SparkEntry.queries`, each pass in a fresh seeded order.
  *
  * A request is the query's `(spark, dir) => DataFrame` call (build,
  * including any eager side jobs) followed by a write to the `noop`
  * sink (exec), the way graft.Bench times it. Preparation dumps every
  * query's result to parquet plus `oracle_sql.json` (graft.Verify's
  * layout) so the caller can compare it with the DuckDB twin; the
  * dump doubles as the warm-up pass. */
final class QueryMix(ctx: Ctx, dir: String, names: Seq[String]) extends Workload {
  private val spark = ctx.spark
  private val dump = s"${ctx.work}/dump"

  def prepare(): Unit = {
    names.foreach { n =>
      ctx.attempted += 1
      try SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(s"$dump/$n")
      catch {
        case e: Throwable =>
          ctx.failed += 1
          ctx.notes += s"dump $n threw: ${e.getMessage}".take(500)
      }
    }
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"), Json(oracle))
  }


  def pass(i: Int): Pass = {
    val order = new scala.util.Random(ctx.seed * 7919 + i).shuffle(names)
    val lat = order.map { n =>
      val (df, b) = ctx.timed(s"query:$n:build")(SparkEntry.queries(n)(spark, dir))
      val (_, x) = ctx.timed(s"query:$n:exec") {
        df.write.format("noop").mode("overwrite").save()
      }
      ctx.addLayer("query.build_s", b)
      ctx.addLayer("query.exec_s", x)
      ctx.addLayer("query.requests", 1)
      ctx.sample("query.build_s", b)
      ctx.sample("query.exec_s", x)
      ctx.sample(s"query.$n.build_s", b)
      ctx.sample(s"query.$n.exec_s", x)
      b + x
    }
    Pass(lat, lat.sum)
  }

  override def extra: Map[String, Any] = Map("dump_dir" -> dump)
}

object QueryMix {
  /** Distinct small plans: pull_report's family, TPC-H-shaped joins and
    * aggregates, and event analytics. One pass compiles more classes
    * (~130) than Spark's 100-entry codegen cache holds, so each pass
    * recompiles them. */
  val floorPool: Seq[String] = Seq(
    "report_metrics", "report_chain", "customer_report", "q5_local_supplier",
    "q9_product_profit", "q21_waiting_suppliers", "event_funnel", "cohort_ltv")
}
