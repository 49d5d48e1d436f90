package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior guards for the two fences: the zero-cost optimizer
  * barrier (graft.plans.OptimizationFence / Fence.barrier) and the
  * materializing lineage cut (Fence.lineage). */
class FenceSpec extends AnyFunSuite {
  import TestSpark._

  test("barrier is transparent to results") {
    val base = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val fenced = graft.util.Fence.barrier(base)
      .filter(col("h").substr(1, 1) === "a")
      .agg(count(lit(1))).head().getLong(0)
    val plain = base
      .filter(col("h").substr(1, 1) === "a")
      .agg(count(lit(1))).head().getLong(0)
    assert(fenced == plain && plain > 0)
  }

  test("barrier blocks predicate pushdown to the scan") {
    val base = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val fenced = graft.util.Fence.barrier(base).filter(col("doc_id") > 10)
    val p = fenced.queryExecution.executedPlan.toString
    assert(p.contains("OptimizationFence"), "fence node missing from plan")
    // the doc_id filter must bind ABOVE the fence, not reach the scan
    assert(!p.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,10)]"),
      "filter crossed the barrier onto the parquet scan")
    val unfenced = base.filter(col("doc_id") > 10)
      .queryExecution.executedPlan.toString
    assert(unfenced.contains("GreaterThan(doc_id,10)"),
      "control: without the fence the filter should push to the scan")
  }

  test("barrier preserves partitioning — no extra exchange") {
    val base = graft.model.Tables.documents(spark, sf)
      .repartition(col("source"))
    val fenced = graft.util.Fence.barrier(base)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val p = fenced.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size == 1,
      s"expected exactly the repartition exchange, got:\n$p")
    assert(fenced.count() > 0)
  }

  test("barrier materializes nothing — plan has no checkpoint scan") {
    val base = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val p = graft.util.Fence.barrier(base).filter(col("doc_id") > 10)
      .queryExecution.executedPlan.toString
    assert(!p.contains("ExistingRDD") && !p.contains("Scan ExistingRDD"),
      "barrier must not truncate lineage into an RDD scan")
  }

  test("lineage is transparent to results") {
    val base = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("h"))
    def firstA(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("h").substr(1, 1) === "a").collect().map(_.toString).sorted.toSeq
    val plain = firstA(base)
    assert(plain.nonEmpty)
    assert(firstA(graft.util.Fence.lineage(base)) == plain)
  }

  test("lineage cuts the plan: the frame above it scans the checkpointed RDD") {
    val base = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val p = graft.util.Fence.lineage(base).filter(col("doc_id") > 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("Scan ExistingRDD"), s"no checkpoint scan in:\n$p")
    assert(!p.contains("FileScan"), s"the parquet scan is above the cut:\n$p")
  }

  test("lineage blocks a filter on a fenced projected column from the scan") {
    val base = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id").as("id"), md5(col("text")).as("h"))
    val pushed = "PushedFilters: \\[[^\\]]*GreaterThan\\(doc_id,10\\)".r
    val unfenced = base.filter(col("id") > 10).queryExecution.executedPlan.toString
    val fenced = graft.util.Fence.lineage(base).filter(col("id") > 10)
      .queryExecution.executedPlan.toString
    assert(pushed.findFirstIn(fenced).isEmpty,
      s"filter crossed the lineage cut onto the parquet scan:\n$fenced")
    assert("Filter .*id#\\d+L? > 10".r.findFirstIn(fenced).isDefined,
      s"filter must bind to the fenced attribute:\n$fenced")
    assert(pushed.findFirstIn(unfenced).isDefined,
      s"control: without the fence the filter should push to the scan:\n$unfenced")
  }
}
