package graft.util

import org.apache.spark.sql.DataFrame

/** Lineage fence for expensive in-plan intermediates.
  *
  * Why it exists: the test corpus RENDERS log lines in-plan from a
  * single-split parquet, and `PushDownPredicates` pushes any filter
  * over a line-derived column — with the whole render expression
  * inlined — through every exchange onto that raw single-split scan,
  * where it runs serially (see git log: Report.nameMatch,
  * WebLog.renderedLines, Style5.parseFastpath). A non-eager
  * `localCheckpoint` truncates the lineage so the filter binds to the
  * materialized attribute instead.
  *
  * 100 TB contract: in production these operators read lines from a
  * FILE SOURCE (the `ScaleTrial` shape — `spark.read.text` /
  * `readStream.text`), where the scan itself is the barrier and a
  * filter on a parsed column has no render to be pushed into. Local
  * checkpoints are NON-RELIABLE: losing an executor loses its
  * checkpointed blocks with no recompute path. This object and
  * [[Staged.once]] are the only places that choose how an
  * intermediate is materialized, so the reliable-storage swap
  * (`persist(StorageLevel.DISK_ONLY)`, or a staging parquet write)
  * is a one-line change in [[lineage]] and every fenced frame
  * follows it.
  */
object Fence {

  /** Non-eager lineage fence: the plan above it reads the
    * checkpointed RDD (`Scan ExistingRDD`), and the first action that
    * consumes it materializes the blocks. */
  def lineage(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** ZERO-COST optimizer barrier ([[graft.plans.OptimizationFence]])
    * — the scale-correct fence for SINGLE-consumer pipelines: blocks
    * predicate pushdown / projection collapse across the boundary
    * like [[lineage]] does, but materializes nothing and keeps the
    * full recompute path (no non-reliable checkpoint blocks to lose
    * with an executor). Use [[lineage]] (or persist) when the fenced
    * frame feeds MULTIPLE consumers and must compute once — and note
    * that a GLOBAL SORT counts as two consumers: range partitioning
    * first SAMPLES its input for bounds, so an expensive
    * unmaterialized pipeline under an orderBy executes twice
    * (measured on dedup_fuzzy_edit: 3.6 s → 5.6 s at sf1).
    *
    * Registers [[graft.plans.FenceStrategy]] on the session's
    * `experimental.extraStrategies` on first use (idempotent). */
  def barrier(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val em = spark.experimental
    if (!em.extraStrategies.contains(graft.plans.FenceStrategy))
      em.extraStrategies = em.extraStrategies :+ graft.plans.FenceStrategy
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      graft.plans.OptimizationFence(df.queryExecution.analyzed))
  }
}
