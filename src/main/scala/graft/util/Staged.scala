package graft.util

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped memo for STAGED tables — expensive pipeline outputs
  * (keeper assignments, verified pair lists, signature tables, ANN
  * index assignments) computed once per (session, stage, corpus dir)
  * and persisted for every downstream consumer. Locally the stage is
  * a MEMORY_AND_DISK persist — recomputable on block loss, unlike a
  * local checkpoint; at cluster scale the same role is played by the
  * staging parquet the job would write anyway, and that swap is one
  * line in [[once]].
  *
  * Contract: the corpus at `dir` is IMMUTABLE for the lifetime of the
  * entry. A caller that rewrites data at a staged path must call
  * [[invalidate]] first — the memo cannot see the filesystem change,
  * and a stale persisted frame would silently serve the old corpus.
  *
  * Lifecycle: [[clearSession]] unpersists and drops every staged frame
  * of a finished session in one call, so a long-lived driver iterating
  * many corpora (or many short-lived sessions) does not accumulate
  * persisted blocks. Eviction always unpersists (non-blocking).
  *
  * Nested builds: a build may read another stage (the keeper table's
  * build reads the staged pair list), so `once` runs `build` under
  * this object's reentrant monitor rather than inside a map update.
  * Every build runs exactly once per key; concurrent builds from
  * different threads are serialized. */
object Staged {
  private val memo = mutable.HashMap.empty[(SparkSession, String, String), DataFrame]

  /** The persisted output of `build` for (`stage`, `dir`) in this
    * session, built on first use. `stage` names the table kind and
    * must be unique across the library. */
  def once(spark: SparkSession, stage: String, dir: String)
          (build: => DataFrame): DataFrame = synchronized {
    val key = (spark, stage, dir)
    memo.getOrElse(key, {
      val df = build.persist(StorageLevel.MEMORY_AND_DISK)
      memo(key) = df
      df
    })
  }

  /** Drop (and unpersist) every stage of one corpus — REQUIRED before
    * re-reading a path whose data was rewritten in-session. */
  def invalidate(spark: SparkSession, dir: String): Unit =
    evict { case (s, _, d) => (s eq spark) && d == dir }

  /** Unpersist and drop every staged frame of a session — call before
    * `spark.stop()` in a long-lived driver. */
  def clearSession(spark: SparkSession): Unit =
    evict { case (s, _, _) => s eq spark }

  /** `(stage, dir)` of every frame staged for `spark`. */
  private[graft] def keys(spark: SparkSession): Set[(String, String)] =
    synchronized {
      memo.keysIterator.collect { case (s, st, d) if s eq spark => (st, d) }.toSet
    }

  private def evict(hit: ((SparkSession, String, String)) => Boolean): Unit =
    synchronized {
      memo.keys.filter(hit).toList
        .foreach(k => memo.remove(k).foreach(_.unpersist(blocking = false)))
    }
}
