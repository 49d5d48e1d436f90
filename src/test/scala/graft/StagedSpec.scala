package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Multimodal

/** Lifecycle tests for the staged-table memo ([[graft.util.Staged]]:
  * keeper assignment, verified pairs, signature tables, IVF index) and
  * the in-plan ppmMediaTable preconditions. */
class StagedSpec extends AnyFunSuite {
  import TestSpark._
  import graft.util.Staged

  private val sfB = "/root/testdata/sf0.01"

  /** Corpus dirs staged for `stage` in the test session. */
  private def dirs(stage: String): Set[String] =
    Staged.keys(spark).collect { case (`stage`, d) => d }

  test("staged keeper: invalidate drops one corpus without touching the other") {
    val a = SparkEntry.queries("dedup_groups")(spark, sf).count()
    SparkEntry.queries("dedup_groups")(spark, sfB).count()
    assert(dirs("keeper") == Set(sf, sfB))

    Staged.invalidate(spark, sf)
    assert(dirs("keeper") == Set(sfB),
      "invalidate must evict exactly the requested corpus")

    // recompute after invalidation is correct, not a dangling handle
    val a2 = SparkEntry.queries("dedup_groups")(spark, sf).count()
    assert(a2 == a)
  }

  test("staged signatures: shared by the LSH family, invalidate evicts cleanly") {
    val pairs = SparkEntry.queries("dedup_minhash_lsh")(spark, sf).count()
    assert(dirs("sigs").contains(sf))
    val before = Staged.keys(spark)
    // a second family member reuses the stage (no new key, same corpus)
    SparkEntry.queries("dedup_threshold_sweep")(spark, sf).count()
    assert(Staged.keys(spark) == before)
    Staged.invalidate(spark, sf)
    assert(!dirs("sigs").contains(sf))
    // recompute after invalidation is correct, not a dangling handle
    assert(SparkEntry.queries("dedup_minhash_lsh")(spark, sf).count() == pairs)
  }

  test("staged IVF index: invalidate evicts and recompute matches") {
    val r = SparkEntry.queries("knn_ivf_kmeans")(spark, sf).collect()
    assert(dirs("ivf").contains(sf))
    Staged.invalidate(spark, sf)
    assert(!dirs("ivf").contains(sf))
    val r2 = SparkEntry.queries("knn_ivf_kmeans")(spark, sf).collect()
    assert(r2.toSeq == r.toSeq)
  }

  test("Staged.invalidate evicts every stage kind of one corpus and none of another") {
    val kinds = Set("keeper", "pairs", "sigs", "pipeline-sigs", "ivf")
    for (d <- Seq(sf, sfB);
         q <- Seq("dedup_groups", "dedup_minhash_lsh", "dedup_pipeline", "knn_ivf_kmeans"))
      SparkEntry.queries(q)(spark, d).count()
    assert(kinds.forall(k => dirs(k) == Set(sf, sfB)), Staged.keys(spark))
    Staged.invalidate(spark, sf)
    assert(Staged.keys(spark).forall(_._2 != sf), Staged.keys(spark))
    assert(kinds.forall(k => dirs(k) == Set(sfB)), Staged.keys(spark))
  }

  test("Staged.clearSession empties every stage for the session") {
    SparkEntry.queries("dedup_groups")(spark, sf).count()
    SparkEntry.queries("knn_ivf_kmeans")(spark, sf).count()
    assert(dirs("keeper").nonEmpty)
    assert(dirs("ivf").nonEmpty)
    Staged.clearSession(spark)
    assert(Staged.keys(spark).isEmpty)
  }

  test("a Verify-style run leaves no staged persisted blocks behind") {
    // mimic the Verify/Bench main-loop lifecycle (now wired in both
    // mains): run staged-table consumers, then clearSession — nothing
    // those queries persisted through the staged memo may survive,
    // and the memo must be re-entrant afterwards
    Staged.clearSession(spark) // clean slate from earlier tests
    SparkEntry.queries("dedup_groups")(spark, sf).count()
    SparkEntry.queries("dedup_minhash_lsh")(spark, sf).count()
    SparkEntry.queries("knn_ivf_kmeans")(spark, sf).count()
    val during = spark.sparkContext.getPersistentRDDs.keySet
    Staged.clearSession(spark)
    assert(Staged.keys(spark).isEmpty)
    // the staged persist()s must actually leave the block registry
    // (unpersist removes from persistentRdds synchronously even with
    // blocking=false; lineage localCheckpoints are unmanaged and stay)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((during -- after).size >= 3,
      s"expected the keeper/signature/IVF blocks evicted; " +
        s"during=${during.size} after=${after.size}")
    // re-entrant: a fresh consumer rebuilds cleanly
    assert(SparkEntry.queries("dedup_groups")(spark, sf).count() > 0)
  }

  test("ppmMediaTable raises on non-ASCII text (in-plan contract)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ppm").toString
    import spark.implicits._
    Seq((0L, "café " * 20, "en", "web", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val ex = intercept[Exception] {
      Multimodal.ppmMediaTable(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("pure ASCII")),
      s"expected the raise_error contract message, got: ${messages(ex)}")
  }

  test("ppmMediaTable raises on short text (in-plan contract)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ppm2").toString
    import spark.implicits._
    Seq((0L, "too short", "en", "web", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val ex = intercept[Exception] {
      Multimodal.ppmMediaTable(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains(">= 36 chars")),
      s"expected the raise_error contract message, got: ${messages(ex)}")
  }
}
