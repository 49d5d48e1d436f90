package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.ext.Dedup

/** Dev tool: empirical scale evidence for the LSH dedup family (the
  * round-1 "correct but weak at scale" items, reworked in round 2).
  *
  * The documents table is replicated M× with every token prefixed by
  * its replica id — replicas are mutually DISSIMILAR (disjoint token
  * sets), so the true near-dup pair count grows only M× while the
  * corpus grows M×. A scale-safe candidate generator must therefore
  * also grow ~M× in wall-clock; the round-1 all-pairs-within-source
  * ngram join and 256-bucket simhash banding grew ~M².
  *
  * Usage: sbt "runMain graft.tools.ScaleTrial2 [multiplier] [sfDir]"
  */
object ScaleTrial2 {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val dir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local()

    def corpus(m: Int): DataFrame = {
      val d = Tables.documents(spark, dir).select("source", "doc_id", "text")
      val big =
        if (m == 1) d
        else d.crossJoin(spark.range(m).toDF("rep"))
          .select(col("source"),
            (col("doc_id") * m + col("rep")).as("doc_id"),
            when(col("rep") === 0, col("text"))
              .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
                concat(lit("r"), col("rep").cast("string"), lit("_$1"))))
              .as("text"))
      big.repartition(spark.sparkContext.defaultParallelism)
    }

    def trial(name: String, df: => DataFrame): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = df.count()   // the pair filters force the full pipeline
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"SCALE2 $name: $n%,d pairs in $secs%.2f s")
      (n, secs)
    }

    // embeddings corpus: replicas get hash-driven per-dim sign flips,
    // so they are mutually near-orthogonal — true near-dup (twin)
    // count grows M×, and a scale-safe candidate generator must too
    def ecorpus(m: Int): DataFrame = {
      val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      val big =
        if (m == 1) e
        else e.crossJoin(spark.range(m).toDF("rep"))
          .select((col("vec_id") * m + col("rep")).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              x * when(col("rep") === 0, lit(1.0f))
                .otherwise(when(pmod(hash(col("rep"), i), lit(2)) === 0, lit(1.0f))
                  .otherwise(lit(-1.0f)))).as("embedding"))
      big.repartition(spark.sparkContext.defaultParallelism)
    }

    // dedup_semantic: candidate pairs are Σ|cell|·(|cell|−1)/2 over
    // the output's per-cell sizes — the quantity the scaled cell
    // count (C = max(32, √N)) must keep from growing quadratically
    def semTrial(name: String, df: => DataFrame): (Long, Double) = {
      val t0 = System.nanoTime()
      val cand = df.agg(sum(col("n_vecs") * (col("n_vecs") - lit(1)) / lit(2))
        .cast("long")).head().getLong(0)
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"SCALE2 $name: $cand%,d candidate pairs in $secs%.2f s")
      (cand, secs)
    }

    trial("warmup simhash 1x", Dedup.simhashPairsOf(corpus(1)))
    val (sp1, st1) = trial("simhash_pairs  1x", Dedup.simhashPairsOf(corpus(1)))
    val (spN, stN) = trial(f"simhash_pairs ${mult}%2dx", Dedup.simhashPairsOf(corpus(mult)))
    val (np1, nt1) = trial("ngram_jaccard  1x", Dedup.ngramJaccardOf(corpus(1)))
    val (npN, ntN) = trial(f"ngram_jaccard ${mult}%2dx", Dedup.ngramJaccardOf(corpus(mult)))
    val (ep1, et1) = trial("dedup_embed    1x", graft.ext.Similarity.dedupEmbeddingOf(ecorpus(1)))
    val (epN, etN) = trial(f"dedup_embed   ${mult}%2dx", graft.ext.Similarity.dedupEmbeddingOf(ecorpus(mult)))
    val (cp1, ct1) = semTrial("dedup_semantic 1x", graft.ext.Similarity.dedupSemanticOf(ecorpus(1), autoRung = false))
    val (cpN, ctN) = semTrial(f"dedup_semantic${mult}%2dx", graft.ext.Similarity.dedupSemanticOf(ecorpus(mult), autoRung = false))
    val (fp1, ft1) = trial("fuzzy_edit     1x", Dedup.fuzzyEditOf(corpus(1)))
    val (fpN, ftN) = trial(f"fuzzy_edit    ${mult}%2dx", Dedup.fuzzyEditOf(corpus(mult)))
    println(f"SCALE2 simhash: ${mult}x corpus -> ${spN.toDouble / math.max(sp1, 1)}%.1fx pairs, " +
      f"${stN / st1}%.1fx time (linear target ~${mult}x, quadratic ~${mult * mult}x)")
    println(f"SCALE2 ngram:   ${mult}x corpus -> ${npN.toDouble / math.max(np1, 1)}%.1fx pairs, " +
      f"${ntN / nt1}%.1fx time (linear target ~${mult}x, quadratic ~${mult * mult}x)")
    println(f"SCALE2 embed:   ${mult}x corpus -> ${epN.toDouble / math.max(ep1, 1)}%.1fx pairs, " +
      f"${etN / et1}%.1fx time (linear target ~${mult}x, quadratic ~${mult * mult}x)")
    println(f"SCALE2 semantic:${mult}x corpus -> ${cpN.toDouble / math.max(cp1, 1)}%.1fx candidates, " +
      f"${ctN / ct1}%.1fx time (C=sqrt(N) theory ~${math.pow(mult, 1.5)}%.1fx, " +
      f"fixed-C quadratic ~${mult * mult}x)")
    println(f"SCALE2 fuzzy:   ${mult}x corpus -> ${fpN.toDouble / math.max(fp1, 1)}%.1fx pairs, " +
      f"${ftN / ft1}%.1fx time (linear target ~${mult}x, quadratic ~${mult * mult}x)")
    spark.stop()
  }
}
