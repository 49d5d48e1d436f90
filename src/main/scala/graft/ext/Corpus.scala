package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.util.{Exact, Hashing}

/** Corpus-assembly operators — the composition layer of a
  * training-data pipeline over the `documents` table: the quality →
  * language → dedup funnel, deterministic stratified sampling, and
  * vocabulary statistics. These are the queries a data-curation team
  * actually ships; the single-purpose operators ([[TextAnalysis]],
  * [[Dedup]]) are their building blocks.
  *
  * Scale shape: everything is a narrow per-row map plus ONE groupBy
  * on `source` (or token), except the dedup anti-join, which reuses
  * the banded-LSH pair pipeline (bucket equi-joins, never a cross
  * join). No UDFs, no collects.
  */
object Corpus {

  import TextAnalysis.{toks, toksSql}

  /** Union of all [[TextAnalysis]] language-marker words — derived,
    * not copied, so the funnel's language gate can never drift from
    * what langId labels 'unknown'. */
  private val markerWords: Seq[String] =
    TextAnalysis.markers.flatMap(_._2).distinct

  /** The classic curation funnel, applied in order per document:
    *  1. quality gate — n_tokens >= 20 (short fragments dropped);
    *  2. language gate — at least one marker word (langId != unknown);
    *  3. near-dup drop — any doc that is the HIGHER id of a verified
    *     ngram-Jaccard near-dup pair keeps only its lowest-id
    *     representative ("keep first occurrence", the standard rule).
    * Output: the per-source funnel counts and the surviving token
    * budget — the number every pretraining-data report leads with. */
  def trainingCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"))
      .withColumn("n_tokens", size(toks(col("text"))))
      .withColumn("has_lang",
        size(filter(toks(col("text")), t => t.isInCollection(markerWords))) > 0)
    val dupIds = Dedup.ngramJaccardOf(Tables.documents(spark, dir))
      .select(col("id2").as("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
    val flags = d.join(dupIds, Seq("doc_id"), "left")
      .withColumn("is_dup", coalesce(col("is_dup"), lit(false)))
      .withColumn("q_ok", col("n_tokens") >= 20)
    flags.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("q_ok"), 1L).otherwise(0L)).as("n_quality_drop"),
        sum(when(col("q_ok") && !col("has_lang"), 1L).otherwise(0L)).as("n_lang_drop"),
        sum(when(col("q_ok") && col("has_lang") && col("is_dup"), 1L).otherwise(0L)).as("n_dup_drop"),
        sum(when(col("q_ok") && col("has_lang") && !col("is_dup"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("q_ok") && col("has_lang") && !col("is_dup"),
          col("n_tokens").cast("long")).otherwise(0L)).as("tokens_kept"))
      .orderBy(col("source"))
  }

  val trainingCorpusSql: String = {
    val mw = markerWords.map(w => s"'$w'").mkString(", ")
    s"""WITH ${Dedup.ngramPairsCtes},
       dup AS (SELECT DISTINCT id2 AS doc_id FROM ngj WHERE jaccard >= 0.8),
       flags AS (
         SELECT dd.source,
           len(${toksSql("dd.text")}) AS n_tokens,
           len(list_filter(${toksSql("dd.text")}, t -> t IN ($mw))) > 0 AS has_lang,
           dup.doc_id IS NOT NULL AS is_dup,
           len(${toksSql("dd.text")}) >= 20 AS q_ok
         FROM documents dd LEFT JOIN dup ON dd.doc_id = dup.doc_id)
       SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN NOT q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_drop,
         CAST(sum(CASE WHEN q_ok AND NOT has_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_drop,
         CAST(sum(CASE WHEN q_ok AND has_lang AND is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_drop,
         CAST(sum(CASE WHEN q_ok AND has_lang AND NOT is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN q_ok AND has_lang AND NOT is_dup THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
       FROM flags GROUP BY source ORDER BY source"""
  }

  /** Deterministic train/val/test SPLIT assignment — the
    * content-hash split every training pipeline needs: a document's
    * split is a pure function of its id (`phash(doc_id) % 1000` into
    * 980/10/10 bands), so (a) growing the corpus NEVER reshuffles an
    * existing document's split — no yesterday's-val-doc leaking into
    * today's train set, the failure mode of any rand()/row_number
    * split — and (b) every engine and every re-run agrees. The report
    * is the per-(source, split) contract a pipeline records next to
    * its manifest: doc count, token mass, and an order-independent
    * membership checksum (sum of per-id hashes bounded < 2^30, the
    * set-checksum convention) that a downstream consumer can verify
    * its shard selection against.
    *
    * Scale shape: one narrow map (hash + tokenize) and one
    * map-side-combined groupBy on the ~3·|sources| key domain —
    * nothing global, nothing ordered. */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"))
      .withColumn("n_tokens", size(toks(col("text"))).cast("long"))
      .withColumn("h",
        Hashing.phash(col("doc_id").cast("string"), "split_") % 1000)
      .withColumn("split",
        when(col("h") < 980, lit("train"))
          .when(col("h") < 990, lit("val")).otherwise(lit("test")))
      .groupBy(col("source"), col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(Hashing.phash(col("doc_id").cast("string"), "sck_") % 1073741824L)
          .as("id_checksum"))
      .orderBy(col("source"), col("split"))

  val splitAssignSql: String =
    s"""WITH d AS (
         SELECT source,
           len(${toksSql("text")}) AS n_tokens,
           ${Hashing.phashSql("CAST(doc_id AS VARCHAR)", "split_")} % 1000 AS h,
           ${Hashing.phashSql("CAST(doc_id AS VARCHAR)", "sck_")} % 1073741824 AS ck
         FROM documents)
       SELECT source,
         CASE WHEN h < 980 THEN 'train' WHEN h < 990 THEN 'val' ELSE 'test' END AS split,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         CAST(sum(ck) AS BIGINT) AS id_checksum
       FROM d GROUP BY source, split ORDER BY source, split"""

  /** K-fold cross-validation assignment ([[splitAssign]]'s k-way
    * sibling): fold = content-hash(doc_id) mod 5 — stable under
    * corpus growth like the split, so fold membership never reshuffles
    * between runs — with per-(source, fold) mass and a balance
    * certificate in exact ppm of the ideal n/K (the number a skewed
    * hash would blow). One narrow map + one small-key aggregate; the
    * per-source totals broadcast back onto ≤ sources×K rows. */
  def kfoldAssign(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"))
      .withColumn("n_tokens", size(toks(col("text"))).cast("long"))
      .withColumn("fold", Hashing.phash(col("doc_id").cast("string"), "fold_") % 5)
      .groupBy(col("source"), col("fold").cast("long").as("fold"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        sum(Hashing.phash(col("doc_id").cast("string"), "fck_") % 1073741824L)
          .cast("long").as("id_checksum"))
    val totals = d.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("src_docs"))
    d.join(broadcast(totals), Seq("source"))
      .withColumn("ppm_of_ideal",
        floor(col("n_docs").cast("double") * 5 * 1000000 / col("src_docs"))
          .cast("long"))
      .select(col("source"), col("fold"), col("n_docs"), col("n_tokens"),
        col("id_checksum"), col("ppm_of_ideal"))
      .orderBy(col("source"), col("fold"))
  }

  val kfoldAssignSql: String =
    s"""WITH d AS (
         SELECT source,
           len(${toksSql("text")}) AS n_tokens,
           ${Hashing.phashSql("CAST(doc_id AS VARCHAR)", "fold_")} % 5 AS fold,
           ${Hashing.phashSql("CAST(doc_id AS VARCHAR)", "fck_")} % 1073741824 AS ck
         FROM documents),
       g AS (
         SELECT source, CAST(fold AS BIGINT) AS fold,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(ck) AS BIGINT) AS id_checksum
         FROM d GROUP BY source, fold),
       t AS (SELECT source, sum(n_docs) AS src_docs FROM g GROUP BY source)
       SELECT g.source, g.fold, g.n_docs, g.n_tokens, g.id_checksum,
         CAST(floor(CAST(g.n_docs AS DOUBLE) * 5 * 1000000 / t.src_docs)
           AS BIGINT) AS ppm_of_ideal
       FROM g JOIN t ON g.source = t.source
       ORDER BY g.source, g.fold"""

  /** Deterministic stratified sampling: each source gets a quota in
    * [20, 80]% derived from a hash of its name, and a document is
    * kept iff `phash(doc_id) % 100 < quota` — reproducible on any
    * engine and any cluster size, no RNG, no sampleBy. The keep
    * decision is a pure narrow map; at 100 TB this is the only
    * sampling shape that re-runs identically. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"))
      .withColumn("n_tokens", size(toks(col("text"))).cast("long"))
      .withColumn("quota", Hashing.phash(col("source"), "strat_") % 61 + 20)
      .withColumn("keep",
        Hashing.phash(col("doc_id").cast("string"), "samp_") % 100 < col("quota"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("quota")).as("quota_pct"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("tokens_sampled"))
      .orderBy(col("source"))

  val sampleStratifiedSql: String =
    s"""WITH d AS (
         SELECT source, len(${toksSql("text")}) AS n_tokens,
           ${Hashing.phashSql("source", "strat_")} % 61 + 20 AS quota,
           ${Hashing.phashSql("CAST(doc_id AS VARCHAR)", "samp_")} % 100 AS h
         FROM documents)
       SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(max(quota) AS BIGINT) AS quota_pct,
         CAST(sum(CASE WHEN h < quota THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
         CAST(sum(CASE WHEN h < quota THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_sampled
       FROM d GROUP BY source ORDER BY source"""

  /** Neyman-optimal sample allocation — where a fixed
    * annotation/eval budget (10,000 docs here) should go across
    * sources: proportional allocation oversamples homogeneous
    * sources, while Neyman allocation n_h ∝ N_h·σ_h (Neyman 1934)
    * spends budget where the stratum is big AND internally varied —
    * the classic survey-sampling rule a curation pipeline uses to
    * budget human review. σ_h is the per-source std-dev of document
    * token length from EXACT integer moments (count/sum/sum-of-
    * squares — BIGINT-safe to ~10¹² docs at these lengths); the
    * variance/sqrt step is the identical IEEE expression on both
    * engines (sqrt is bit-stable; ln/exp are not), and the
    * denominator Σ N_h·σ_h folds over the source-sorted list so the
    * double summation ORDER is pinned cross-engine (the CLAUDE.md
    * fixed-fold-order rule). Both allocations emitted side by side.
    *
    * Scale shape: one doc scan into a per-source moments groupBy
    * (map-side combined, |sources| rows); the ordered fold and the
    * broadcast join run on that bounded frame. */
  def sampleAllocation(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .select(col("source"), size(toks(col("text"))).cast("long").as("v"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
      .withColumn("sd", sqrt(greatest(
        col("s2").cast("double") / col("n")
          - (col("s1").cast("double") / col("n"))
            * (col("s1").cast("double") / col("n")),
        lit(0.0))))
      .withColumn("w", col("n").cast("double") * col("sd"))
    val tot = per.agg(
      sum(col("n")).as("ntot"),
      aggregate(array_sort(collect_list(struct(col("source"), col("w")))),
        lit(0.0), (a, x) => a + x.getField("w")).as("wtot"))
    per.crossJoin(broadcast(tot))
      .select(col("source"),
        col("n").cast("long").as("n_docs"),
        floor(col("sd") * 1000).cast("long").as("sd_milli"),
        // all-zero variance => wtot = 0 and the Neyman ratio is 0/0;
        // degrade to the proportional allocation (ANSI would throw on
        // CAST(NaN), and equal-variance strata ARE proportional)
        when(col("wtot") === 0.0, expr("n * 10000 div ntot").cast("double"))
          .otherwise(floor(lit(10000) * col("w") / col("wtot")))
          .cast("long").as("neyman_n"),
        expr("n * 10000 div ntot").cast("long").as("proportional_n"))
      .orderBy(col("source"))
  }

  val sampleAllocationSql: String =
    s"""WITH d AS (
         SELECT source, CAST(len(${toksSql("text")}) AS BIGINT) AS v
         FROM documents),
       g AS (
         SELECT source, count(*) AS n, sum(v) AS s1, sum(v * v) AS s2
         FROM d GROUP BY source),
       s AS (
         SELECT source, n,
           sqrt(greatest(CAST(s2 AS DOUBLE) / n
             - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
             0.0)) AS sd
         FROM g),
       w AS (SELECT source, n, sd, CAST(n AS DOUBLE) * sd AS w FROM s),
       t AS (
         SELECT sum(n) AS ntot,
           list_reduce(list_prepend(0.0, list_transform(
             list(struct_pack(source := source, w := w) ORDER BY source),
             x -> struct_extract(x, 'w'))), (a, b) -> a + b) AS wtot
         FROM w)
       SELECT w.source, CAST(w.n AS BIGINT) AS n_docs,
         CAST(floor(w.sd * 1000) AS BIGINT) AS sd_milli,
         CAST(CASE WHEN t.wtot = 0
                   THEN CAST(w.n * 10000 // t.ntot AS DOUBLE)
                   ELSE floor(10000 * w.w / t.wtot) END AS BIGINT) AS neyman_n,
         CAST(w.n * 10000 // t.ntot AS BIGINT) AS proportional_n
       FROM w CROSS JOIN t ORDER BY w.source"""

  /** Corpus-trained bigram language-model scoring — the count-based
    * skeleton of KenLM-style quality filtering: pass 1 counts every
    * bigram's occurrences across the corpus (one shuffle with
    * map-side partial aggregation); pass 2 scores each document by
    * the average corpus frequency of its bigrams (one join on bigram
    * + one groupBy(doc)). Integer counts with portable 4-dp rounding
    * keep the score bit-identical across engines — the reason this
    * uses frequency rather than log-probability (libm `log` is not
    * bit-stable across engines). A doc full of corpus-common
    * word transitions scores high; gibberish scores ~1. */
  def bigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("t", toks(col("text")))
      .withColumn("bgs", when(size(col("t")) >= 2,
        TextAnalysis.wordGrams(col("t"), 2))
        .otherwise(array()))
      .select(col("doc_id"), col("bgs"))
      .transform(graft.util.Fence.lineage)
    val occ = d.select(explode_outer(col("bgs")).as("bg"))
      .filter(col("bg").isNotNull)
    val counts = occ.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
    d.select(col("doc_id"), explode_outer(col("bgs")).as("bg"))
      .filter(col("bg").isNotNull)
      .join(counts, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (floor(sum(col("cnt")).cast("double") / count(lit(1)) * 10000 + 0.5) / 10000)
          .as("avg_bigram_df"))
      .orderBy(col("doc_id"))
  }

  val bigramLmScoreSql: String =
    s"""WITH d AS (
         SELECT doc_id,
           CASE WHEN len(${toksSql("text")}) >= 2
                THEN list_transform(generate_series(1, len(${toksSql("text")}) - 1),
                       i -> concat_ws(' ', ${toksSql("text")}[i], ${toksSql("text")}[i + 1]))
                ELSE [] END AS bgs
         FROM documents),
       occ AS (SELECT unnest(bgs) AS bg FROM d),
       counts AS (SELECT bg, count(*) AS cnt FROM occ GROUP BY bg),
       db AS (SELECT doc_id, unnest(bgs) AS bg FROM d)
       SELECT db.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         floor(CAST(sum(c.cnt) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS avg_bigram_df
       FROM db JOIN counts c ON db.bg = c.bg
       GROUP BY db.doc_id ORDER BY db.doc_id"""

  private val CHUNK = 32    // tokens per chunk
  private val STRIDE = 24   // chunk start spacing (8-token overlap)

  /** Context-window chunking: every document splits into overlapping
    * fixed-size token windows (32 tokens, stride 24) — the prep step
    * before tokenizer packing. A pure narrow explode (rows grow
    * ~n_tokens/stride per doc, no shuffle until the presentation
    * sort); the chunk text is carried as its 60-bit phash so the
    * output — and therefore the chunk CONTENT — is oracle-checked
    * without shipping strings. */
  def chunkDocuments(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("t", toks(col("text")))
      .withColumn("n", size(col("t")))
      // ceil((n-CHUNK)/STRIDE)+1 chunks; n-9 = n-CHUNK+STRIDE-1
      .withColumn("n_chunks",
        when(col("n") <= CHUNK, lit(1))
          .otherwise(lit(1) + expr(s"(n - ${CHUNK - STRIDE + 1}) div $STRIDE")))
    d.select(col("doc_id"), col("t"),
        explode_outer(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .filter(col("chunk_id").isNotNull)
      .withColumn("chunk_toks",
        slice(col("t"), col("chunk_id") * STRIDE + 1, lit(CHUNK)))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("chunk_toks")).cast("long").as("chunk_len"),
        Hashing.phash(concat_ws(" ", col("chunk_toks")), "chunk_").as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val chunkDocumentsSql: String =
    s"""WITH d AS (
         SELECT doc_id, ${toksSql("text")} AS t, len(${toksSql("text")}) AS n
         FROM documents),
       nc AS (
         SELECT doc_id, t,
           CASE WHEN n <= $CHUNK THEN 1
                ELSE 1 + (n - ${CHUNK - STRIDE + 1}) // $STRIDE END AS n_chunks
         FROM d),
       e AS (
         SELECT doc_id, t, unnest(generate_series(0, n_chunks - 1)) AS chunk_id
         FROM nc),
       c AS (
         SELECT doc_id, chunk_id,
           t[chunk_id * $STRIDE + 1 : chunk_id * $STRIDE + $CHUNK] AS chunk_toks
         FROM e)
       SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         CAST(len(chunk_toks) AS BIGINT) AS chunk_len,
         ${Hashing.phashSql("array_to_string(chunk_toks, ' ')", "chunk_")} AS chunk_hash
       FROM c ORDER BY doc_id, chunk_id"""

  private val PACK_BUDGET = 256   // tokens per packed sequence
  private val PACK_SHARDS = 4     // scale knob: shards per source (→ cluster width)

  /** Sequence packing: fill fixed token budgets with documents in
    * deterministic order — the step that turns a curated corpus into
    * training sequences. Documents pack contiguously per
    * (source, shard): a running token sum assigns each doc to the bin
    * its first token falls in. The SHARD in the partition key is the
    * scale lever: a bare `Window.partitionBy(source)` would funnel
    * each source's entire corpus through one task (the round-1
    * low-cardinality-window killer); hash-sharding keeps every
    * partition bounded and the packing inside each shard
    * deterministic. Output: per-bin fill statistics. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism) // single-split table, split+md5-bound map
      .select(col("source"), col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
      .withColumn("shard", Hashing.phash(col("doc_id").cast("string"), "shard_") % PACK_SHARDS)
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", expr(s"(cum - n_tokens) div $PACK_BUDGET"))
      .groupBy(col("source"), col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .orderBy(col("source"), col("shard"), col("bin"))
  }

  val packSequencesSql: String =
    s"""WITH d AS (
         SELECT source, doc_id, CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens,
           ${Hashing.phashSql("CAST(doc_id AS VARCHAR)", "shard_")} % $PACK_SHARDS AS shard
         FROM documents),
       c AS (
         SELECT *, sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
           ROWS UNBOUNDED PRECEDING) AS cum
         FROM d)
       SELECT source, shard, CAST((cum - n_tokens) // $PACK_BUDGET AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS tokens
       FROM c GROUP BY source, shard, (cum - n_tokens) // $PACK_BUDGET
       ORDER BY source, shard, bin"""

  private[ext] val DECON_GRAM = 8   // consecutive tokens that count as overlap

  /** Shared decontamination shingle frame: (source, doc_id, sh8) with
    * sh8 = the distinct 60-bit hashes of every [[DECON_GRAM]]-token
    * span. Fenced because it is expensive and multi-referenced (see
    * [[graft.util.Fence]]). Used by [[decontaminate]] and
    * [[Curation.bloomDecontaminate]] so the two can never drift. */
  private[ext] def deconShingles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("t", toks(col("text")))
      // n >= DECON_GRAM: the least() clamp never fires (i+k <= n), so
      // the span list IS the plain sliding gram — the wordGrams form,
      // which doesn't re-split per element. Shorter docs (ONE clamped
      // span, so the lambda runs once) keep the clamped original.
      .withColumn("sh8", array_distinct(
        when(size(col("t")) >= DECON_GRAM,
          transform(TextAnalysis.wordGrams(col("t"), DECON_GRAM),
            s => Hashing.phash(s, "dec_")))
        .otherwise(
          transform(sequence(lit(1), lit(1)),
            i => Hashing.phash(concat_ws(" ",
              (0 until DECON_GRAM).map(k =>
                element_at(col("t"), least(i + k, size(col("t"))))): _*),
              "dec_")))))
      .select(col("source"), col("doc_id"), col("sh8"))
      .transform(graft.util.Fence.lineage)

  /** DuckDB twin of [[deconShingles]] — the body of a `d AS (...)` CTE. */
  private[ext] val deconShinglesSqlCte: String = {
    val gram = (0 until DECON_GRAM)
      .map(k => s"t[least(i + $k, len(t))]").mkString(", ")
    s"""SELECT source, doc_id,
           list_distinct(list_transform(
             generate_series(1, greatest(len(${toksSql("text")}) - ${DECON_GRAM - 1}, 1)),
             i -> ${Hashing.phashSql(s"concat_ws(' ', $gram)", "dec_")})) AS sh8
         FROM (SELECT source, doc_id, text, ${toksSql("text")} AS t FROM documents)"""
  }

  /** Benchmark decontamination — the train/eval-overlap scan every
    * pretraining pipeline runs: a corpus document is CONTAMINATED if
    * it shares any 8-consecutive-token span with the eval set. The
    * eval set here is the doc_id%13==0 slice of the corpus itself
    * (so contamination is guaranteed and the oracle can rebuild it);
    * in production it is the benchmark suite — small by definition,
    * which is what justifies broadcasting its distinct shingle-hash
    * set while the corpus side stays a narrow explode + semi-join
    * (no shuffle of corpus text, ever). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = deconShingles(spark, dir)
    val evalSh = d.filter(col("doc_id") % 13 === 0)
      .select(explode_outer(col("sh8")).as("h")).filter(col("h").isNotNull).distinct()
    val contaminated = d
      .select(col("doc_id"), explode_outer(col("sh8")).as("h"))
      .filter(col("h").isNotNull)
      .join(broadcast(evalSh), Seq("h"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(true))
    d.join(contaminated, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_contaminated"))
      .orderBy(col("source"))
  }

  val decontaminateSql: String = {
    s"""WITH d AS ($deconShinglesSqlCte),
       ev AS (
         SELECT DISTINCT unnest(sh8) AS h FROM d WHERE doc_id % 13 = 0),
       hits AS (
         SELECT DISTINCT doc_id
         FROM (SELECT doc_id, unnest(sh8) AS h FROM d) x
         WHERE x.h IN (SELECT h FROM ev))
       SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN hits.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
       FROM d LEFT JOIN hits ON d.doc_id = hits.doc_id
       GROUP BY d.source ORDER BY d.source"""
  }

  /** Corpus vocabulary head: top 20 tokens by DOCUMENT frequency.
    * Distinct-per-doc explode → one groupBy(token) with map-side
    * partial counts → TakeOrderedAndProject (per-partition top-k +
    * k-row merge — no global sort at any N). */
  def vocabTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism) // single-split table, CPU-bound explode
      .select(explode_outer(array_distinct(toks(col("text")))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token"))
      .limit(20)

  val vocabTopkSql: String =
    s"""SELECT token, CAST(count(*) AS BIGINT) AS df
       FROM (SELECT unnest(list_distinct(${toksSql("text")})) AS token FROM documents)
       GROUP BY token ORDER BY df DESC, token LIMIT 20"""

  private val IMP_TARGET = "src0"

  /** Importance weights for domain-targeted data selection — the
    * DSIR recipe (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling") with hashed-unigram features:
    * each document scores by how much more frequent its tokens are in
    * the TARGET domain (source = [[IMP_TARGET]]) than in the corpus
    * at large; sampling ∝ weight tilts the corpus toward the target
    * distribution. The published estimator is a log-likelihood ratio;
    * log() is not bit-stable cross-engine, so the per-token feature
    * here is the raw frequency ratio in exact integer ppm —
    * floor(10⁶ · cnt_t(tok) · N_c / (cnt_c(tok) · N_t)) — and the
    * document weight is the exact-integer mean over token occurrences
    * (ppm > 10⁶ ⇔ more target-like; monotone in the likelihood
    * ratio under a per-token view, which preserves the selection
    * ORDER the resampler consumes). cnt_t·N_c stays < 2⁶² until the
    * corpus passes ~10⁹ total target tokens × 10¹² corpus tokens —
    * re-scale the ppm base before that point.
    *
    * Scale shape: one fenced explode feeding (a) the token-keyed
    * stats aggregate and (b) the per-doc rollup after an equi-join
    * back on token; corpus totals are a 1-row broadcast. Same
    * two-shuffle shape as keyword_topk. */
  def importanceWeights(spark: SparkSession, dir: String): DataFrame =
    importanceWeightsOf(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  private[graft] def importanceWeightsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val occ = docs
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("source"),
        explode_outer(toks(col("text"))).as("token"))
      .filter(col("token").isNotNull)
      .transform(graft.util.Fence.lineage)
    val stats = occ.groupBy(col("token"))
      .agg(count(lit(1)).as("cnt_c"),
        sum(when(col("source") === IMP_TARGET, 1L).otherwise(0L)).as("cnt_t"))
    val totals = stats.agg(sum(col("cnt_c")).cast("long").as("n_c"),
      sum(col("cnt_t")).cast("long").as("n_t"))
    occ.join(stats, Seq("token"))
      .crossJoin(broadcast(totals))
      .withColumn("ratio_ppm",
        Exact.floorDiv(lit(1000000L) * col("cnt_t") * col("n_c"), col("cnt_c") * col("n_t")))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tok"),
        sum(col("ratio_ppm")).cast("long").as("sum_ppm"))
      .withColumn("weight_ppm", Exact.floorDiv(col("sum_ppm"), col("n_tok")))
      .select(col("doc_id"), col("source"), col("n_tok"), col("weight_ppm"))
  }

  /** CTE chain ending in `weights(doc_id, source, n_tok, weight_ppm)`
    * — the SQL twin of [[importanceWeightsOf]] over the `documents`
    * table, shared with [[importanceResample]]. */
  private val importanceWeightsSqlCte: String =
    s"""occ AS (
         SELECT doc_id, source, unnest(${toksSql("text")}) AS token FROM documents),
       stats AS (
         SELECT token, CAST(count(*) AS BIGINT) AS cnt_c,
           CAST(sum(CASE WHEN source = '$IMP_TARGET' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t
         FROM occ GROUP BY token),
       totals AS (
         SELECT CAST(sum(cnt_c) AS BIGINT) AS n_c, CAST(sum(cnt_t) AS BIGINT) AS n_t
         FROM stats),
       scored AS (
         SELECT o.doc_id, o.source,
           CAST((1000000 * s.cnt_t * t.n_c - ((1000000 * s.cnt_t * t.n_c) % (s.cnt_c * t.n_t)))
                / (s.cnt_c * t.n_t) AS BIGINT) AS ratio_ppm
         FROM occ o JOIN stats s USING (token) CROSS JOIN totals t),
       weights AS (
         SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tok,
           CAST((sum(ratio_ppm) - (sum(ratio_ppm) % count(*))) / count(*) AS BIGINT) AS weight_ppm
         FROM scored GROUP BY doc_id, source)"""

  val importanceWeightsSql: String =
    s"""WITH $importanceWeightsSqlCte
       SELECT doc_id, source, n_tok, weight_ppm FROM weights ORDER BY doc_id"""

  /** Importance RESAMPLING — the second half of the DSIR recipe:
    * having scored every document ([[importanceWeights]]), keep each
    * with probability min(1, weight) via a deterministic content-hash
    * coin (`phash(doc_id) mod 10⁶ < weight_ppm`) — reproducible,
    * shuffle-free sampling (the same hash-as-coin trick as
    * sample_stratified) that tilts the kept corpus toward the target
    * domain. Emits the per-source funnel: docs/tokens in, docs/tokens
    * kept, and an order-independent kept-id checksum so the oracle
    * certifies MEMBERSHIP, not just counts.
    *
    * Scale shape: importance weights' two shuffles, then a narrow
    * hash-coin filter and a map-side-combined per-source rollup. */
  def importanceResample(spark: SparkSession, dir: String): DataFrame =
    importanceWeightsOf(Tables.documents(spark, dir))
      .withColumn("keep",
        pmod(Hashing.phash(col("doc_id").cast("string"), "res_"), lit(1000000L))
          < least(col("weight_ppm"), lit(1000000L)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).cast("long")
          .as("kept_tokens"),
        sum(when(col("keep"),
          pmod(Hashing.phash(col("doc_id").cast("string"), "rck_"), lit(1073741789L)))
          .otherwise(0L)).cast("long").as("kept_checksum"))
      .orderBy(col("source"))

  val importanceResampleSql: String =
    s"""WITH $importanceWeightsSqlCte,
       coin AS (
         SELECT source, n_tok, weight_ppm,
           (${Hashing.phashSql("CAST(doc_id AS VARCHAR)", "res_")} % 1000000)
             < least(weight_ppm, 1000000) AS keep,
           ${Hashing.phashSql("CAST(doc_id AS VARCHAR)", "rck_")} % 1073741789 AS ck
         FROM weights)
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens,
         CAST(sum(CASE WHEN keep THEN ck ELSE 0 END) AS BIGINT) AS kept_checksum
       FROM coin GROUP BY source ORDER BY source"""

  private val ZIPF_K = 64 // head terms the power-law is fitted over

  /** Zipf power-law fit over the token rank-frequency curve — the
    * corpus-health diagnostic (a natural corpus has slope ≈ −1 in
    * log-log space; template/boilerplate-heavy corpora flatten, spam
    * floods steepen). Transcendental log() is not bit-stable across
    * engines, so both axes use FLOOR-log2 computed exactly as
    * `length(bin(x)) − 1` — pure integer string ops — and the
    * least-squares slope over the [[ZIPF_K]] head points stays in
    * integer arithmetic: slope = (n·Σxy − Σx·Σy) / (n·Σxx − (Σx)²),
    * emitted as exact BIGINT numerator/denominator plus a portable
    * floor()-rounded milli value.
    *
    * Scale shape: one explode + one token-keyed count (map-side
    * combined), then TakeOrderedAndProject bounds the frame to
    * [[ZIPF_K]] rows BEFORE the unpartitioned rank window — the
    * global sort only ever sees K rows, so the single-partition
    * window is safe at any corpus size. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val head = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(explode_outer(toks(col("text"))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(ZIPF_K)
    val pts = head
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("freq").desc, col("token"))).cast("long"))
      .select(
        (length(bin(col("rank"))) - 1).cast("long").as("x"),
        (length(bin(col("freq"))) - 1).cast("long").as("y"))
    pts.agg(
        count(lit(1)).as("n_points"),
        sum(col("x")).cast("long").as("sum_x"),
        sum(col("y")).cast("long").as("sum_y"),
        sum(col("x") * col("y")).cast("long").as("sum_xy"),
        sum(col("x") * col("x")).cast("long").as("sum_xx"))
      .select(col("n_points"), col("sum_x"), col("sum_y"),
        (col("n_points") * col("sum_xy") - col("sum_x") * col("sum_y"))
          .as("slope_num"),
        (col("n_points") * col("sum_xx") - col("sum_x") * col("sum_x"))
          .as("slope_den"))
      .withColumn("slope_milli",
        floor(lit(1000.0) * col("slope_num") / col("slope_den")).cast("long"))
  }

  val zipfFitSql: String =
    s"""WITH freqs AS (
         SELECT token, CAST(count(*) AS BIGINT) AS freq
         FROM (SELECT unnest(${toksSql("text")}) AS token FROM documents)
         GROUP BY token ORDER BY freq DESC, token LIMIT $ZIPF_K),
       pts AS (
         SELECT CAST(length(bin(rank)) - 1 AS BIGINT) AS x,
                CAST(length(bin(freq)) - 1 AS BIGINT) AS y
         FROM (SELECT freq,
                 CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank
               FROM freqs)),
       s AS (
         SELECT CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
           CAST(sum(x * y) AS BIGINT) AS sum_xy,
           CAST(sum(x * x) AS BIGINT) AS sum_xx
         FROM pts)
       SELECT n_points, sum_x, sum_y,
         CAST(n_points * sum_xy - sum_x * sum_y AS BIGINT) AS slope_num,
         CAST(n_points * sum_xx - sum_x * sum_x AS BIGINT) AS slope_den,
         CAST(floor(1000.0 * (n_points * sum_xy - sum_x * sum_y)
                    / (n_points * sum_xx - sum_x * sum_x)) AS BIGINT) AS slope_milli
       FROM s"""

  // ---------------------------------------------------------------
  // Output sharding & vocabulary coverage
  // ---------------------------------------------------------------

  private val SHARDS = 16

  /** Output-shard balance report — the skew check a training run
    * performs before writing its dataset: every document is assigned
    * a shard by CONTENT hash (reproducible placement independent of
    * input order or id assignment), and each shard reports its
    * doc/token/byte load plus the ppm of the ideal uniform share
    * (1,000,000 = perfectly balanced). A shard far above 1e6 means a
    * straggling data-loader worker at train time — caught here, not
    * there.
    *
    * Scale shape: one narrow map (hash + counts), one groupBy on the
    * [[SHARDS]]-row key space (map-side combined — the shuffle
    * carries ≤ SHARDS rows per partition at any corpus size), totals
    * broadcast back as a 1-row cross join. */
  def shardPlan(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(pmod(Hashing.phash(col("text"), "shard_"), lit(SHARDS.toLong))
          .as("shard"),
        size(toks(col("text"))).cast("long").as("n_tok"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("n_bytes")).as("n_bytes"))
    val tot = d.agg(sum(col("n_tokens")).as("tot_tokens"))
    d.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs").cast("long").as("n_docs"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_bytes").cast("long").as("n_bytes"),
        floor(col("n_tokens") * lit(SHARDS.toLong) * 1000000.0 /
          nullif(col("tot_tokens"), lit(0L))).cast("long").as("load_ppm"))
      .orderBy(col("shard"))
  }

  val shardPlanSql: String =
    s"""WITH d AS (
         SELECT ${Hashing.phashSql("text", "shard_")} % $SHARDS AS shard,
           CAST(len(${toksSql("text")}) AS BIGINT) AS n_tok,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
         FROM documents),
       g AS (
         SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_bytes) AS BIGINT) AS n_bytes
         FROM d GROUP BY shard),
       tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM g)
       SELECT shard, n_docs, n_tokens, n_bytes,
         CAST(floor(n_tokens * $SHARDS * 1000000.0 / nullif(tot_tokens, 0))
           AS BIGINT) AS load_ppm
       FROM g CROSS JOIN tot ORDER BY shard"""

  private val COVERAGE_PPM = Seq(500000L, 900000L, 990000L, 999000L)

  /** Vocabulary coverage curve — the tokenizer-design question "how
    * many vocabulary entries cover p% of all token OCCURRENCES":
    * rank the vocab by frequency, accumulate, and report the smallest
    * vocab size clearing each coverage target (50/90/99/99.9%), with
    * the exact integer cross-multiplication `cum · 1e6 ≥ total · p`
    * deciding the threshold — no percent arithmetic in doubles.
    *
    * Scale shape: the corpus collapses to the vocab histogram first
    * (one token-keyed groupBy); the ranking window and cumulative sum
    * then run over the VOCAB — bounded by distinct tokens, not
    * occurrences. The window is deliberately unpartitioned (the curve
    * is global); at a 10⁷-entry real vocab that is one executor
    * sorting 10⁷ (count, token) pairs — fine, and the alternative
    * (two-phase range partitioning) is noted here for the rung where
    * it is not. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val hist = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(explode_outer(toks(col("text"))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("n").desc, col("token"))))
      // referenced once per coverage target plus the total — fence so
      // the explode + histogram + global window materialize once
      .transform(graft.util.Fence.lineage)
    val tot = hist.agg(max(col("cum")).as("total"))
    val targets = COVERAGE_PPM.map { p =>
      hist.crossJoin(broadcast(tot))
        .filter(col("cum") * 1000000L >= col("total") * p)
        .agg(min(struct(col("rank"), col("cum"))).as("b"))
        .crossJoin(broadcast(tot))
        .select(lit(p).as("coverage_ppm"), col("b.rank").cast("long").as("vocab_size"),
          col("b.cum").cast("long").as("cum_tokens"),
          col("total").cast("long").as("total_tokens"))
    }
    targets.reduce(_.unionAll(_)).orderBy(col("coverage_ppm"))
  }

  val vocabCoverageSql: String = {
    val rows = COVERAGE_PPM.map { p =>
      s"""SELECT $p AS coverage_ppm,
         (SELECT CAST(min(rank) AS BIGINT) FROM r CROSS JOIN tot
           WHERE cum * 1000000 >= total * $p) AS vocab_size,
         (SELECT CAST(min(cum) AS BIGINT) FROM r CROSS JOIN tot
           WHERE cum * 1000000 >= total * $p) AS cum_tokens,
         (SELECT CAST(total AS BIGINT) FROM tot) AS total_tokens"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH h AS (
         SELECT token, count(*) AS n
         FROM (SELECT unnest(${toksSql("text")}) AS token FROM documents)
         GROUP BY token),
       r AS (
         SELECT token, n,
           sum(n) OVER (ORDER BY n DESC, token
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           row_number() OVER (ORDER BY n DESC, token) AS rank
         FROM h),
       tot AS (SELECT max(cum) AS total FROM r)
       $rows
       ORDER BY coverage_ppm"""
  }

  /** Training-mixture report: per (source, lang) stratum, its doc and
    * token counts, its share of the corpus token budget, and the
    * up/down-sampling weight that would flatten the mixture to a
    * uniform per-stratum budget (the DoReMi-class reweighting input —
    * capped at 1,000,000 ppm so no stratum is upsampled above 1×).
    * All ratios are exact-integer-numerator IEEE divisions floored to
    * ppm, so both engines agree bit-for-bit.
    *
    * Scale shape: one narrow token-count map, one groupBy on the
    * (source, lang) strata (tiny key space), then a broadcast of the
    * 1-row corpus totals — the final arithmetic runs on ~|strata|
    * rows, never on documents. */
  def corpusMixture(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism) // single-split table, CPU-bound tokenize
      .select(col("source"), col("lang"),
        size(toks(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = g.agg(sum(col("n_tokens")).as("tot_tokens"),
      count(lit(1)).as("n_strata"))
    g.crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        floor(col("n_tokens") * 1000000.0 /
          nullif(col("tot_tokens"), lit(0L))).cast("long").as("share_ppm"),
        least(lit(1000000L),
          floor(col("tot_tokens") * 1000000.0 /
            (col("n_strata") * nullif(col("n_tokens"), lit(0L)))).cast("long"))
          .as("weight_ppm"))
      .orderBy(col("source"), col("lang"))
  }

  val corpusMixtureSql: String =
    s"""WITH g AS (
         SELECT source, lang, count(*) AS n_docs,
           CAST(sum(len(${toksSql("text")})) AS BIGINT) AS n_tokens
         FROM documents GROUP BY source, lang),
       tot AS (
         SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
           count(*) AS n_strata FROM g)
       SELECT source, lang, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
         CAST(floor(n_tokens * 1000000.0 / nullif(tot_tokens, 0)) AS BIGINT) AS share_ppm,
         least(1000000, CAST(floor(tot_tokens * 1000000.0 /
           (n_strata * nullif(n_tokens, 0))) AS BIGINT)) AS weight_ppm
       FROM g CROSS JOIN tot ORDER BY source, lang"""

  /** Temperature-smoothed sampling mixture, α = 0.5 — the standard
    * multi-source rebalancing rule (sample stratum i with probability
    * p_i^α / Σ p_j^α): low-resource strata are boosted, high-resource
    * strata damped, without [[corpusMixture]]'s hard uniform cap.
    * α = 0.5 makes the power a SQRT, the one libm-adjacent function
    * that IS bit-stable cross-engine (IEEE 754 requires sqrt to be
    * correctly rounded — unlike ln/exp/pow, which is why a general-α
    * variant cannot be oracle-checked; see the module scaladoc).
    * Each stratum's sqrt is floored to integer MILLI-units first, so
    * the denominator Σ√ is an exact integer sum — no summation-order
    * drift. The ppm numerators stay below 2^53, exact in a double;
    * the 100 TB rung is the same query with BIGINT `DIV`.
    *
    * Scale shape: one (source, lang) groupBy, a 1-row total broadcast
    * back via cross join — identical to [[corpusMixture]]. */
  def mixtureAlpha(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("source"), col("lang"),
        size(toks(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("n_tok")).as("n_tokens"))
      .select(col("source"), col("lang"), col("n_tokens"),
        floor(sqrt(col("n_tokens").cast("double")) * 1000.0 + 0.5)
          .cast("long").as("sqrt_milli"))
    val tot = g.agg(sum(col("sqrt_milli")).as("tot_ms"),
      sum(col("n_tokens")).as("tot_tokens"))
    g.crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("n_tokens").cast("long").as("n_tokens"),
        col("sqrt_milli"),
        floor(col("n_tokens") * 1000000.0 / nullif(col("tot_tokens"), lit(0L)))
          .cast("long").as("natural_ppm"),
        floor(col("sqrt_milli") * 1000000.0 / nullif(col("tot_ms"), lit(0L)))
          .cast("long").as("alpha_ppm"))
      .withColumn("boost_ppm",
        floor(col("alpha_ppm") * 1000000.0 / nullif(col("natural_ppm"), lit(0L)))
          .cast("long"))
      .orderBy(col("source"), col("lang"))
  }

  val mixtureAlphaSql: String =
    s"""WITH g AS (
         SELECT source, lang,
           CAST(sum(len(${toksSql("text")})) AS BIGINT) AS n_tokens
         FROM documents GROUP BY source, lang),
       s AS (
         SELECT source, lang, n_tokens,
           CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)
             AS sqrt_milli
         FROM g),
       tot AS (
         SELECT CAST(sum(sqrt_milli) AS BIGINT) AS tot_ms,
           CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM s)
       SELECT source, lang, n_tokens, sqrt_milli,
         CAST(floor(n_tokens * 1000000.0 / nullif(tot_tokens, 0)) AS BIGINT)
           AS natural_ppm,
         CAST(floor(sqrt_milli * 1000000.0 / nullif(tot_ms, 0)) AS BIGINT)
           AS alpha_ppm,
         CAST(floor(CAST(floor(sqrt_milli * 1000000.0 / nullif(tot_ms, 0)) AS BIGINT)
           * 1000000.0 /
           nullif(CAST(floor(n_tokens * 1000000.0 / nullif(tot_tokens, 0)) AS BIGINT), 0))
           AS BIGINT) AS boost_ppm
       FROM s CROSS JOIN tot ORDER BY source, lang"""

  /** Curriculum bucketing: every document ntile'd into 4 difficulty
    * tiers by its [[TextAnalysis.textStats]] quality score (ties
    * split by doc_id — the total order the oracle rules require even
    * inside window frames), reported as per-(tier, lang) counts with
    * the tier's score range. The assignment window is a classic
    * low-cardinality global sort at corpus scale; production runs it
    * per-shard exactly like pack_sequences' hash-sharding — here it
    * doubles as deliberate §2.6 ntile coverage. */
  def curriculumBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.textStats(spark, dir)
      .select(col("doc_id"), col("quality_score"))
      .filter(col("quality_score").isNotNull)
    val lang = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("quality_score"), col("doc_id"))
    scored.withColumn("tier", ntile(4).over(w))
      .join(lang, Seq("doc_id"))
      .groupBy(col("tier").cast("long").as("tier"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("quality_score")).as("min_score"),
        max(col("quality_score")).as("max_score"))
      .orderBy(col("tier"), col("lang"))
  }

  val curriculumBucketsSql: String =
    s"""WITH scored AS (
         SELECT doc_id, quality_score FROM (${TextAnalysis.textStatsSql})
         WHERE quality_score IS NOT NULL),
       tiered AS (
         SELECT doc_id, quality_score,
           ntile(4) OVER (ORDER BY quality_score, doc_id) AS tier
         FROM scored)
       SELECT CAST(t.tier AS BIGINT) AS tier, d.lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         min(t.quality_score) AS min_score,
         max(t.quality_score) AS max_score
       FROM tiered t JOIN documents d ON t.doc_id = d.doc_id
       GROUP BY t.tier, d.lang ORDER BY tier, lang"""

  /** Vocabulary coverage: per-document out-of-vocabulary token counts
    * against the corpus top-V document-frequency vocabulary — the
    * "how much of this corpus does a fixed tokenizer vocab cover"
    * pre-training report. V is a constant, so the vocab side is a
    * bounded broadcast no matter the corpus size (the vocab BUILD is
    * the same df aggregate as [[vocabTopk]]: one shuffle capped by
    * map-side combine at |distinct tokens| per partition, and top-V
    * is a TakeOrderedAndProject, never a global sort). The per-doc
    * pass is explode → broadcast left join → one doc_id groupBy.
    * oov_ppm = floor(n_oov·10⁶ / n_tokens): exact-integer-numerator
    * IEEE division + floor — bit-stable in both engines. */
  private val VOCAB = 100

  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"))
    val vocab = docs
      .select(explode_outer(array_distinct(toks(col("text")))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token")).limit(VOCAB)
      .select(col("token"), lit(1).as("in_vocab"))
    val tok = docs.select(col("doc_id"), explode_outer(toks(col("text"))).as("token"))
      .filter(col("token").isNotNull)
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
           sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm",
        floor(col("n_oov") * 1000000.0 / col("n_tokens")).cast("long"))
      .orderBy(col("doc_id"))
  }

  val oovRateSql: String =
    s"""WITH v AS (
         SELECT token FROM (
           SELECT unnest(list_distinct(${toksSql("text")})) AS token
           FROM documents)
         GROUP BY token ORDER BY count(*) DESC, token LIMIT $VOCAB),
       t AS (
         SELECT doc_id, unnest(${toksSql("text")}) AS token FROM documents),
       j AS (
         SELECT t.doc_id,
           CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
         FROM t LEFT JOIN v ON t.token = v.token)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(oov) AS BIGINT) AS n_oov,
         CAST(floor(sum(oov) * 1000000.0 / count(*)) AS BIGINT) AS oov_ppm
       FROM j GROUP BY doc_id ORDER BY doc_id"""

  /** Tokenizer fertility by language — the chars-per-token /
    * tokens-per-doc profile a tokenizer team reads before choosing a
    * vocab budget per language (high fertility = the tokenizer
    * fragments that language's text into more, shorter pieces).
    *
    * Integer-exact throughout: per-language sums are BIGINT and the
    * fertility ratio is emitted in integer milli-units via BIGINT
    * floor-division (`div` / DuckDB `//`) — no double division to
    * drift cross-engine. One narrow map + one groupBy(lang); at
    * 100 TB this is a map-side-combining shuffle of |langs| rows. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("lang"), col("n_chars").cast("long").as("nc"),
        size(toks(col("text"))).cast("long").as("nt"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens"),
        sum(col("nc")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("n_chars * 1000 div n_tokens").as("millichars_per_token"),
        expr("n_tokens * 1000 div n_docs").as("millitokens_per_doc"))
      .orderBy(col("lang"))

  val tokenizerFertilitySql: String =
    s"""WITH d AS (
         SELECT lang, CAST(n_chars AS BIGINT) AS nc,
           CAST(len(${toksSql("text")}) AS BIGINT) AS nt
         FROM documents),
       g AS (
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens,
           CAST(sum(nc) AS BIGINT) AS n_chars
         FROM d GROUP BY lang)
       SELECT lang, n_docs, n_tokens, n_chars,
         CAST(n_chars * 1000 // n_tokens AS BIGINT) AS millichars_per_token,
         CAST(n_tokens * 1000 // n_docs AS BIGINT) AS millitokens_per_doc
       FROM g ORDER BY lang"""

  /** CCNet-style LM-quality terciles — rank every document within its
    * language by corpus-bigram familiarity and cut head / middle /
    * tail buckets (the published recipe keeps "head", trains on
    * "middle", drops "tail"; arXiv:1911.00359 §4.3). The score is the
    * integer micro-unit mean corpus frequency of the document's
    * bigrams — the same count-based core as [[bigramLmScore]], with
    * BIGINT floor-division instead of a log-probability so both
    * engines agree bit-for-bit. The tercile is `ntile(3)` over a
    * TOTAL order (score, doc_id) within each language.
    *
    * Scale shape: bigram counting is one map-side-combining shuffle;
    * the per-doc score is one join + groupBy(doc); the tercile is
    * RUNG-ADAPTIVE in-query (the [[graft.ext.Dedup.SIM_WIDE_N]]
    * result-identical pattern — a 1-row count broadcast, no driver
    * probe): below [[LM_DR_N]] scored rows the plain per-language
    * ntile window runs (each language sorts in one task — fine while
    * a language's frame fits one), above it the exact
    * [[graft.report.DistributedRank.withNtile]] (chunked prefix sums,
    * bit-identical to the window, ~6 extra small shuffles — measured
    * +0.7 s at sf0.1, which is why the window rung stays for small
    * frames). Both rungs produce the SAME buckets, the oracle twin
    * keeps the plain ntile at every scale, and LmRungSpec pins
    * cross-rung equality on the real corpus. The output aggregates
    * back to |langs|×3 rows, so nothing document-sized is ever
    * presented. */
  def lmQualityBuckets(spark: SparkSession, dir: String): DataFrame =
    lmQualityBucketsOf(Tables.documents(spark, dir))

  /** Scored-row count above which the tercile switches from the
    * per-language ntile window to [[graft.report.DistributedRank]].
    * 100,000 keeps the driver's sf0.001-0.1 gates on the window rung
    * and the sf1 replica gate on the distributed rung, so both stay
    * oracle-verified every round (the SEM_RUNG_BOUND convention). */
  private[graft] val LM_DR_N = 100000L

  /** [[lmQualityBuckets]] over an arbitrary (doc_id, lang, text)
    * frame with an injectable rung bound — the LmRungSpec /
    * ScaleTrial entry point. */
  private[graft] def lmQualityBucketsOf(docs: DataFrame,
                                        bound: Long = LM_DR_N): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val d = docs
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("t", toks(col("text")))
      .withColumn("bgs", when(size(col("t")) >= 2,
        TextAnalysis.wordGrams(col("t"), 2))
        .otherwise(array()))
      .select(col("doc_id"), col("lang"), col("bgs"))
      .transform(graft.util.Fence.lineage)
    val occ = d.select(explode_outer(col("bgs")).as("bg"))
      .filter(col("bg").isNotNull)
    val counts = occ.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
    // materialize the expensive score pipeline once: DistributedRank
    // references its input several times (per-parts count, the value
    // histogram, the tie-keyed frame), and unfenced the explode+join+
    // aggregate would re-run per reference (measured: +30% at sf1)
    val scored = graft.util.Fence.lineage(d
      .select(col("doc_id"), col("lang"), explode_outer(col("bgs")).as("bg"))
      .filter(col("bg").isNotNull)
      .join(counts, Seq("bg"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(expr("sum(cnt) * 1000000 div count(1)").as("score_micro"),
        count(lit(1)).cast("long").as("n_bigrams")))
    // rung knob: 1-row count over the checkpointed scored frame. The
    // filter is on the broadcast constant, so exactly one branch is
    // non-empty per run and the active branch sees EVERY row — the
    // branch-local ntile/rank is therefore the global one.
    val knob = scored.agg(count(lit(1)).as("__n"))
    val t = scored.crossJoin(broadcast(knob))
    val winRung = t.filter(col("__n") <= bound)
      .withColumn("bucket", ntile(3).over(
        Window.partitionBy(col("lang"))
          .orderBy(col("score_micro"), col("doc_id"))))
      .select(col("lang"), col("bucket"), col("score_micro"), col("n_bigrams"))
    // cast back to int: the window ntile's output type, which the
    // oracle twin (plain ntile at every scale) pins
    val drRung = graft.report.DistributedRank
      .withNtile(t.filter(col("__n") > bound).drop("__n"),
        Seq("lang"), "score_micro", "doc_id", 3, "bucket")
      .withColumn("bucket", col("bucket").cast("int"))
      .select(col("lang"), col("bucket"), col("score_micro"), col("n_bigrams"))
    winRung.unionByName(drRung)
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score_micro")).as("min_score_micro"),
        max(col("score_micro")).as("max_score_micro"),
        sum(col("n_bigrams")).as("n_bigrams"))
      .orderBy(col("lang"), col("bucket"))
  }

  val lmQualityBucketsSql: String =
    s"""WITH d AS (
         SELECT doc_id, lang,
           CASE WHEN len(${toksSql("text")}) >= 2
                THEN list_transform(generate_series(1, len(${toksSql("text")}) - 1),
                       i -> concat_ws(' ', ${toksSql("text")}[i], ${toksSql("text")}[i + 1]))
                ELSE [] END AS bgs
         FROM documents),
       occ AS (SELECT unnest(bgs) AS bg FROM d),
       counts AS (SELECT bg, count(*) AS cnt FROM occ GROUP BY bg),
       db AS (SELECT doc_id, lang, unnest(bgs) AS bg FROM d),
       scored AS (
         SELECT db.doc_id, db.lang,
           CAST(sum(c.cnt) * 1000000 // count(*) AS BIGINT) AS score_micro,
           CAST(count(*) AS BIGINT) AS n_bigrams
         FROM db JOIN counts c ON db.bg = c.bg
         GROUP BY db.doc_id, db.lang),
       b AS (
         SELECT lang, score_micro, n_bigrams,
           ntile(3) OVER (PARTITION BY lang ORDER BY score_micro, doc_id)
             AS bucket
         FROM scored)
       SELECT lang, CAST(bucket AS INTEGER) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         min(score_micro) AS min_score_micro,
         max(score_micro) AS max_score_micro,
         CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams
       FROM b GROUP BY lang, bucket ORDER BY lang, bucket"""

  private val RESERVOIR_K = 10

  /** Exact-k deterministic reservoir per source — the other sampling
    * primitive next to [[sampleStratified]]'s Bernoulli quotas: keep
    * EXACTLY k docs per stratum (eval sets, spot-check panels, golden
    * subsets need fixed sizes, not expected sizes), chosen by ranking
    * a salted content-independent hash — so the panel is reproducible
    * on any engine/cluster and STABLE under corpus growth in the
    * sense that a doc's draw never changes (only the top-k cutoff
    * moves). The membership itself is hashed into the output (sorted
    * id set-checksum) so the oracle certifies WHICH docs, not just
    * how many.
    *
    * Scale shape: rank-k per group compiles to WindowGroupLimit —
    * each partition pre-prunes to k before the shuffle, so the
    * exchange carries ≤ k·partitions rows per stratum, never the
    * corpus. */
  def sampleTopkPerSource(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("draw"), col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        Hashing.phash(col("doc_id").cast("string"), "resv_").as("draw"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= RESERVOIR_K)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_sampled"),
        sum(col("n_tokens")).cast("long").as("tokens_sampled"),
        max(col("draw")).cast("long").as("cutoff_draw"),
        Hashing.phash(concat_ws(",",
          sort_array(collect_list(col("doc_id").cast("string")))))
          .as("members_hash"))
      .orderBy(col("source"))
  }

  val sampleTopkPerSourceSql: String =
    s"""WITH d AS (
         SELECT source, doc_id,
           ${Hashing.phashSql("CAST(doc_id AS VARCHAR)", "resv_")} AS draw,
           CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens
         FROM documents),
       r AS (
         SELECT source, doc_id, draw, n_tokens,
           row_number() OVER (PARTITION BY source ORDER BY draw, doc_id) AS rk
         FROM d)
       SELECT source, CAST(count(*) AS BIGINT) AS n_sampled,
         CAST(sum(n_tokens) AS BIGINT) AS tokens_sampled,
         CAST(max(draw) AS BIGINT) AS cutoff_draw,
         ${Hashing.phashSql(
           "array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), ',')")}
           AS members_hash
       FROM r WHERE rk <= $RESERVOIR_K
       GROUP BY source ORDER BY source"""

  /** Purged temporal cross-validation folds (the financial-ML
    * "purged K-fold with embargo", López de Prado 2018 ch.7) — the
    * time-series counterpart of [[kfoldAssign]]'s content-hash folds:
    * events assign to 5 folds by epoch-week blocks (week % 5), and a
    * TRAIN row is PURGED from a fold's training set when it sits
    * within the 1-hour embargo of that fold's validation-block
    * boundary — the window through which features computed on
    * overlapping time leak label information across the split. A row
    * in the first embargo-hour of week w is adjacent to week w−1's
    * block, so it purges when fold (w−1)%5 validates; symmetrically
    * for the last hour and (w+1)%5 (5-cycle ⇒ never its own fold).
    * Reported per fold: validation mass, surviving training mass,
    * purged mass, and the purged share of the raw training set in
    * ppm — all exact integer-second arithmetic.
    *
    * Scale shape: fold and embargo contributions are a narrow map
    * emitting ≤3 (fold, kind) markers per row (explode_outer + null
    * filter, the InferFiltersFromGenerate-safe form), then ONE
    * map-side-combining groupBy on 5 keys and a 1-row total
    * broadcast back (in-plan scalar convention). */
  def temporalFoldSplit(spark: SparkSession, dir: String): DataFrame = {
    val marks = Tables.events(spark, dir)
      .select(
        floor(unix_timestamp(col("ts")) / 604800L).cast("long").as("w"),
        (unix_timestamp(col("ts")) -
          floor(unix_timestamp(col("ts")) / 604800L).cast("long") * 604800L)
          .cast("long").as("iw"))
      .select(explode_outer(array(
        struct(pmod(col("w"), lit(5)).cast("long").as("fold"),
          lit(1L).as("isval"), lit(0L).as("ispurge")),
        when(col("iw") < 3600L,
          struct(pmod(col("w") - 1, lit(5)).cast("long").as("fold"),
            lit(0L).as("isval"), lit(1L).as("ispurge"))),
        when(col("iw") >= 601200L,
          struct(pmod(col("w") + 1, lit(5)).cast("long").as("fold"),
            lit(0L).as("isval"), lit(1L).as("ispurge"))))).as("m"))
      .filter(col("m").isNotNull)
      .select(col("m.fold").as("fold"), col("m.isval").as("isval"),
        col("m.ispurge").as("ispurge"))
    val perFold = marks.groupBy(col("fold"))
      .agg(sum(col("isval")).cast("long").as("n_val"),
        sum(col("ispurge")).cast("long").as("n_purged"))
    val total = perFold.agg(sum(col("n_val")).cast("long").as("n_total"))
    perFold.crossJoin(broadcast(total))
      .select(col("fold"), col("n_val"),
        (col("n_total") - col("n_val") - col("n_purged")).cast("long")
          .as("n_train"),
        col("n_purged"),
        expr("n_purged * 1000000 div (n_total - n_val)").as("purged_ppm"))
      .orderBy(col("fold"))
  }

  val temporalFoldSplitSql: String =
    """WITH ev AS (
         SELECT
           CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 604800) AS BIGINT)
             AS w,
           CAST(floor(epoch(CAST(ts AS TIMESTAMP))) -
             floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 604800) * 604800
             AS BIGINT) AS iw
         FROM events),
       c AS (
         SELECT CAST(w % 5 AS BIGINT) AS fold, 1 AS isval, 0 AS ispurge FROM ev
         UNION ALL
         SELECT CAST((w - 1) % 5 AS BIGINT), 0, 1 FROM ev WHERE iw < 3600
         UNION ALL
         SELECT CAST((w + 1) % 5 AS BIGINT), 0, 1 FROM ev WHERE iw >= 601200),
       g AS (
         SELECT fold, CAST(sum(isval) AS BIGINT) AS n_val,
           CAST(sum(ispurge) AS BIGINT) AS n_purged
         FROM c GROUP BY fold),
       t AS (SELECT CAST(sum(n_val) AS BIGINT) AS n_total FROM g)
       SELECT fold, n_val,
         CAST(n_total - n_val - n_purged AS BIGINT) AS n_train,
         n_purged,
         CAST(n_purged * 1000000 // (n_total - n_val) AS BIGINT) AS purged_ppm
       FROM g, t ORDER BY fold"""

  private val PRI_K = 100       // sample size
  private val PRI_U = 1000000L  // uniform-draw resolution

  /** Weighted sampling WITHOUT replacement via priority sampling
    * (Duffield-Lund-Thorup, JACM'07): each document draws a
    * deterministic hash-uniform u in (0, 1] and competes with
    * priority w/u (weight = n_chars, the doc's byte mass) — the top-k
    * priorities ARE the sample, and the (k+1)-th priority tau turns
    * it into an unbiased total estimator: each kept doc represents
    * max(w, tau) units. This is the size-weighted corpus sample a
    * byte-budgeted eval panel or inspection queue draws —
    * reproducible on any engine/cluster because the draw is a pure
    * content-hash function, and mergeable (top-k of per-shard top-ks
    * is the global top-k).
    *
    * Exactness: u is an integer in [1, 10^6], the priority key is the
    * integer floor (w * 10^6) div u, and ties break on doc_id — both
    * engines compute bit-identical keys, so no float ever orders the
    * sample. Scale shape: one narrow map then TakeOrderedAndProject
    * over k+1 rows; the windows that derive rank and tau run on the
    * 101-row bounded frame, never the corpus. */
  def prioritySample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").as("w"),
        (Hashing.phash(col("doc_id").cast("string"), "pri_") % PRI_U + 1L)
          .as("u"))
      .select(col("doc_id"), col("w"),
        expr(s"w * $PRI_U div u").as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(PRI_K + 1)
    val ord = Window.orderBy(col("priority").desc, col("doc_id"))
    // tau rides a whole-frame window over the SAME 101-row head
    // instead of a second aggregate consumer — the corpus
    // TakeOrdered runs exactly once, no fence, no re-scan
    val wSpan = Window.orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cand.withColumn("rank", row_number().over(ord).cast("long"))
      .withColumn("tau",
        coalesce(max(when(col("rank") === (PRI_K + 1).toLong,
          col("priority"))).over(wSpan), lit(0L)))
      .filter(col("rank") <= PRI_K.toLong)
      .select(col("rank"), col("doc_id"), col("w").as("w_chars"),
        col("priority"), greatest(col("w"), col("tau")).as("ht_weight"))
      .orderBy(col("rank"))
  }

  val prioritySampleSql: String =
    s"""WITH cand AS (
         SELECT doc_id, n_chars AS w,
           ${Hashing.phashSql("CAST(doc_id AS VARCHAR)", "pri_")}
             % $PRI_U + 1 AS u
         FROM documents),
       keyed AS (
         SELECT doc_id, w, w * $PRI_U // u AS priority FROM cand
         ORDER BY priority DESC, doc_id LIMIT ${PRI_K + 1}),
       ranked AS (
         SELECT *, CAST(row_number() OVER
           (ORDER BY priority DESC, doc_id) AS BIGINT) AS rank
         FROM keyed),
       t AS (
         SELECT coalesce(max(CASE WHEN rank = ${PRI_K + 1}
           THEN priority END), 0) AS tau FROM ranked)
       SELECT rank, doc_id, CAST(w AS BIGINT) AS w_chars,
         CAST(priority AS BIGINT) AS priority,
         CAST(greatest(w, tau) AS BIGINT) AS ht_weight
       FROM ranked CROSS JOIN t
       WHERE rank <= $PRI_K
       ORDER BY rank"""
}
