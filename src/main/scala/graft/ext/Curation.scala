package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.util.Hashing

/** Later-stage curation operators over the `documents` table:
  * tokenizer-training statistics (BPE pair counts), a Bloom-filter
  * prefilter for benchmark decontamination, and the per-domain
  * document cap every web-scale corpus applies before mixing.
  *
  * Scale shapes: bpe_pair_counts aggregates over the DISTINCT
  * vocabulary (bounded by |vocab|, not corpus tokens); the Bloom
  * filter is O(filter bits) regardless of corpus size; domain_cap is
  * a two-phase salted top-k so no window partition ever holds a whole
  * domain. No UDFs, no driver-side collects.
  */
object Curation {

  import TextAnalysis.{toks, toksSql}

  // ---------------------------------------------------------------
  // BPE pair counts — the map-reduce heart of tokenizer training
  // ---------------------------------------------------------------

  private val BPE_TOPK = 30

  /** Adjacent-character-pair frequencies over the corpus — the count
    * a BPE trainer computes every merge round (the argmax pair is the
    * next merge). Two-stage shape borrowed from every distributed BPE
    * implementation: first collapse the corpus to its distinct-word
    * frequency table (one shuffle, map-side combined, output bounded
    * by |vocab|), then explode each WORD's adjacent pairs weighted by
    * its frequency (bounded by |vocab|·avg_word_len — independent of
    * corpus size, which is what makes merge rounds cheap at 100 TB).
    * Top-k via TakeOrderedAndProject, never a global sort. */
  def bpePairCounts(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism) // single-split table, CPU-bound tokenize
      .select(explode_outer(toks(col("text"))).as("word"))
      .filter(col("word").isNotNull && length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    words
      .select(col("freq"), explode_outer(transform(
          sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .filter(col("pair").isNotNull)
      .groupBy(col("pair")).agg(sum(col("freq")).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("pair"))
      .limit(BPE_TOPK)
  }

  val bpePairCountsSql: String =
    s"""WITH w AS (
         SELECT word, count(*) AS freq FROM (
           SELECT unnest(${toksSql("text")}) AS word FROM documents)
         WHERE len(word) >= 2 GROUP BY word),
       p AS (
         SELECT freq, unnest(list_transform(generate_series(1, len(word) - 1),
           i -> substr(word, i, 2))) AS pair
         FROM w)
       SELECT pair, CAST(sum(freq) AS BIGINT) AS n_pairs
       FROM p GROUP BY pair ORDER BY n_pairs DESC, pair LIMIT $BPE_TOPK"""

  // ---------------------------------------------------------------
  // Bloom-filter decontamination prefilter
  // ---------------------------------------------------------------

  private val BLOOM_K = 3         // hash functions per shingle
  private val BLOOM_M = 1 << 18   // filter bit positions

  /** The k salted bit positions of one shingle hash. */
  private def bloomPos(h: Column, m: Int): Column =
    array((0 until BLOOM_K).map(k =>
      Hashing.phash(h.cast("string"), s"blm${k}_") % m): _*)

  private def bloomPosSql(x: String, m: Int): String =
    (0 until BLOOM_K).map(k =>
      s"${Hashing.phashSql(s"CAST($x AS VARCHAR)", s"blm${k}_")} % $m").mkString("[", ", ", "]")

  /** Bloom-filter prefilter for [[Corpus.decontaminate]] — the shape
    * that survives an eval suite too big to broadcast raw: the filter
    * is the distinct BIT POSITIONS lit by the eval shingles (k=3
    * salted hashes each, m=2^18 bits), so its size is bounded by m —
    * a constant — no matter how many benchmarks feed it. A corpus
    * document "bloom-hits" if ANY of its shingles finds all k of its
    * positions lit; only bloom-positive docs would proceed to the
    * exact check, which this query also runs, reporting the false
    * positives the prefilter would send there (n_bloom >= n_exact by
    * construction — a Bloom filter has no false negatives, asserted
    * per-source by ExtSpec at a deliberately saturated m=256).
    *
    * Membership is a broadcast equi-join against the lit-position
    * set rather than a materialized bitset: identical semantics
    * (collisions and all), plan-visible, and oracle-checkable. */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame =
    bloomDecontaminateM(spark, dir, BLOOM_M)

  /** [[bloomDecontaminate]] with an explicit filter size — the
    * ExtSpec false-positive-behavior entry point. */
  private[graft] def bloomDecontaminateM(spark: SparkSession, dir: String, m: Int): DataFrame = {
    val d = Corpus.deconShingles(spark, dir)
    val docSh = d.select(col("doc_id"), explode_outer(col("sh8")).as("h"))
      .filter(col("h").isNotNull)
    val evalSh = d.filter(col("doc_id") % 13 === 0)
      .select(explode_outer(col("sh8")).as("h")).filter(col("h").isNotNull)
      .distinct()
    val litPos = evalSh
      .select(explode_outer(bloomPos(col("h"), m)).as("pos"))
      .distinct()
      .withColumn("lit", lit(1))
    // fused probe: the exact-membership flag joins BEFORE the position
    // explode (evalSh is distinct, so the row count is preserved),
    // rides the (doc, h) aggregate, and both per-doc verdicts come
    // from ONE groupBy chain — the former two separate pipelines
    // re-scanned the shingle frame and shuffled two extra
    // distinct(doc_id) frames for the same flags (guide §2.4)
    val perDoc = docSh
      .join(broadcast(evalSh.withColumn("eh", lit(1))), Seq("h"), "left")
      .select(col("doc_id"), col("h"), col("eh"),
        explode_outer(bloomPos(col("h"), m)).as("pos"))
      .join(broadcast(litPos), Seq("pos"), "left")
      .groupBy(col("doc_id"), col("h"))
      .agg(sum(when(col("lit").isNotNull, 1).otherwise(0)).as("n_lit"),
        max(coalesce(col("eh"), lit(0))).as("eh"))
      .groupBy(col("doc_id"))
      .agg(max(when(col("n_lit") === BLOOM_K, 1).otherwise(0)).as("bh"),
        max(col("eh")).as("ex"))
    d.select(col("source"), col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("bh") === 1, 1L).otherwise(0L)).as("n_bloom_hits"),
        sum(when(col("ex") === 1, 1L).otherwise(0L)).as("n_exact_hits"),
        sum(when(col("bh") === 1 && col("ex") === 0, 1L).otherwise(0L))
          .as("n_false_pos"))
      .orderBy(col("source"))
  }

  val bloomDecontaminateSql: String =
    s"""WITH d AS (${Corpus.deconShinglesSqlCte}),
       sh AS (
         SELECT doc_id, unnest(sh8) AS h FROM d),
       ev AS (
         SELECT DISTINCT unnest(sh8) AS h FROM d WHERE doc_id % 13 = 0),
       fpos AS (
         SELECT DISTINCT unnest(${bloomPosSql("h", BLOOM_M)}) AS pos FROM ev),
       probe AS (
         SELECT doc_id, h, unnest(${bloomPosSql("h", BLOOM_M)}) AS pos FROM sh),
       bdocs AS (
         SELECT DISTINCT doc_id FROM (
           SELECT doc_id, h,
             sum(CASE WHEN fpos.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_lit
           FROM probe LEFT JOIN fpos ON probe.pos = fpos.pos
           GROUP BY doc_id, h)
         WHERE n_lit = $BLOOM_K),
       edocs AS (
         SELECT DISTINCT doc_id FROM sh WHERE h IN (SELECT h FROM ev))
       SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
         CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits,
         CAST(sum(CASE WHEN b.doc_id IS NOT NULL AND e.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
       FROM d
       LEFT JOIN bdocs b ON d.doc_id = b.doc_id
       LEFT JOIN edocs e ON d.doc_id = e.doc_id
       GROUP BY d.source ORDER BY d.source"""

  // ---------------------------------------------------------------
  // Per-domain document cap
  // ---------------------------------------------------------------

  private val CAP = 25

  /** Per-domain cap: keep at most [[CAP]] documents per source, by a
    * deterministic hash priority (reproducible on any engine / any
    * cluster size, like [[Corpus.sampleStratified]]). Exact top-k per
    * group WITHOUT a whole-domain window partition: phase 1 ranks
    * within (source, salt) cells — 8 cells bound any domain's
    * partition to 1/8th, and more salts linearly shrink it for a
    * 100 TB skewed domain — phase 2 ranks the <= 8·CAP survivors per
    * source. Any global top-CAP row is a top-CAP row of its salt
    * cell, so the two-phase result is exact. */
  def domainCap(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("source"), col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
      .withColumn("pri", Hashing.phash(col("doc_id").cast("string"), "cap_"))
    val w1 = Window.partitionBy(col("source"), col("doc_id") % 8)
      .orderBy(col("pri"), col("doc_id"))
    val w2 = Window.partitionBy(col("source"))
      .orderBy(col("pri"), col("doc_id"))
    d.withColumn("rn1", row_number().over(w1)).filter(col("rn1") <= CAP)
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= CAP)
      .select(col("source"), col("rank"), col("doc_id"), col("n_tokens"))
      .orderBy(col("source"), col("rank"))
  }

  // ---------------------------------------------------------------
  // Normalization-aware exact dedup
  // ---------------------------------------------------------------

  /** Exact-dedup cardinality before and after text normalization
    * (lowercase, punctuation → space, whitespace collapse) — the
    * standard pre-dedup canonicalization step, reported per source as
    * how many additional collapses normalization buys over raw
    * byte-identity. Narrow per-row map (two regex passes + md5), one
    * groupBy(source) with distinct-hash partials — no text ever rides
    * a shuffle, only the 128-bit hashes. */
  def dedupNormalized(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      // distinct-count the 16-byte binary digests, not the 32-char hex
      // renders: unhex is a bijection, so the counts are identical
      // while the two distinct shuffles (Expand doubles the rows for
      // the two countDistincts) carry half the hash bytes
      .select(col("source"), unhex(md5(col("text"))).as("raw_h"),
        unhex(md5(norm)).as("norm_h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_h")).as("n_distinct_raw"),
        countDistinct(col("norm_h")).as("n_distinct_norm"))
      .withColumn("n_extra_collapsed",
        col("n_distinct_raw") - col("n_distinct_norm"))
      .orderBy(col("source"))
  }

  val dedupNormalizedSql: String =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_raw,
         CAST(count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))) AS BIGINT) AS n_distinct_norm,
         CAST(count(DISTINCT md5(text)) -
              count(DISTINCT md5(trim(regexp_replace(regexp_replace(lower(text),
           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))) AS BIGINT) AS n_extra_collapsed
       FROM documents GROUP BY source ORDER BY source"""

  // ---------------------------------------------------------------
  // Epoch assembly plan
  // ---------------------------------------------------------------

  /** Epoch assembly plan: apply [[Corpus.corpusMixture]]'s flattening
    * weights to the corpus — each document survives the epoch iff its
    * deterministic hash draw lands under its stratum's weight_ppm
    * (exactly the thinning a mixture-reweighted data loader performs,
    * but reproducible on any engine and cluster size). The weights
    * frame is bounded by |strata|, so the join is a broadcast at any
    * corpus size; the draw is a pure narrow map; one stratum groupBy
    * ends it. Reports planned vs raw docs/tokens per stratum. */
  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("source"), col("lang"), col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tok"))
    val weights = Corpus.corpusMixture(spark, dir)
      .select(col("source"), col("lang"), col("weight_ppm"))
    d.join(broadcast(weights), Seq("source", "lang"))
      .withColumn("keep",
        Hashing.phash(col("doc_id").cast("string"), "epoch_") % 1000000L < col("weight_ppm"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        max(col("weight_ppm")).as("weight_ppm"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("planned_docs"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("planned_tokens"))
      .orderBy(col("source"), col("lang"))
  }

  val epochPlanSql: String =
    s"""WITH cm AS (${Corpus.corpusMixtureSql}),
       d AS (
         SELECT source, lang, doc_id,
           CAST(len(${toksSql("text")}) AS BIGINT) AS n_tok,
           ${Hashing.phashSql("CAST(doc_id AS VARCHAR)", "epoch_")} % 1000000 AS draw
         FROM documents)
       SELECT d.source, d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(d.n_tok) AS BIGINT) AS n_tokens,
         CAST(max(cm.weight_ppm) AS BIGINT) AS weight_ppm,
         CAST(sum(CASE WHEN d.draw < cm.weight_ppm THEN 1 ELSE 0 END) AS BIGINT) AS planned_docs,
         CAST(sum(CASE WHEN d.draw < cm.weight_ppm THEN d.n_tok ELSE 0 END) AS BIGINT) AS planned_tokens
       FROM d JOIN cm ON d.source = cm.source AND d.lang = cm.lang
       GROUP BY d.source, d.lang ORDER BY d.source, d.lang"""

  val domainCapSql: String =
    s"""SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_tokens FROM (
         SELECT source, doc_id, n_tokens,
           row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rank
         FROM (
           SELECT source, doc_id,
             CAST(len(${toksSql("text")}) AS BIGINT) AS n_tokens,
             ${Hashing.phashSql("CAST(doc_id AS VARCHAR)", "cap_")} AS pri
           FROM documents))
       WHERE rank <= $CAP ORDER BY source, rank"""

  // ---------------------------------------------------------------
  // BPE merge application — tokenizer inference
  // ---------------------------------------------------------------

  private val BPE_MERGES = 8

  /** Apply a learned BPE merge table to the corpus — the tokenizer
    * INFERENCE step ([[bpePairCounts]] is the training-side count).
    * The merge table is the top-[[BPE_MERGES]] round-0 pairs in
    * priority order — a static merge list, derived in-query from the
    * same corpus (one bounded-by-|vocab| aggregate collapsed to a
    * 1-row broadcast array; no driver-side probe), applied greedily
    * in rank order exactly as a tokenizer applies its merges file.
    *
    * Token-stream encoding: every char becomes `|c ` (marker-prefixed,
    * space-terminated), so word gaps become double spaces and merge
    * (a,b) is the plain string rewrite `|a |b ` → `|ab ` — anchored
    * left by the marker and right by the terminator, so a merge can
    * never fire across a token or word boundary, and non-overlapping
    * left-to-right replacement is exactly greedy BPE. The fold runs
    * in the engine-portable fixed order (Spark `aggregate` == DuckDB
    * `list_reduce(list_prepend(...))`), and the `|` marker is safe
    * because the corpus is verified `[a-z ]` (any `|` in raw text
    * would make the encoding ambiguous).
    *
    * Scale shape: merge-table derivation is [[bpePairCounts]]'s
    * vocab-bounded aggregate; application is a pure narrow map behind
    * a broadcast of the 1-row merge array. The fold output feeds
    * three consumers (two lengths + the hash), so it sits behind a
    * lineage fence — CollapseProject would otherwise inline the whole
    * K-merge fold once per consumer. */
  def tokenizeBpe(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpePairCounts(spark, dir)
      .orderBy(col("n_pairs").desc, col("pair")).limit(BPE_MERGES)
      .agg(transform(
        array_sort(collect_list(struct((-col("n_pairs")).as("neg"), col("pair").as("pair")))),
        m => m.getField("pair")).as("ms"))
    val enc0 = regexp_replace(col("text"), "(\\S)", "|$1 ")
    val folded = aggregate(col("ms"), col("enc"),
      (acc, p) => replace(acc,
        concat(lit("|"), substring(p, 1, 1), lit(" |"), substring(p, 2, 1), lit(" ")),
        concat(lit("|"), p, lit(" "))))
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("source"), col("text"))
      .crossJoin(broadcast(merges))
      .withColumn("enc", enc0)
      .select(col("doc_id"), col("source"), col("text"), folded.as("tstream"))
      .transform(graft.util.Fence.lineage)
      .select(col("doc_id"), col("source"),
        length(replace(col("text"), lit(" "))).cast("long").as("n_chars"),
        (length(col("tstream")) - length(replace(col("tstream"), lit("|"))))
          .cast("long").as("n_tokens"),
        Hashing.phash(col("tstream")).as("tok_hash"))
      .withColumn("n_merged", col("n_chars") - col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  val tokenizeBpeSql: String =
    s"""WITH pc AS (
         SELECT pair, n_pairs FROM ($bpePairCountsSql)
         ORDER BY n_pairs DESC, pair LIMIT $BPE_MERGES),
       m AS (SELECT list(pair ORDER BY n_pairs DESC, pair) AS ms FROM pc),
       d AS (
         SELECT doc_id, source, text,
           regexp_replace(text, '(\\S)', '|\\1 ', 'g') AS enc
         FROM documents),
       t AS (
         SELECT doc_id, source, text,
           list_reduce(list_prepend(enc, ms),
             (acc, mp) -> replace(acc,
               '|' || substr(mp, 1, 1) || ' |' || substr(mp, 2, 1) || ' ',
               '|' || mp || ' ')) AS tstream
         FROM d CROSS JOIN m)
       SELECT doc_id, source,
         CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_chars,
         CAST(len(tstream) - len(replace(tstream, '|', '')) AS BIGINT) AS n_tokens,
         ${Hashing.phashSql("tstream")} AS tok_hash,
         CAST(len(replace(text, ' ', ''))
           - (len(tstream) - len(replace(tstream, '|', ''))) AS BIGINT) AS n_merged
       FROM t ORDER BY doc_id"""

  // ---------------------------------------------------------------
  // URL canonicalization dedup
  // ---------------------------------------------------------------

  /** URL canonicalization + exact dedup over the canonical form — the
    * URL-level dedup every web-crawl corpus applies before any content
    * hashing (scheme / host-case / `www.` / default-port / doubled- and
    * trailing-slash / tracking-query / fragment noise collapses a large
    * share of a raw crawl's URL list). The documents table carries no
    * URL column, so each doc synthesizes its crawl URL
    * deterministically from (source, doc_id) across 8 orthogonal
    * variant axes; the OPERATOR is the canonicalizer — 8 ordered
    * rewrite rules (lowercase scheme+host only, http→https, strip
    * `www.`, strip default port, strip fragment then query, collapse
    * doubled path slashes, strip trailing slash), all regexp codegen,
    * no UDF.
    *
    * Scale shape: narrow per-row map, one map-side-combined
    * (source, canon) shuffle bounded by the distinct-URL count, then a
    * tiny per-source regroup. The canonical SET is verified by an
    * order-independent checksum (sum of per-URL hashes bounded to
    * < 2^30 so the BIGINT sum can never overflow ANSI arithmetic) —
    * never by concat-ing millions of URLs into one row. */
  def dedupUrl(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val host = concat(col("source"), lit(".example.com"))
    val url = concat(
      when(pmod(id, lit(2)) === 0, "https").otherwise("http"), lit("://"),
      when(pmod(shiftright(id, 1), lit(2)) === 0, "www.").otherwise(""),
      when(pmod(shiftright(id, 2), lit(2)) === 0, host).otherwise(upper(host)),
      when(pmod(shiftright(id, 3), lit(2)) === 0, "").otherwise(
        when(pmod(id, lit(2)) === 0, ":443").otherwise(":80")),
      when(pmod(shiftright(id, 5), lit(2)) === 0, "/docs/").otherwise("//docs/"),
      pmod(id, lit(50)).cast("string"),
      when(pmod(shiftright(id, 4), lit(2)) === 0, "").otherwise("/"),
      when(pmod(id, lit(3)) === 0,
        concat(lit("?utm_source=rss&session="), id.cast("string"))).otherwise(""),
      when(pmod(id, lit(5)) === 0,
        concat(lit("#sec"), pmod(id, lit(4)).cast("string"))).otherwise(""))
    // Ordered rewrite chain; every rule is host/scheme-anchored or
    // suffix-anchored so rules cannot feed each other out of order.
    val headPat = "^[^:]+://[^/?#]*"
    val u = col("url")
    val lowered = concat(
      lower(regexp_extract(u, headPat, 0)), regexp_replace(u, headPat, ""))
    // default ports strip while still scheme-matched (http:80 /
    // https:443) — BEFORE the http→https upgrade, so a genuinely
    // non-default https://host:80 is NOT collapsed with https://host
    val canon =
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(lowered,
          "^(http://[^/:?#]*):80(([/?#].*)?)$", "$1$2"),
          "^(https://[^/:?#]*):443(([/?#].*)?)$", "$1$2"),
          "^http://", "https://"),
          "^https://www\\.", "https://"),
          "#.*$", ""),
          "\\?.*$", ""),
          "([^:/])/{2,}", "$1/"),
          "/+$", "")
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("source"), url.as("url"))
      .select(col("source"), canon.as("canon"))
      .groupBy(col("source"), col("canon"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).cast("long").as("n_urls"),
        count(lit(1)).cast("long").as("n_canonical"),
        sum(pmod(Hashing.phash(col("canon")), lit(1073741789L)))
          .cast("long").as("canon_checksum"))
      .withColumn("n_collapsed", (col("n_urls") - col("n_canonical")).cast("long"))
      .orderBy(col("source"))
  }

  val dedupUrlSql: String = {
    val hostSql = "source || '.example.com'"
    val urlSql =
      s"""(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' ||
        (CASE WHEN (doc_id >> 1) % 2 = 0 THEN 'www.' ELSE '' END) ||
        (CASE WHEN (doc_id >> 2) % 2 = 0 THEN $hostSql ELSE upper($hostSql) END) ||
        (CASE WHEN (doc_id >> 3) % 2 = 0 THEN ''
              ELSE (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END) END) ||
        (CASE WHEN (doc_id >> 5) % 2 = 0 THEN '/docs/' ELSE '//docs/' END) ||
        CAST(doc_id % 50 AS VARCHAR) ||
        (CASE WHEN (doc_id >> 4) % 2 = 0 THEN '' ELSE '/' END) ||
        (CASE WHEN doc_id % 3 = 0
              THEN '?utm_source=rss&session=' || CAST(doc_id AS VARCHAR) ELSE '' END) ||
        (CASE WHEN doc_id % 5 = 0
              THEN '#sec' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END)"""
    val headPat = "^[^:]+://[^/?#]*"
    s"""WITH u AS (SELECT source, $urlSql AS url FROM documents),
       lo AS (SELECT source,
         lower(regexp_extract(url, '$headPat', 0)) ||
           regexp_replace(url, '$headPat', '', 'g') AS lu
         FROM u),
       c AS (SELECT source,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(lu,
             '^(http://[^/:?#]*):80(([/?#].*)?)$$', '\\1\\2', 'g'),
             '^(https://[^/:?#]*):443(([/?#].*)?)$$', '\\1\\2', 'g'),
             '^http://', 'https://', 'g'),
             '^https://www\\.', 'https://', 'g'),
             '#.*$$', '', 'g'),
             '\\?.*$$', '', 'g'),
             '([^:/])/{2,}', '\\1/', 'g'),
             '/+$$', '', 'g') AS canon
         FROM lo),
       g AS (SELECT source, canon, count(*) AS n FROM c GROUP BY source, canon)
       SELECT source, CAST(sum(n) AS BIGINT) AS n_urls,
         CAST(count(*) AS BIGINT) AS n_canonical,
         CAST(sum(${Hashing.phashSql("canon")} % 1073741789) AS BIGINT) AS canon_checksum,
         CAST(sum(n) - count(*) AS BIGINT) AS n_collapsed
       FROM g GROUP BY source ORDER BY source"""
  }

  private val BLOCK_APEX  = Seq("src2.example.com", "src8.example.com")
  private val BLOCK_HOSTS = Seq("ads.src5.example.com")

  /** Domain-blocklist filter — the crawl-hygiene gate every web
    * corpus applies before anything else (spam/SEO/adult domain
    * lists): a document is dropped when its host's REGISTRABLE APEX
    * is listed (apex entries block every subdomain) or its exact
    * host is listed (surgical entries). Hosts are synthesized from
    * (source, doc_id) like [[dedupUrl]]'s URLs; the operator under
    * test is the match semantics and its scale shape: the suffix
    * match is NOT a per-row scan over the list (`endswith` against
    * every entry — a broadcast nested loop that dies at a 10⁶-entry
    * blocklist) but an apex EXTRACTION (public-suffix-style regexp,
    * narrow codegen) followed by set membership — at production list
    * sizes the two IN-lists become broadcast equi-joins on the apex
    * and host columns, the same plan shape.
    *
    * Emits the per-source funnel with a blocked-id checksum so the
    * oracle certifies exactly WHICH docs were blocked. */
  def blocklistFilter(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val host = concat(
      when(pmod(id, lit(7)) === 0, "ads.")
        .when(pmod(id, lit(11)) === 0, "cdn.").otherwise(""),
      col("source"), lit(".example.com"))
    val apex = regexp_extract(col("host"), "([^.]+\\.example\\.com)$", 1)
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("source"), host.as("host"))
      .withColumn("blocked",
        apex.isInCollection(BLOCK_APEX) || col("host").isInCollection(BLOCK_HOSTS))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked"),
        sum(when(!col("blocked"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("blocked"),
          pmod(Hashing.phash(col("doc_id").cast("string"), "blk_"), lit(1073741789L)))
          .otherwise(0L)).cast("long").as("blocked_checksum"))
      .orderBy(col("source"))
  }

  val blocklistFilterSql: String = {
    val apexList = BLOCK_APEX.map(a => s"'$a'").mkString(", ")
    val hostList = BLOCK_HOSTS.map(h => s"'$h'").mkString(", ")
    s"""WITH h AS (
         SELECT doc_id, source,
           (CASE WHEN doc_id % 7 = 0 THEN 'ads.'
                 WHEN doc_id % 11 = 0 THEN 'cdn.' ELSE '' END)
             || source || '.example.com' AS host
         FROM documents),
       m AS (
         SELECT doc_id, source,
           (regexp_extract(host, '([^.]+\\.example\\.com)$$', 1) IN ($apexList)
            OR host IN ($hostList)) AS blocked
         FROM h)
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
         CAST(sum(CASE WHEN blocked THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN blocked THEN
           ${Hashing.phashSql("CAST(doc_id AS VARCHAR)", "blk_")} % 1073741789
           ELSE 0 END) AS BIGINT) AS blocked_checksum
       FROM m GROUP BY source ORDER BY source"""
  }

  // ---- Entity resolution (record linkage) --------------------------

  private val ER_OFF = 5000000L

  /** Blocking + field-agreement record linkage — the Fellegi-Sunter
    * (1969) skeleton of every dedupe/householding pipeline, with the
    * log-odds agreement weights fixed as integers (the repo's no-libm
    * rule; a production deployment estimates them by EM and rounds to
    * the same integer scale). A dirty re-arrival batch is synthesized
    * deterministically (every c_custkey%23==0 customer re-arrives at
    * id + 5,000,000 with a rotating perturbation: exact copy /
    * lowercased / '#'→'-', and half the twins also lose their market
    * segment), so the oracle rebuilds it exactly. Blocking key =
    * (nation, numeric-name-suffix % 1000): catches every perturbed
    * twin (digits survive all three perturbations) while admitting
    * sparse non-dup collisions that the score must REJECT — both
    * decisions are in the output (`is_match`).
    *
    * Scale shape: candidates come from an equi-join on the blocking
    * key (never new×old cross); features are per-pair column
    * comparisons; no window, no collect. At 100 TB the same plan
    * holds — blocking cardinality scales with the data. */
  def entityResolution(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"))
    val dirty = c.filter(pmod(col("c_custkey"), lit(23)) === 0)
      .select((col("c_custkey") + ER_OFF).as("id"),
        when(expr("(c_custkey div 23) % 3") === 1, lower(col("c_name")))
          .when(expr("(c_custkey div 23) % 3") === 2,
            regexp_replace(col("c_name"), "#", "-"))
          .otherwise(col("c_name")).as("name"),
        col("c_nationkey").as("nat"),
        when(pmod(col("c_custkey"), lit(46)) === 0, lit("UNKNOWN"))
          .otherwise(col("c_mktsegment")).as("seg"))
    val clean = c.select(col("c_custkey").as("id"), col("c_name").as("name"),
      col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"))
    def keyed(df: DataFrame): DataFrame = df
      .withColumn("blk",
        regexp_replace(col("name"), "[^0-9]", "").cast("long") % 1000)
      .withColumn("norm", regexp_replace(lower(col("name")), "[^a-z0-9]", ""))
    keyed(dirty).as("n")
      .join(keyed(clean).as("o"),
        col("n.nat") === col("o.nat") && col("n.blk") === col("o.blk"))
      .select(col("n.id").as("new_id"), col("o.id").as("old_id"),
        (when(col("n.norm") === col("o.norm"), 32L).otherwise(0L) +
          when(col("n.name") === col("o.name"), 8L).otherwise(0L) +
          when(col("n.seg") === col("o.seg"), 4L).otherwise(0L)).as("score"))
      .withColumn("is_match", when(col("score") >= 32L, 1L).otherwise(0L))
      .orderBy(col("new_id"), col("old_id"))
  }

  val entityResolutionSql: String =
    s"""WITH c AS (
         SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer),
       dirty AS (
         SELECT c_custkey + $ER_OFF AS id,
           CASE WHEN (c_custkey // 23) % 3 = 1 THEN lower(c_name)
                WHEN (c_custkey // 23) % 3 = 2 THEN replace(c_name, '#', '-')
                ELSE c_name END AS name,
           c_nationkey AS nat,
           CASE WHEN c_custkey % 46 = 0 THEN 'UNKNOWN'
                ELSE c_mktsegment END AS seg
         FROM c WHERE c_custkey % 23 = 0),
       clean AS (
         SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
           c_mktsegment AS seg FROM c),
       kd AS (
         SELECT id, name, nat, seg,
           CAST(regexp_replace(name, '[^0-9]', '', 'g') AS BIGINT) % 1000 AS blk,
           regexp_replace(lower(name), '[^a-z0-9]', '', 'g') AS norm
         FROM dirty),
       kc AS (
         SELECT id, name, nat, seg,
           CAST(regexp_replace(name, '[^0-9]', '', 'g') AS BIGINT) % 1000 AS blk,
           regexp_replace(lower(name), '[^a-z0-9]', '', 'g') AS norm
         FROM clean),
       scored AS (
         SELECT n.id AS new_id, o.id AS old_id,
           CAST(CASE WHEN n.norm = o.norm THEN 32 ELSE 0 END
              + CASE WHEN n.name = o.name THEN 8 ELSE 0 END
              + CASE WHEN n.seg = o.seg THEN 4 ELSE 0 END AS BIGINT) AS score
         FROM kd n JOIN kc o ON n.nat = o.nat AND n.blk = o.blk)
       SELECT new_id, old_id, score,
         CAST(CASE WHEN score >= 32 THEN 1 ELSE 0 END AS BIGINT) AS is_match
       FROM scored ORDER BY new_id, old_id"""

  // ---------------------------------------------------------------
  // Iterative BPE merge LEARNING
  // ---------------------------------------------------------------

  private val BPE_LEARN_ROUNDS = 4

  /** True iterative BPE training (Sennrich et al. 2016) — the step
    * [[tokenizeBpe]]'s static top-pair table approximates: each round
    * RECOUNTS adjacent-symbol pairs over the evolving symbol
    * sequences (so later merges can fuse multi-char symbols earlier
    * rounds created), takes the frequency-argmax pair (ties to the
    * lexicographically smallest, via one struct-MIN over (−count, a,
    * b) — deterministic in both engines), and applies it corpus-wide
    * as a greedy leftmost non-overlapping rewrite (literal `replace`,
    * identical scan semantics in Spark and DuckDB; the same
    * marker-anchored `|sym ` encoding as [[tokenizeBpe]], so a merge
    * can never fire across symbol or word boundaries). Emits the
    * learned merge table — one row per round with the winning pair,
    * its count at selection time, and the corpus token count after
    * the merge (the compression trajectory a tokenizer team reads).
    *
    * Scale shape: training runs on the DISTINCT-WORD frequency table
    * (the standard formulation — bounded by vocabulary, not corpus
    * size, at any N), so each round is one vocab-sized pair explode,
    * two map-side-combined aggregates, one 1-row broadcast rewrite.
    * ROUNDS is a fixed constant; a production run raises it and
    * persists the vocab frame between rounds exactly as the
    * per-round [[graft.util.Fence.lineage]] does here. */
  def bpeLearn(spark: SparkSession, dir: String): DataFrame =
    bpeLearnOf(Tables.documents(spark, dir).select(col("text")))

  /** [[bpeLearn]] over an arbitrary single-column `text` frame — the
    * spec entry point that lets a crafted corpus drive a merge all
    * the way to a ONE-symbol word (the sequence(1,0)-descends ANSI
    * edge the pair enumeration guards against). */
  private[graft] def bpeLearnOf(texts: DataFrame): DataFrame = {
    val spark = texts.sparkSession
    val words = texts
      .repartition(spark.sparkContext.defaultParallelism)
      .select(explode_outer(toks(col("text"))).as("word"))
      .filter(col("word").isNotNull && length(col("word")) >= 2 &&
        !col("word").contains("|"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    var vocab = words
      .select(regexp_replace(col("word"), "(\\S)", "|$1 ").as("enc"),
        col("freq"))
      .transform(graft.util.Fence.lineage)
    val rounds = (1 to BPE_LEARN_ROUNDS).map { r =>
      val syms = filter(split(col("enc"), "\\|"), s => s =!= "")
      // A prior round can collapse a 2-char word to ONE symbol; Spark
      // sequence(1, 0) DESCENDS ([1,0], default step -1) so the pair
      // transform would hit element_at(syms, 0) under ANSI. Drop
      // 1-symbol words before enumerating pairs — DuckDB's
      // generate_series(1, 0) is empty, so the oracle contribution of
      // those rows is already zero.
      val pairs = vocab
        .filter(size(syms) >= 2)
        .select(col("freq"), explode_outer(transform(
            sequence(lit(1), size(syms) - 1),
            i => struct(element_at(syms, i).as("a"),
              element_at(syms, i + 1).as("b")))).as("p"))
        .filter(col("p").isNotNull)
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
      val best = pairs
        .agg(min(struct((-col("cnt")).as("nc"), col("a"), col("b"))).as("m"))
        .select(col("m.a").as("a"), col("m.b").as("b"),
          (-col("m.nc")).as("cnt"))
      vocab = vocab.crossJoin(broadcast(best))
        .select(replace(col("enc"),
            concat(lit("|"), col("a"), lit("|"), col("b")),
            concat(lit("|"), rtrim(col("a")), col("b"))).as("enc"),
          col("freq"))
        .transform(graft.util.Fence.lineage)
      val toksAfter = vocab.agg(
        sum(col("freq") *
          (length(col("enc")) - length(replace(col("enc"), lit("|")))))
          .cast("long").as("tokens_after"))
      best.crossJoin(broadcast(toksAfter))
        .select(lit(r.toLong).as("round"), rtrim(col("a")).as("sym_a"),
          rtrim(col("b")).as("sym_b"), col("cnt").cast("long").as("pair_count"),
          col("tokens_after"))
    }
    rounds.reduce(_ unionByName _).orderBy(col("round"))
  }

  val bpeLearnSql: String = {
    val iters = (1 to BPE_LEARN_ROUNDS).map { r =>
      s"""p$r AS (
         SELECT u.p.a AS a, u.p.b AS b, CAST(sum(freq) AS BIGINT) AS cnt
         FROM (
           SELECT freq, unnest(list_transform(
             generate_series(1, greatest(len(l) - 1, 0)),
             i -> struct_pack(a := l[i], b := l[i + 1]))) AS p
           FROM (SELECT list_filter(string_split(enc, '|'), s -> s <> '') AS l,
                        freq
                 FROM v${r - 1}) lv) u
         GROUP BY 1, 2),
       b$r AS (
         SELECT (m).a AS a, (m).b AS b, -((m).nc) AS cnt FROM (
           SELECT min(struct_pack(nc := -cnt, a := a, b := b)) AS m FROM p$r)),
       v$r AS (
         SELECT replace(enc, '|' || b$r.a || '|' || b$r.b,
                  '|' || rtrim(b$r.a) || b$r.b) AS enc, freq
         FROM v${r - 1} CROSS JOIN b$r),
       t$r AS (
         SELECT CAST(sum(freq * (len(enc) - len(replace(enc, '|', ''))))
           AS BIGINT) AS tokens_after FROM v$r)"""
    }.mkString(",\n       ")
    val rows = (1 to BPE_LEARN_ROUNDS).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round, rtrim(b$r.a) AS sym_a,
           rtrim(b$r.b) AS sym_b, b$r.cnt AS pair_count, t$r.tokens_after
         FROM b$r CROSS JOIN t$r"""
    }.mkString("\n       UNION ALL\n       ")
    s"""WITH w AS (
         SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
           SELECT unnest(${toksSql("text")}) AS word FROM documents)
         WHERE len(word) >= 2 AND word NOT LIKE '%|%' GROUP BY word),
       v0 AS (
         SELECT regexp_replace(word, '(\\S)', '|\\1 ', 'g') AS enc, freq
         FROM w),
       $iters
       $rows
       ORDER BY round"""
  }
}
