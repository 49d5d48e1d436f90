package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import TextAnalysis.{toks, toksSql}

/** Ranked retrieval over the `documents` table: BM25 scoring of a
  * fixed query, top-k by score.
  *
  * Portability design: classic BM25 takes ln() of the idf ratio, but
  * libm transcendentals are NOT bit-identical across engines (the
  * same reason bigram_lm_score uses raw frequencies — see
  * Corpus.scala). The monotone rational core
  * `(N - df + 0.5)/(df + 0.5)` preserves the ranking semantics with
  * only IEEE +,-,*,/ on identical operands — bit-identical in both
  * engines. Each per-term score is then rounded to integer
  * MICRO-units (floor(x*1e6 + 0.5) AS BIGINT) so the cross-term sum
  * is exact integer arithmetic — no summation-order drift — and the
  * final ordering key is a BIGINT.
  *
  * Scale shape: the per-term tf columns are a narrow codegen map
  * (size(filter(toks, = term)) — no explode, no shuffle); N/df/avgdl
  * are one tiny global aggregate broadcast back via a 1-row cross
  * join; the top-k is TakeOrderedAndProject (per-partition heads +
  * k-row merge), never a global sort. A variable query would explode
  * (doc_id, term) pairs instead — same two-shuffle shape as
  * vocab_topk.
  */
object Retrieval {

  /** Fixed query — mid-frequency corpus terms, embedded identically
    * in the SQL twin. */
  private val QUERY = Seq("hash", "join", "stream")
  private val K1 = 1.2
  private val B  = 0.75
  private val TOPK = 20

  /** The scored BM25 frame (doc_id, source, score_micro > 0) shared
    * by [[bm25Topk]] and [[hybridSearch]]'s lexical arm. */
  private def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism) // single-split table, CPU-bound tf map
      .withColumn("t", toks(col("text")))
      .select(col("doc_id") +: col("source") +: size(col("t")).cast("long").as("dl") +:
        QUERY.zipWithIndex.map { case (q, i) =>
          size(filter(col("t"), x => x === q)).cast("long").as(s"tf$i")
        }: _*)
      // referenced twice (corpus stats + scoring) — fence so the tf
      // map over the token arrays runs once
      .transform(graft.util.Fence.lineage)
    val stats = d.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl") +:
      QUERY.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    // identical operand order in both engines: idf * (tf*(k1+1)) /
    // (tf + k1*(1 - b + b*dl/avgdl)), each term floored to micro-units
    def termMicro(i: Int): Column = {
      val tf  = col(s"tf$i").cast("double")
      val idf = (col("n_docs").cast("double") - col(s"df$i").cast("double") + 0.5) /
                (col(s"df$i").cast("double") + 0.5)
      val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
      val s = idf * (tf * (K1 + 1.0)) /
        (tf + lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl").cast("double") / avgdl)))
      floor(s * 1000000L + 0.5).cast("long")
    }
    d.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("source"),
        QUERY.indices.map(termMicro).reduce(_ + _).as("score_micro"))
      .filter(col("score_micro") > 0)
  }

  def bm25Topk(spark: SparkSession, dir: String): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(TOPK)

  val bm25TopkSql: String = {
    val tfCols = QUERY.zipWithIndex.map { case (q, i) =>
      s"len(list_filter(t, x -> x = '$q')) AS tf$i"
    }.mkString(", ")
    val dfCols = QUERY.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val terms = QUERY.indices.map { i =>
      val idf = s"((CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))"
      val s = s"$idf * (CAST(tf$i AS DOUBLE) * ${K1 + 1.0}) / " +
        s"(CAST(tf$i AS DOUBLE) + $K1 * (${1.0 - B} + $B * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"
      s"CAST(floor(($s) * 1000000 + 0.5) AS BIGINT)"
    }.mkString(" + ")
    s"""WITH d AS (
         SELECT doc_id, source, CAST(len(t) AS BIGINT) AS dl, $tfCols
         FROM (SELECT doc_id, source, ${toksSql("text")} AS t FROM documents)),
       stats AS (
         SELECT count(*) AS n_docs, sum(dl) AS sum_dl, $dfCols FROM d)
       SELECT doc_id, source, ($terms) AS score_micro
       FROM d CROSS JOIN stats
       WHERE ($terms) > 0
       ORDER BY score_micro DESC, doc_id
       LIMIT $TOPK"""
  }

  /** Shortlist depth per arm and the RRF smoothing constant (60 is
    * the value from the original reciprocal-rank-fusion paper;
    * Cormack et al., SIGIR'09). */
  private val FUSE_N = 100
  private val RRF_K = 60L

  /** Hybrid search — reciprocal-rank fusion of the lexical BM25 arm
    * and a dense cosine arm (the standard two-tower hybrid every
    * retrieval stack ships: scores are incomparable across arms, so
    * fuse RANKS: `Σ 1/(60 + rank)`). Kept exact as
    * `10⁹ div (60 + rank)` BIGINT terms. The dense arm scores each
    * document's embedding (vec_id aligns with doc_id in the corpus)
    * against query vector 0 with the [[Similarity]] integer-quantized
    * cosine; docs missing from an arm's top-[[FUSE_N]] shortlist
    * contribute 0 from that arm (shortlist-RRF, the production
    * variant — full-corpus RRF would force a total sort per arm).
    *
    * Scale shape: each arm is a bounded TakeOrdered head (the same
    * plan as its standalone query), the fusion is a full outer join
    * of two ≤[[FUSE_N]]-row frames, and the final top-k is again
    * TakeOrdered — nothing corpus-sized is sorted or shuffled beyond
    * the arms' own aggregates. */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // sort+limit FIRST (TakeOrderedAndProject — per-partition heads,
    // no global sort), then rank inside the ≤FUSE_N-row head; the
    // single-partition rank window only ever sees the bounded head
    val wLex = Window.orderBy(col("score_micro").desc, col("doc_id"))
    val lex = bm25Scores(spark, dir)
      .orderBy(col("score_micro").desc, col("doc_id")).limit(FUSE_N)
      .withColumn("lex_rank", row_number().over(wLex).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val e = Tables.embeddings(spark, dir)
      .withColumn("qv", Similarity.quant(col("embedding")))
    val q = e.filter(col("vec_id") === 0)
      .select(col("qv").as("qvec"))
    val wDen = Window.orderBy(col("cosine").desc, col("doc_id"))
    val dense = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        Similarity.cosine(col("qvec"), col("qv")).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id")).limit(FUSE_N)
      .withColumn("dense_rank", row_number().over(wDen).cast("long"))
      .select(col("doc_id"), col("dense_rank"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
        (coalesce(expr(s"1000000000 div ($RRF_K + lex_rank)"), lit(0L)) +
         coalesce(expr(s"1000000000 div ($RRF_K + dense_rank)"), lit(0L)))
          .as("rrf_nano"))
      .orderBy(col("rrf_nano").desc, col("doc_id"))
      .limit(TOPK)
  }

  val hybridSearchSql: String = {
    val tfCols = QUERY.zipWithIndex.map { case (q, i) =>
      s"len(list_filter(t, x -> x = '$q')) AS tf$i"
    }.mkString(", ")
    val dfCols = QUERY.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
    val terms = QUERY.indices.map { i =>
      val idf = s"((CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))"
      val s = s"$idf * (CAST(tf$i AS DOUBLE) * ${K1 + 1.0}) / " +
        s"(CAST(tf$i AS DOUBLE) + $K1 * (${1.0 - B} + $B * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"
      s"CAST(floor(($s) * 1000000 + 0.5) AS BIGINT)"
    }.mkString(" + ")
    s"""WITH d AS (
         SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, $tfCols
         FROM (SELECT doc_id, ${toksSql("text")} AS t FROM documents)),
       stats AS (
         SELECT count(*) AS n_docs, sum(dl) AS sum_dl, $dfCols FROM d),
       lex AS (
         SELECT doc_id,
           CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id)
             AS BIGINT) AS lex_rank
         FROM (SELECT doc_id, ($terms) AS score_micro
               FROM d CROSS JOIN stats WHERE ($terms) > 0)
         QUALIFY lex_rank <= $FUSE_N),
       e AS (SELECT vec_id, ${Similarity.quantSql} AS qv FROM embeddings),
       q AS (SELECT qv AS qvec FROM e WHERE vec_id = 0),
       den AS (
         SELECT vec_id AS doc_id,
           CAST(row_number() OVER (ORDER BY cosine DESC, vec_id)
             AS BIGINT) AS dense_rank
         FROM (
           SELECT e.vec_id, ${Similarity.cosSql("qvec", "qv")} AS cosine
           FROM e CROSS JOIN q WHERE e.vec_id <> 0)
         QUALIFY dense_rank <= $FUSE_N)
       SELECT coalesce(lex.doc_id, den.doc_id) AS doc_id,
         lex.lex_rank AS lex_rank, den.dense_rank AS dense_rank,
         CAST(coalesce(1000000000 // ($RRF_K + lex.lex_rank), 0)
            + coalesce(1000000000 // ($RRF_K + den.dense_rank), 0)
           AS BIGINT) AS rrf_nano
       FROM lex FULL OUTER JOIN den ON lex.doc_id = den.doc_id
       ORDER BY rrf_nano DESC, doc_id
       LIMIT $TOPK"""
  }

  /** Per-document keyword extraction: top 3 tokens by rational
    * tf-idf — tf × floor(N·10⁶/df) in exact integer ppm (the idf is
    * monotone in N/df, so the ranking matches log-idf's; no libm).
    * The per-doc head is a window over doc_id — a high-cardinality
    * partition key, so the rank filter compiles to WindowGroupLimit
    * (per-partition heads, no global sort of the (doc, token) space).
    *
    * Scale shape: one explode feeding TWO aggregates off one
    * materialized occurrence frame (tf keyed on (doc, token), df on
    * token), one equi-join back on token, corpus N broadcast as a
    * 1-row cross join. Everything shuffles on token or (doc, token)
    * — high-cardinality, skew-bounded by stopword frequency. */
  def keywordTopk(spark: SparkSession, dir: String): DataFrame = {
    val occ = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode_outer(toks(col("text"))).as("token"))
      .filter(col("token").isNotNull)
      // referenced by BOTH aggregates — materialize the explode once
      .transform(graft.util.Fence.lineage)
    // fenced: consumed by the scored join AND the df rollup below —
    // column pruning would otherwise specialize the two subtrees
    // (df's side drops the tf column) so ReuseExchange cannot fold
    // them and the (doc, token) frame would shuffle twice
    val tf = graft.util.Fence.lineage(
      occ.groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf")))
    // df = how many docs carry the token = tf's per-token row count —
    // riding the materialized tf instead of a countDistinct over the
    // raw occurrence frame drops one full shuffle of the
    // (token, doc_id) pairs (the invertedIndex builder's pattern,
    // guide §2.4)
    val df_ = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n"))
    val scored = tf.join(df_, Seq("token")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"),
        (col("tf") * floor(col("n") * 1000000.0 / col("df")).cast("long"))
          .cast("long").as("score_ppm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score_ppm").desc, col("token"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("token"), col("score_ppm"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val keywordTopkSql: String =
    s"""WITH t AS (
         SELECT doc_id, unnest(${toksSql("text")}) AS token FROM documents),
       tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY doc_id, token),
       df AS (SELECT token, count(DISTINCT doc_id) AS df FROM t GROUP BY token),
       n AS (SELECT count(*) AS n FROM documents),
       scored AS (
         SELECT tf.doc_id, tf.token,
           CAST(tf.tf * CAST(floor(n.n * 1000000.0 / df.df) AS BIGINT) AS BIGINT) AS score_ppm
         FROM tf JOIN df ON tf.token = df.token CROSS JOIN n),
       ranked AS (
         SELECT doc_id, token, score_ppm,
           row_number() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, token) AS rank
         FROM scored)
       SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, score_ppm
       FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank"""

  // ---- Inverted-index build ----------------------------------------

  private val POSTINGS = 8    // impact-ordered posting cap per term
  private val TERMS    = 100  // emitted dictionary rows

  /** Inverted-index build — the retrieval artifact [[bm25Topk]]
    * implies but never materializes: per term, the document frequency,
    * collection frequency, and an IMPACT-ORDERED capped posting list
    * (top-[[POSTINGS]] docs by tf, ties to the lower doc_id — the
    * static index-pruning layout an impact-sorted index serves top-k
    * from without walking full postings). The emitted dictionary is
    * the [[TERMS]] highest-cf terms — a bounded report, not the full
    * index; the full-index write is the same plan minus the final
    * TakeOrdered.
    *
    * Scale shape: one explode, then TWO aggregates off ONE fenced
    * occurrence frame — (doc,term) tf with map-side combine, then (a)
    * the term-keyed df/cf rollup and (b) the posting head via a
    * row_number rank filter that compiles to WindowGroupLimit
    * (per-partition heads per term — a stopword's million-doc posting
    * list never collects anywhere; only [[POSTINGS]] rows per term
    * survive to the collect_list, which is why the groupBy collect is
    * safe). One term-keyed equi-join stitches dictionary and heads.
    * The posting string is rank-concatenated in an explicitly total
    * order, so it is deterministic cross-engine without the
    * set-checksum fallback. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val occ = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode_outer(toks(col("text"))).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      // referenced by BOTH the dictionary rollup and the posting-head
      // window — materialize the explode+combine once
      .transform(graft.util.Fence.lineage)
    val dict = occ.groupBy(col("term"))
      .agg(count(lit(1)).cast("long").as("df"),
        sum(col("tf")).cast("long").as("cf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"))
      .orderBy(col("tf").desc, col("doc_id"))
    val heads = occ.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= POSTINGS)
      .groupBy(col("term"))
      .agg(concat_ws("|", transform(
        array_sort(collect_list(struct(col("rk"),
          concat(col("doc_id").cast("string"), lit(":"),
            col("tf").cast("string")).as("p")))),
        s => s.getField("p"))).as("postings"))
    dict.join(heads, Seq("term"))
      .orderBy(col("cf").desc, col("term"))
      .limit(TERMS)
  }

  val invertedIndexSql: String =
    s"""WITH o AS (
         SELECT doc_id, unnest(${toksSql("text")}) AS term FROM documents),
       occ AS (SELECT term, doc_id, count(*) AS tf FROM o GROUP BY term, doc_id),
       dict AS (
         SELECT term, CAST(count(*) AS BIGINT) AS df,
                CAST(sum(tf) AS BIGINT) AS cf
         FROM occ GROUP BY term),
       r AS (
         SELECT term, doc_id, tf,
           row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rk
         FROM occ),
       h AS (
         SELECT term,
           string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
                      '|' ORDER BY rk) AS postings
         FROM r WHERE rk <= $POSTINGS GROUP BY term)
       SELECT d.term, d.df, d.cf, h.postings
       FROM dict d JOIN h USING (term)
       ORDER BY cf DESC, term LIMIT $TERMS"""

  // ---- Boolean (conjunctive) search --------------------------------

  /** Conjunctive boolean retrieval: documents containing ALL query
    * terms, with per-term tfs — the postings-intersection operator a
    * boolean search engine runs before ranking. The plan is the
    * intersection shape, not a full-corpus rescan: the exploded
    * occurrence stream is filtered to the query terms BEFORE the
    * shuffle (so only matching postings move), then one groupBy(doc)
    * counts distinct matched terms and keeps docs matching all
    * |QUERY| — the k-way posting intersection as a count-threshold
    * aggregate, the standard distributed formulation (smallest-list
    * skipping is a single-node trick; the filter-then-count form is
    * what parallelizes).
    *
    * Scale shape: one explode (outer, per the InferFiltersFromGenerate
    * trap), one term-filtered shuffle keyed on doc_id, map-side
    * combine on (doc, term). Query terms are a tiny IN-list pushed to
    * the occurrence filter. */
  def booleanSearch(spark: SparkSession, dir: String): DataFrame = {
    val matched = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id"), explode_outer(toks(col("text"))).as("term"))
      .filter(col("term").isNotNull && col("term").isInCollection(QUERY))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).cast("long").as("tf_sum"))
      .filter(col("n_terms") === QUERY.size)
    matched.join(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("tf_sum"))
      .orderBy(col("doc_id"))
  }

  val booleanSearchSql: String = {
    val inList = QUERY.map(q => s"'$q'").mkString(", ")
    s"""WITH o AS (
         SELECT doc_id, unnest(${toksSql("text")}) AS term FROM documents),
       occ AS (
         SELECT doc_id, term, count(*) AS tf FROM o
         WHERE term IN ($inList) GROUP BY doc_id, term),
       m AS (
         SELECT doc_id, count(*) AS n_terms, CAST(sum(tf) AS BIGINT) AS tf_sum
         FROM occ GROUP BY doc_id HAVING count(*) = ${QUERY.size})
       SELECT m.doc_id, d.source, m.tf_sum
       FROM m JOIN documents d ON m.doc_id = d.doc_id
       ORDER BY m.doc_id"""
  }

  // ---- Positional phrase search ------------------------------------

  private val PHRASE = ("hash", "join")

  /** Exact-phrase search: documents where the bigram
    * `"${PHRASE._1} ${PHRASE._2}"` occurs at adjacent token
    * positions — the positional-index query. Instead of materializing
    * a positional index and self-joining postings on pos+1 (two
    * shuffles), the adjacency test is a NARROW codegen map per
    * document: count positions p with t[p]=w1 ∧ t[p+1]=w2 over the
    * token array. Zero shuffles before the final top-k — the plan a
    * 100 TB corpus scan wants, since phrase matching is
    * embarrassingly per-document. The adjacency count is the native
    * codegen [[graft.functions.PairCount]] — one primitive loop per
    * row; the composed `filter(sequence(…), element_at ∧ element_at)`
    * it replaced is CodegenFallback (two interpreted calls per
    * position) and measured 2.7 s at sf0.1 where the kernel is
    * sub-second.
    *
    * DuckDB twin walks the same positions via unnest(range) + 1-based
    * list indexing — identical integer semantics. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val (w1, w2) = PHRASE
    val d = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("t", toks(col("text")))
      .withColumn("n_phrase", graft.functions.PairCount(col("t"), w1, w2))
    d.filter(col("n_phrase") > 0)
      .select(col("doc_id"), col("lang"), col("n_phrase"))
      .orderBy(col("n_phrase").desc, col("doc_id"))
  }

  val phraseSearchSql: String = {
    val (w1, w2) = PHRASE
    s"""WITH d AS (
         SELECT doc_id, lang, ${toksSql("text")} AS t FROM documents),
       pos AS (
         SELECT doc_id, lang, unnest(range(1, len(t))) AS p, t
         FROM d WHERE len(t) >= 2),
       hits AS (
         SELECT doc_id, lang, count(*) AS n_phrase FROM pos
         WHERE t[p] = '$w1' AND t[p + 1] = '$w2'
         GROUP BY doc_id, lang)
       SELECT doc_id, lang, CAST(n_phrase AS BIGINT) AS n_phrase
       FROM hits ORDER BY n_phrase DESC, doc_id"""
  }

  // ---- Ranking-quality evaluation ----------------------------------

  private val EVAL_K = 10
  private val GOLD_TF = 3L

  /** Retrieval ranking evaluation — the offline eval loop every
    * search/RAG stack runs against its index: for each query term,
    * score the corpus with the single-term BM25 rational core, take
    * the top-[[EVAL_K]], and grade the head against a gold set
    * (documents with tf ≥ [[GOLD_TF]] — a label derivable identically
    * in both engines). Emits per-query n_gold, hits@k, the first
    * relevant rank, and MRR / recall@k / precision@k in exact integer
    * MICRO-units (`1e6 div rank` — integer division truncates
    * identically in Spark and DuckDB; no doubles cross an aggregate).
    *
    * Scale shape: one narrow tf map over the token arrays (fenced —
    * shared by the stats aggregate and the scorer), corpus stats as a
    * 1-row broadcast, then per query term a TakeOrderedAndProject
    * head of [[EVAL_K]] rows; the rank window and the metric fold only
    * ever see those ≤[[EVAL_K]]-row heads. Nothing corpus-sized is
    * globally sorted; adding queries adds bounded heads, not
    * shuffles. */
  def retrievalMrr(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("t", toks(col("text")))
      .select(col("doc_id") +: size(col("t")).cast("long").as("dl") +:
        QUERY.zipWithIndex.map { case (q, i) =>
          size(filter(col("t"), x => x === q)).cast("long").as(s"tf$i")
        }: _*)
      .transform(graft.util.Fence.lineage)
    val stats = d.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl") +:
      (QUERY.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")) ++
       QUERY.indices.map(i =>
        sum(when(col(s"tf$i") >= GOLD_TF, 1L).otherwise(0L)).as(s"gold$i"))): _*)
    val scored = d.crossJoin(broadcast(stats))
    def termMicro(i: Int): Column = {
      val tf  = col(s"tf$i").cast("double")
      val idf = (col("n_docs").cast("double") - col(s"df$i").cast("double") + 0.5) /
                (col(s"df$i").cast("double") + 0.5)
      val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
      val s = idf * (tf * (K1 + 1.0)) /
        (tf + lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl").cast("double") / avgdl)))
      floor(s * 1000000L + 0.5).cast("long")
    }
    val perTerm = QUERY.zipWithIndex.map { case (q, i) =>
      val w = Window.orderBy(col("s").desc, col("doc_id"))
      val head = scored
        .select(col("doc_id"), col(s"tf$i").as("tf"), termMicro(i).as("s"),
          col(s"gold$i").as("n_gold"))
        .filter(col("s") > 0)
        .orderBy(col("s").desc, col("doc_id")).limit(EVAL_K)
        .withColumn("r", row_number().over(w).cast("long"))
      // global aggregate (not a groupBy on the constant n_gold): an
      // empty head must still emit one row, like the SQL twin's
      // GROUP-BY-less aggregate
      head.agg(
          max(col("n_gold")).cast("long").as("n_gold"),
          sum(when(col("tf") >= GOLD_TF, 1L).otherwise(0L)).cast("long")
            .as("hits_at_k"),
          min(when(col("tf") >= GOLD_TF, col("r"))).cast("long")
            .as("first_rank"))
        .select(lit(q).as("term"), col("n_gold"),
          col("hits_at_k"), col("first_rank"))
    }
    perTerm.reduce(_ unionByName _)
      .withColumn("mrr_micro",
        coalesce(expr("1000000 div first_rank"), lit(0L)))
      .withColumn("recall_micro",
        coalesce(expr("(hits_at_k * 1000000) div nullif(n_gold, 0)"), lit(0L)))
      .withColumn("precision_micro", expr(s"(hits_at_k * 1000000) div $EVAL_K"))
      .orderBy(col("term"))
  }

  val retrievalMrrSql: String = {
    val tfCols = QUERY.zipWithIndex.map { case (q, i) =>
      s"len(list_filter(t, x -> x = '$q')) AS tf$i"
    }.mkString(", ")
    val statCols = (QUERY.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i") ++
      QUERY.indices.map(i =>
        s"sum(CASE WHEN tf$i >= $GOLD_TF THEN 1 ELSE 0 END) AS gold$i"))
      .mkString(", ")
    def score(i: Int): String = {
      val idf = s"((CAST(n_docs AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5))"
      val s = s"$idf * (CAST(tf$i AS DOUBLE) * ${K1 + 1.0}) / " +
        s"(CAST(tf$i AS DOUBLE) + $K1 * (${1.0 - B} + $B * (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))"
      s"CAST(floor(($s) * 1000000 + 0.5) AS BIGINT)"
    }
    val heads = QUERY.zipWithIndex.map { case (q, i) =>
      s"""h$i AS (
           SELECT tf$i AS tf, gold$i AS n_gold,
             CAST(row_number() OVER (ORDER BY ${score(i)} DESC, doc_id)
               AS BIGINT) AS r
           FROM scored WHERE ${score(i)} > 0
           QUALIFY r <= $EVAL_K),
         m$i AS (
           SELECT '$q' AS term, CAST(max(n_gold) AS BIGINT) AS n_gold,
             CAST(sum(CASE WHEN tf >= $GOLD_TF THEN 1 ELSE 0 END) AS BIGINT)
               AS hits_at_k,
             CAST(min(CASE WHEN tf >= $GOLD_TF THEN r END) AS BIGINT)
               AS first_rank
           FROM h$i)"""
    }.mkString(",\n       ")
    val union = QUERY.indices.map(i => s"SELECT * FROM m$i")
      .mkString(" UNION ALL ")
    s"""WITH d AS (
         SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, $tfCols
         FROM (SELECT doc_id, ${toksSql("text")} AS t FROM documents)),
       stats AS (
         SELECT count(*) AS n_docs, sum(dl) AS sum_dl, $statCols FROM d),
       scored AS (SELECT * FROM d CROSS JOIN stats),
       $heads
       SELECT term, n_gold, hits_at_k, first_rank,
         CAST(coalesce(1000000 // first_rank, 0) AS BIGINT) AS mrr_micro,
         CAST(coalesce((hits_at_k * 1000000) // nullif(n_gold, 0), 0)
           AS BIGINT) AS recall_micro,
         CAST((hits_at_k * 1000000) // $EVAL_K AS BIGINT) AS precision_micro
       FROM ($union) ORDER BY term"""
  }
}
