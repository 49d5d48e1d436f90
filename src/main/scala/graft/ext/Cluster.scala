package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Embedding-space clustering — the semantic organization step of a
  * training-data pipeline (SemDeDup-style cluster-then-dedup, domain
  * balancing, curriculum bucketing all start from exactly this
  * k-means pass over document embeddings).
  *
  * Determinism strategy (what makes a k-means oracle-checkable at
  * all): no RNG and no accumulated floating point anywhere.
  *  - init: the first K vectors by vec_id are the seed centroids —
  *    a fixed, engine-independent choice (k-means++ would need an
  *    RNG; at production scale you'd seed from a prior run instead);
  *  - vectors are integer milli-quantized ([[Similarity]]'s scheme),
  *    centroids live in micro-units, so every squared distance is
  *    EXACT 64-bit integer arithmetic — argmin ties broken by lower
  *    cluster id are therefore identical in any engine;
  *  - the centroid update rounds the per-dimension mean to integer
  *    micro-units via `floor(S*1000/n)` — S and n are exact integers
  *    below 2^53, so the one double division is correctly rounded
  *    IEEE in both engines and the floor is bit-stable.
  *
  * Scale shape: centroids are K×DIM ≈ nothing — always broadcast;
  * each assignment pass is a narrow broadcast-join map (K distance
  * evaluations per row, no shuffle beyond the argmin bookkeeping);
  * the update is ONE shuffle of (cluster, dim) partial sums —
  * map-side combine reduces each partition to ≤ K·DIM rows, so the
  * exchange never scales with N. Iterations compose linearly; this
  * operator runs the canonical two assignment passes around one
  * update so the full machinery (assign → update → reassign) is
  * exercised and oracle-checked end to end.
  */
object Cluster {

  private val K = 8
  private val DIM = 64
  private[ext] val SCALE = 1000L   // centroid micro-units per vector milli-unit

  /** The milli-quantized embeddings frame — referenced by the seed
    * pick and every assignment pass, so the quantization is fenced
    * once. Shared with [[Similarity.knnIvfKmeans]]. */
  private[ext] def quantized(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), Similarity.quant(col("embedding")).as("qv"))
      .transform(graft.util.Fence.lineage)

  /** Nearest centroid per vector: K exact integer distances, argmin
    * ties to the lower cluster id. Fused native Σ(x·S − c)²
    * ([[graft.functions.ScaledDistSq]]) — identical to the composed
    * zip_with+fold it replaced (FunctionsSpec parity), one codegen'd
    * loop per candidate row. */
  private def assign(e: DataFrame, cents: DataFrame): DataFrame = {
    val scored = e.crossJoin(broadcast(cents))
      .withColumn("dist2", graft.functions.ScaledDistSq(
        col("qv"), col("cent"), lit(SCALE)))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist2"), col("cluster"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("qv"), col("cluster"), col("dist2"))
  }

  /** The trained coarse quantizer — seed assignment plus one exact
    * centroid update, as `(cluster, cent)` in micro-units. This is
    * the frame a production pipeline persists and broadcasts into
    * every index build; [[Similarity.knnIvfKmeans]] consumes it as
    * the IVF cell table (train → index composition). */
  private[ext] def trainedCentroids(e: DataFrame): DataFrame = {
    val seeds = e.filter(col("vec_id") < K)
      .select(col("vec_id").as("cluster"),
        transform(col("qv"), x => x * SCALE).as("cent"))
    val a1 = assign(e, seeds)
    // centroid update: per-(cluster, dim) exact sums — map-side
    // combine caps the exchange at K·DIM rows per partition
    val sums = a1.select(col("cluster"),
        posexplode_outer(col("qv")).as(Seq("pos", "v")))
      .filter(col("pos").isNotNull)
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    val updated = sums
      .withColumn("c", floor(col("s") * 1000.0 / col("n")).cast("long"))
      .groupBy(col("cluster"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("cluster"), transform(col("pc"), p => p.getField("c")).as("cent"))
    // a seed duplicated elsewhere can leave its cluster empty after
    // reassignment — an empty cluster keeps its seed centroid
    seeds.withColumnRenamed("cent", "seed_cent")
      .join(updated, Seq("cluster"), "left")
      .select(col("cluster"), coalesce(col("cent"), col("seed_cent")).as("cent"))
  }

  def kmeansEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val e = quantized(spark, dir)
    assign(e, trainedCentroids(e))
      .select(col("vec_id"), col("cluster"), col("dist2"))
      .orderBy(col("vec_id"))
  }

  /** Exact integer distance of a quantized vector `qv` to a
    * micro-unit centroid column — shared with the IVF composition's
    * oracle twin. */
  private[ext] def distSql(cent: String): String =
    s"CAST(list_sum(list_transform(generate_series(1, $DIM), " +
      s"i -> (qv[i] * $SCALE - $cent[i]) * (qv[i] * $SCALE - $cent[i]))) AS BIGINT)"

  private def assignSql(cents: String, out: String) =
    s"""${out}s AS (
         SELECT e.vec_id, e.qv, c.cluster, ${distSql("c.cent")} AS dist2
         FROM e CROSS JOIN $cents c),
       $out AS (
         SELECT vec_id, qv, cluster, dist2 FROM (
           SELECT *, row_number() OVER (
             PARTITION BY vec_id ORDER BY dist2, cluster) AS rn
           FROM ${out}s) WHERE rn = 1)"""

  /** The WITH-body producing `e` (quantized embeddings) and `cents`
    * (trained micro-unit centroids) — the SQL twin of
    * [[quantized]]+[[trainedCentroids]], shared by the k-means oracle
    * and the IVF-composition oracle so both engines index against the
    * byte-identical centroid table. */
  private[ext] val trainCtesSql: String =
    s"""e AS (SELECT vec_id, ${Similarity.quantSql} AS qv FROM embeddings),
       seeds AS (
         SELECT vec_id AS cluster, list_transform(qv, x -> x * $SCALE) AS cent
         FROM e WHERE vec_id < $K),
       ${assignSql("seeds", "a1")},
       sums AS (
         SELECT cluster, unnest(generate_series(1, $DIM)) AS pos,
                unnest(qv) AS v
         FROM a1),
       dimsum AS (
         SELECT cluster, pos, sum(v) AS s, count(*) AS n
         FROM sums GROUP BY cluster, pos),
       updated AS (
         SELECT cluster, list(CAST(floor(s * 1000.0 / n) AS BIGINT) ORDER BY pos) AS cent
         FROM dimsum GROUP BY cluster),
       cents AS (
         SELECT s.cluster, coalesce(u.cent, s.cent) AS cent
         FROM seeds s LEFT JOIN updated u ON s.cluster = u.cluster)"""

  val kmeansEmbeddingsSql: String =
    s"""WITH $trainCtesSql,
       ${assignSql("cents", "a2")}
       SELECT vec_id, cluster, dist2 FROM a2 ORDER BY vec_id"""

  /** Per-label embedding outliers — the mislabeled/noisy-sample sweep
    * of an embedding-curated corpus: the 5 vectors farthest from
    * their label's centroid. Scored EXACTLY in integers by comparing
    * n-scaled vectors against the per-label component SUM (never a
    * mean): dist2n = Σ_d (n·x_d − S_d)² orders identically to true
    * centroid distance within a label (it is n² × that distance).
    *
    * Scale shape: S is one (label, dim) partial-sum shuffle capped by
    * map-side combine at L·DIM rows per partition (same exchange as
    * the k-means update); the L×DIM centroid frame broadcasts; scoring
    * is a narrow broadcast-join map; the per-label head compiles to
    * WindowGroupLimit (top-5 retained per partition before the
    * shuffle). Overflow bound: |n·x − S| ≤ 2n·10³, so dist2n ≤
    * 4·10⁶·n²·DIM — safe in 64-bit to n ≈ 10⁵ rows/label at DIM=64;
    * past that, switch the score to floor-of-mean micro-units (the
    * k-means centroid construction) at the cost of n²-exactness. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), col("label"), Similarity.quant(col("embedding")).as("qv"))
      .transform(graft.util.Fence.lineage)
    val sums = e.select(col("label"), posexplode_outer(col("qv")).as(Seq("pos", "v")))
      .filter(col("pos").isNotNull)
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v")).as("s"))
    val cent = sums.groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("s")))).as("ps"))
      .select(col("label"), transform(col("ps"), p => p.getField("s")).as("sv"))
    val n = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val scored = e.join(broadcast(cent), Seq("label"))
      .join(broadcast(n), Seq("label"))
      .withColumn("dist2n", graft.functions.ScaledDistSq(
        col("qv"), col("sv"), col("n")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("dist2n").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("label"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("dist2n"))
      .orderBy(col("label"), col("rank"))
  }

  val embeddingOutliersSql: String =
    s"""WITH e AS (SELECT vec_id, label, ${Similarity.quantSql} AS qv FROM embeddings),
       dims AS (
         SELECT label, unnest(generate_series(1, $DIM)) AS pos, unnest(qv) AS v
         FROM e),
       cent AS (
         SELECT label, list(s ORDER BY pos) AS sv FROM (
           SELECT label, pos, CAST(sum(v) AS BIGINT) AS s
           FROM dims GROUP BY label, pos) GROUP BY label),
       n AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY label),
       scored AS (
         SELECT e.vec_id, e.label,
           CAST(list_sum(list_transform(generate_series(1, $DIM),
             i -> (e.qv[i] * n.n - c.sv[i]) * (e.qv[i] * n.n - c.sv[i]))) AS BIGINT)
             AS dist2n
         FROM e JOIN cent c USING (label) JOIN n USING (label)),
       ranked AS (
         SELECT label, vec_id, dist2n,
           row_number() OVER (PARTITION BY label ORDER BY dist2n DESC, vec_id) AS rank
         FROM scored)
       SELECT label, CAST(rank AS BIGINT) AS rank, vec_id, dist2n
       FROM ranked WHERE rank <= 5 ORDER BY label, rank"""

  private val PCA_ITERS = 3
  private val PCA_QCAP  = 4000L

  /** Top principal direction of the embedding corpus by INTEGER
    * power iteration — the diversity/anisotropy diagnostic a
    * training pipeline reads before trusting cosine similarity (a
    * corpus whose mass collapses onto one direction gives degenerate
    * nearest-neighbor structure; the fix — mean-centering or
    * whitening — starts from exactly this loading vector).
    *
    * v ← Aᵀ(Av) without ever materializing the 64×64 Gram matrix:
    * per row one fused dot s = ⟨q, v⟩ ([[graft.functions.LongDot]]),
    * then the 64-dim column sums Σ s·qᵢ — a posexplode into a
    * 64-key map-side-combined aggregate. Each iteration renormalizes
    * v to ~millis by an exact integer division (truncation toward
    * zero, identical in both engines), so every quantity stays a
    * BIGINT with proven bounds: |q| ≤ [[PCA_QCAP]] (asserted in-plan
    * with `raise_error` — the overflow-safety contract), |v| ≤ 2000,
    * s ≤ 64·4000·2000 ≈ 5·10⁸, and the summed w ≤ 4·10¹⁸ even at
    * 2M rows (sf10) — inside long range. The identity-free
    * deterministic start v₀ = (1000,…,1000) makes the whole
    * trajectory reproducible (no RNG, per the repo convention).
    *
    * Scale shape per iteration: one 1-row broadcast (v), one codegen
    * dot per row, one 64-key aggregate — the corpus is scanned K=3
    * times behind a lineage fence and nothing wider than (i, long)
    * shuffles. The 64-row ↔ 1-row-array reshapes are constant-size. */
  def embeddingPca(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id"), Similarity.quant(col("embedding")).as("q0"))
      .select(col("vec_id"),
        when(array_max(transform(col("q0"), x => abs(x))) <= PCA_QCAP, col("q0"))
          .otherwise(raise_error(lit(
            s"embedding_pca: |q| exceeds $PCA_QCAP milli — BIGINT bound void")))
          .as("q"))
      .transform(graft.util.Fence.lineage)
    var v = spark.range(1)
      .select(transform(sequence(lit(1), lit(DIM)), _ => lit(1000L)).as("v"))
    var wrow: DataFrame = null
    for (_ <- 1 to PCA_ITERS) {
      val s = e.crossJoin(broadcast(v))
        .select(col("q"), graft.functions.LongDot(col("q"), col("v")).as("s"))
      val w = s.select(col("s"), posexplode_outer(col("q")))
        .filter(col("col").isNotNull)
        .withColumnRenamed("pos", "i").withColumnRenamed("col", "qi")
        .groupBy(col("i")).agg(sum(col("qi") * col("s")).as("w"))
      // one 1-row aggregate carries BOTH the sorted w vector and the
      // scale knob — the former separate scale agg + broadcast +
      // crossJoin per iteration were three extra tiny stages per
      // round for the same integer renormalization. g uses SQL `div`
      // (exact long division — scale_max can exceed 2^53); the
      // in-lambda w div g is exact through doubles because the
      // quotient is bounded by ~2·10³ (|w| ≤ scale_max, g ≥
      // scale_max div 1000), so the +0.5 floor absorbs the double
      // rounding of the multiple while truncation semantics come from
      // the explicit sign split.
      wrow = w.agg(
        transform(array_sort(collect_list(struct(col("i"), col("w")))),
          st => st.getField("w")).as("warr"),
        max(abs(col("w"))).cast("long").as("scale_max"))
        .withColumn("g", expr("greatest(scale_max div 1000, 1L)"))
      def tdiv(x: Column): Column = {
        val a = abs(x)
        val q = floor((a - pmod(a, col("g"))) / col("g") + 0.5).cast("long")
        when(x < 0, -q).otherwise(q)
      }
      v = wrow.select(transform(col("warr"), x => tdiv(x)).as("v"))
    }
    wrow.select(col("scale_max"),
        posexplode_outer(col("warr")).as(Seq("pos", "w")), col("g"))
      .select((col("pos") + 1).cast("long").as("dim"),
        expr("w div g").cast("long").as("loading_milli"),
        col("scale_max"))
      .orderBy(col("dim"))
  }

  val embeddingPcaSql: String = {
    val iters = (1 to PCA_ITERS).map { k =>
      s"""s$k AS (
         SELECT e.vec_id, e.q,
           CAST(list_sum(list_transform(generate_series(1, $DIM),
             i -> e.q[i] * v.v[i])) AS BIGINT) AS s
         FROM e CROSS JOIN v${k - 1} v),
       w$k AS (
         SELECT d.i, CAST(sum(t.q[d.i] * t.s) AS BIGINT) AS w
         FROM s$k t CROSS JOIN dims d GROUP BY d.i),
       g$k AS (
         SELECT greatest(max(abs(w)) // 1000, 1) AS g,
           CAST(max(abs(w)) AS BIGINT) AS scale_max
         FROM w$k),
       v$k AS (
         SELECT list(w.w // g.g ORDER BY w.i) AS v FROM w$k w CROSS JOIN g$k g)"""
    }.mkString(",\n       ")
    s"""WITH e AS MATERIALIZED (
         SELECT vec_id,
           CASE WHEN list_max(list_transform(q0, x -> abs(x))) <= $PCA_QCAP
                THEN q0
                ELSE error('embedding_pca: |q| exceeds $PCA_QCAP milli')
           END AS q
         FROM (SELECT vec_id, ${Similarity.quantSql} AS q0 FROM embeddings)),
       dims AS (SELECT unnest(generate_series(1, $DIM)) AS i),
       v0 AS (SELECT list_transform(generate_series(1, $DIM), i -> 1000) AS v),
       $iters
       SELECT CAST(w.i AS BIGINT) AS dim,
         CAST(w.w // g.g AS BIGINT) AS loading_milli,
         g.scale_max
       FROM w$PCA_ITERS w CROSS JOIN g$PCA_ITERS g
       ORDER BY dim"""
  }
}
