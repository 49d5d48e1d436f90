package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (BASELINE.json north-star): brute-force cosine top-k as the exact
  * baseline, and a random-hyperplane LSH bucketed variant as the
  * scale path.
  *
  * Numeric strategy: embeddings are quantized to integer milli-units
  * (`floor(x*1000+0.5)` — standard int-quantization) so every dot
  * product and norm is EXACT 64-bit integer arithmetic, identical in
  * any engine and under any summation order; only the final
  * `dot/(|a||b|)` touches floating point, on identical inputs. That
  * is what lets cosine similarity itself be oracle-checked.
  *
  * Scale notes:
  *  - brute force: the query set is broadcast (it is small by
  *    definition); candidates stream by, ranked with a per-query
  *    window — per-partition top-k then a k-row merge, no all-pairs
  *    shuffle. Cost is O(|Q|·N) — the exact baseline you periodically
  *    run to measure recall;
  *  - kNN LSH: each vector maps to a bucket from sign-bits of 8
  *    hyperplane dots; the BROADCAST query side probes its own bucket
  *    plus all 8 hamming-1 neighbors (multi-probe), so cost is
  *    O(|Q|·9·N/256) — linear in N — and a neighbor split from its
  *    query by ONE near-zero hyperplane dot is no longer lost;
  *  - dedup (self-join shape): bucket bits must scale with N because
  *    candidates grow as N²/buckets — see [[dedupEmbedding]].
  */
object Similarity {

  private[ext] val DIM = 64
  private val PLANES = 8          // kNN: queries are broadcast, so 256 buckets keeps O(|Q|·N/256) linear
  private val DEDUP_PLANES = 16   // dedup self-join: 65,536 buckets — candidates are O(N²/2^16) per table
  private val NQUERIES = 8
  private val TOPK = 5

  /** Deterministic ±1 hyperplane matrices derived from md5 — a
    * public, seed-reproducible construction (no RNG, same values in
    * any engine because they are embedded as literals in the SQL
    * twin). Two independent tables per use: a vector pair split by a
    * near-zero dot in one table almost surely shares a bucket in the
    * other. */
  private def planesFor(tag: String, n: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(n, DIM) { (p, d) =>
      val h = md.digest(s"${tag}_${p}_$d".getBytes("UTF-8"))
      if ((h.last & 1) == 1) 1 else -1
    }
  }
  // the 8-plane kNN tables are prefixes of the 16-plane dedup tables
  // (same md5 stream), so the kNN buckets are unchanged by the dedup
  // widening
  private[graft] val planes16: Array[Array[Int]] = planesFor("pl", DEDUP_PLANES)
  private[ext] val planes16b: Array[Array[Int]] = planesFor("p2", DEDUP_PLANES)
  private[ext] val planes: Array[Array[Int]] = planes16.take(PLANES)

  /** float vector → exact integer milli-quantized vector. */
  private[ext] def quant(v: Column): Column =
    transform(v, x => floor(x.cast("double") * 1000 + 0.5).cast("long"))

  private[ext] val quantSql: String =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))"

  /** Fused native dot product ([[graft.functions.LongDot]]) — same
    * semantics as the composed `aggregate(zip_with(a, b, _ * _),
    * lit(0L), _ + _)` it replaced (FunctionsSpec asserts parity), but
    * one codegen'd primitive loop instead of an interpreted
    * allocate-zip-then-fold per row. */
  private def dot(a: Column, b: Column): Column = graft.functions.LongDot(a, b)

  private def norm2(a: Column): Column = dot(a, a)

  /** Portable 6-dp rounding. */
  private def pr6(c: Column): Column = floor(c * 1000000 + 0.5) / 1000000

  /** Exact cosine top-k: query vectors vec_id < 8 against the full
    * table. */
  def knnBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).withColumn("qv", quant(col("embedding")))
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"))
    val c = e.select(col("vec_id"), col("qv").as("cvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", pr6(
        dot(col("qvec"), col("cvec")).cast("double") /
          (sqrt(norm2(col("qvec")).cast("double")) * sqrt(norm2(col("cvec")).cast("double")))))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  val knnBruteforceSql: String =
    s"""WITH e AS (SELECT vec_id, $quantSql AS qv FROM embeddings),
       q AS (SELECT vec_id AS qid, qv AS qvec FROM e WHERE vec_id < $NQUERIES),
       scored AS (
         SELECT q.qid, e.vec_id,
           floor(CAST(list_sum(list_transform(generate_series(1, $DIM), i -> qvec[i] * qv[i])) AS DOUBLE) /
                 (sqrt(CAST(list_sum(list_transform(qvec, x -> x * x)) AS DOUBLE)) *
                  sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS cosine
         FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
       ranked AS (
         SELECT qid, vec_id, cosine,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
         FROM scored)
       SELECT qid, rank, vec_id AS neighbor_id, cosine
       FROM ranked WHERE rank <= $TOPK ORDER BY qid, rank"""

  private val HN_CEIL = 0.99   // at/above: a near-duplicate, NOT a negative
  private val HN_FLOOR = 0.10  // below: uninformative easy negative

  /** Hard-negative mining for retriever/embedding training — for
    * each query vector, the top-k most-similar candidates INSIDE the
    * band `[0.10, 0.99)`: above the floor so the negative is
    * confusable (the pairs a contrastive loss learns most from),
    * below the near-dup ceiling so a DUPLICATE of the query is never
    * labeled a negative — the false-negative poisoning every mining
    * recipe must guard against. The corpus carries the same injected
    * twins as [[dedupEmbedding]] (cosine ≈ 0.9998), so the ceiling
    * provably does that work: a plain kNN would rank the twin #1,
    * and the result must not contain it (asserted in ExtSpec).
    *
    * Scale shape: the oracle-checkable core is the same bounded
    * broadcast-queries × corpus scan as [[knnBruteforce]] (queries
    * are a fixed panel); at corpus×corpus mining scale, route
    * candidates through the staged IVF index
    * ([[kmeansIvfAssignment]]) and apply the band inside the probed
    * cells — the band is a per-pair filter, so it composes with any
    * candidate generator unchanged. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val twins = base.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 1, x + lit(0.01f)).otherwise(x)).as("embedding"))
    val e = base.unionAll(twins).withColumn("qv", quant(col("embedding")))
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"))
    val scored = e.select(col("vec_id"), col("qv").as("cvec"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", pr6(
        dot(col("qvec"), col("cvec")).cast("double") /
          (sqrt(norm2(col("qvec")).cast("double")) * sqrt(norm2(col("cvec")).cast("double")))))
      .filter(col("cosine") >= HN_FLOOR && col("cosine") < HN_CEIL)
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .select(col("qid"), col("rank"), col("vec_id").as("negative_id"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  val hardNegativesSql: String =
    s"""WITH base AS (
         SELECT vec_id, embedding FROM embeddings
         UNION ALL
         SELECT vec_id + 1000000 AS vec_id,
           list_transform(generate_series(1, $DIM),
             i -> CASE WHEN i = 2 THEN embedding[i] + CAST(0.01 AS FLOAT) ELSE embedding[i] END) AS embedding
         FROM embeddings WHERE vec_id % 7 = 0),
       e AS (SELECT vec_id, $quantSql AS qv FROM base),
       q AS (SELECT vec_id AS qid, qv AS qvec FROM e WHERE vec_id < $NQUERIES),
       scored AS (
         SELECT q.qid, e.vec_id,
           floor(CAST(list_sum(list_transform(generate_series(1, $DIM), i -> qvec[i] * qv[i])) AS DOUBLE) /
                 (sqrt(CAST(list_sum(list_transform(qvec, x -> x * x)) AS DOUBLE)) *
                  sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS cosine
         FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
       banded AS (
         SELECT qid, vec_id, cosine FROM scored
         WHERE cosine >= $HN_FLOOR AND cosine < $HN_CEIL),
       ranked AS (
         SELECT qid, vec_id, cosine,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
         FROM banded)
       SELECT qid, rank, vec_id AS negative_id, cosine
       FROM ranked WHERE rank <= $TOPK ORDER BY qid, rank"""

  /** LSH bucket id: sign bit per hyperplane dot, packed. Fused
    * one-pass native form ([[graft.functions.HyperplaneBucket]]) —
    * parity with the composed per-plane `when(dot > 0, 1<<p)` sum it
    * replaced is asserted by FunctionsSpec, including the
    * malformed-vector → bucket 0 edge. */
  private def bucketWith(ps: Array[Array[Int]])(qv: Column): Column =
    graft.functions.HyperplaneBucket(qv, ps.map(_.map(_.toLong).toSeq).toSeq)

  private def bucketSqlWith(ps: Array[Array[Int]], qv: String): String =
    ps.indices.map { p =>
      val w = ps(p).mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(generate_series(1, $DIM), i -> ($w)[i] * $qv[i])) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** DuckDB list literal of a bucket plus all its hamming-1 probes. */
  private def probeListSql(k: String, nbits: Int): String =
    (Seq(k) ++ (0 until nbits).map(b => s"xor($k, ${1L << b})"))
      .mkString("[", ", ", "]")

  /** ANN via LSH buckets with hamming-1 multi-probe: each (broadcast)
    * query probes its own bucket plus the 8 one-bit-flip neighbors,
    * so a true neighbor is lost only when >= 2 hyperplane dots differ
    * in sign between query and neighbor. Rank by exact (quantized)
    * cosine within the probed buckets. Compared to [[knnBruteforce]]
    * this replaces the O(N) scan per query with 9 bucket equi-joins'
    * worth of candidates — still O(N/256) of the table per query. */
  def knnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("qv", quant(col("embedding")))
      .withColumn("bucket", bucketWith(planes)(col("qv")))
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"), col("bucket").as("qbucket"))
    // probes are distinct values, and each candidate lives in exactly
    // one bucket, so no (qid, vec_id) pair can be generated twice
    val probes = q.select(col("qid"), col("qvec"), col("qbucket"),
      explode(array(col("qbucket") +: (0 until PLANES).map(b =>
        col("qbucket").bitwiseXOR(lit(1L << b))): _*)).as("probe"))
    val c = e.select(col("vec_id"), col("qv").as("cvec"), col("bucket"))
    val scored = c.join(broadcast(probes), col("bucket") === col("probe"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", pr6(
        dot(col("qvec"), col("cvec")).cast("double") /
          (sqrt(norm2(col("qvec")).cast("double")) * sqrt(norm2(col("cvec")).cast("double")))))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .select(col("qid"), col("qbucket").as("bucket"), col("rank"),
        col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  // ---- IVF (inverted-file) ANN -------------------------------------

  private val CENT_MOD = 37       // deterministic centroid sample: vec_id % 37 == 1 ...
  private val CENT_CAP = 74000L   // ... drawn only from the first 74k ids: C <= 2000
                                  // at ANY corpus size, so the centroid broadcast
                                  // stays bounded (IVF trains on a sample anyway)
  private val NPROBE = 2

  /** Rounded-cosine SQL between two quantized list columns. */
  private def cosSql(a: String, b: String): String =
    s"""floor(CAST(list_sum(list_transform(generate_series(1, $DIM), i -> $a[i] * $b[i])) AS DOUBLE) /
          (sqrt(CAST(list_sum(list_transform($a, x -> x * x)) AS DOUBLE)) *
           sqrt(CAST(list_sum(list_transform($b, x -> x * x)) AS DOUBLE))) * 1000000 + 0.5) / 1000000"""

  /** ANN via an IVF (inverted-file) coarse quantizer — the documented
    * next rung above hyperplane LSH for 10⁹-vector corpora: every
    * vector is assigned to its nearest coarse centroid's CELL; a
    * query scans only its NPROBE nearest cells. Candidate cost is
    * O(|Q| · NPROBE · N/C) and the assignment pass is O(N·C) with the
    * centroid table broadcast — both linear in N at fixed C.
    *
    * Centroids here are a deterministic sample of the corpus itself
    * (vec_id % $CENT_MOD == 1) so the oracle can rebuild them exactly;
    * a production deployment would train k-means centroids (C ≈ √N)
    * offline and broadcast those — the operator shape (assign →
    * invert → probe) is identical. Ranking and assignment both order
    * by the 6-dp-rounded cosine with centroid/vector id tiebreak, so
    * both engines pick identical cells. */
  def knnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("qv", quant(col("embedding")))
      .select(col("vec_id"), col("qv"))
      .repartition(spark.sparkContext.defaultParallelism)
    val cents = e.filter(col("vec_id") % CENT_MOD === 1 && col("vec_id") < CENT_CAP)
      .select(col("vec_id").as("cid"), col("qv").as("cv"))
    // centroid table to the driver (<= 2000 rows by the CENT_CAP
    // bound — the same payload the broadcast carried), then fused
    // per-row top-NPROBE assignment ([[graft.functions.TopCentroids]]):
    // the N×C candidate frame + per-vector row_number window of the
    // composed form never materializes (162 s -> seconds at sf10)
    val centRows = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    val ranked = e.select(col("vec_id"),
        posexplode_outer(graft.functions.TopCentroids(col("qv"), centRows, NPROBE)))
      .select(col("vec_id"), col("col").as("cid"),
        (col("pos") + 1).cast("int").as("rk"))
    val cells = ranked.filter(col("rk") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
      .join(e, Seq("vec_id"))
    val qprobes = ranked.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("qid"), col("cid").as("cell"))
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"))
    val scored = cells.join(broadcast(qprobes), Seq("cell"))
      .join(broadcast(q), Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", pr6(
        dot(col("qvec"), col("qv")).cast("double") /
          (sqrt(norm2(col("qvec")).cast("double")) * sqrt(norm2(col("qv")).cast("double")))))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  val knnIvfSql: String =
    s"""WITH e AS (SELECT vec_id, $quantSql AS qv FROM embeddings),
       c AS (SELECT vec_id AS cid, qv AS cv FROM e
             WHERE vec_id % $CENT_MOD = 1 AND vec_id < $CENT_CAP),
       assigned AS (
         SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY ${cosSql("e.qv", "c.cv")} DESC, c.cid) AS rk
         FROM e CROSS JOIN c),
       cells AS (SELECT vec_id, cid AS cell FROM assigned WHERE rk = 1),
       qprobes AS (
         SELECT vec_id AS qid, cid AS cell FROM assigned
         WHERE rk <= $NPROBE AND vec_id < $NQUERIES),
       scored AS (
         SELECT qp.qid, ce.vec_id,
           ${cosSql("eq.qv", "ec.qv")} AS cosine
         FROM cells ce
         JOIN qprobes qp ON ce.cell = qp.cell
         JOIN e ec ON ec.vec_id = ce.vec_id
         JOIN e eq ON eq.vec_id = qp.qid
         WHERE ce.vec_id <> qp.qid),
       ranked AS (
         SELECT qid, vec_id, cosine,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
         FROM scored)
       SELECT qid, rank, vec_id AS neighbor_id, cosine
       FROM ranked WHERE rank <= $TOPK ORDER BY qid, rank"""

  /** ANN via IVF with TRAINED k-means cells — the closed train→index
    * loop: [[Cluster.trainedCentroids]] (the oracle-checked k-means
    * coarse quantizer) is consumed directly as the IVF cell table,
    * replacing [[knnIvf]]'s deterministic corpus sample. This is the
    * production composition both scaladocs point at — train centroids
    * offline, broadcast them, assign every vector to its nearest cell
    * by EXACT integer distance (ties to the lower cluster id, the
    * k-means rule), probe a query's NPROBE nearest cells, rank by
    * exact quantized cosine.
    *
    * Scale shape: identical to [[knnIvf]] — assignment is O(N·K) with
    * the K×DIM centroid table broadcast, probing O(|Q|·NPROBE·N/K) —
    * plus the bounded training cost documented on
    * [[Cluster.trainedCentroids]]. The assignment frame is staged via
    * [[kmeansIvfAssignment]]: it feeds both the cell inversion and the
    * query probes, and must not re-run the train+assign pipeline per
    * reference. */
  def knnIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val e = Cluster.quantized(spark, dir)
    val ranked = kmeansIvfAssignment(spark, dir)
    val cells = ranked.filter(col("rk") === 1)
      .select(col("vec_id"), col("cluster").as("cell"))
      .join(e, Seq("vec_id"))
    val qprobes = ranked.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("qid"), col("cluster").as("cell"))
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"))
    val scored = cells.join(broadcast(qprobes), Seq("cell"))
      .join(broadcast(q), Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", pr6(
        dot(col("qvec"), col("qv")).cast("double") /
          (sqrt(norm2(col("qvec")).cast("double")) * sqrt(norm2(col("qv")).cast("double")))))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Memoized staged IVF assignment — the index-build output a
    * production deployment writes ONCE (train centroids, assign every
    * vector to its NPROBE nearest cells, persist) and every query
    * then reads: `(vec_id, cluster, rk)` per (session, corpus),
    * staged through [[graft.util.Staged]] like [[Dedup]]'s keeper
    * table, with the same immutable-corpus-per-session contract. Both
    * [[knnIvfKmeans]] and [[annRecall]] consume it, so the train +
    * assign pipeline runs once per corpus, not once per query. */
  private def kmeansIvfAssignment(spark: SparkSession, dir: String): DataFrame =
    graft.util.Staged.once(spark, "ivf", dir) {
      val e = Cluster.quantized(spark, dir)
      // trained centroids to the driver (K is a bounded training
      // constant) + fused per-row nearest-NPROBE assignment
      // ([[graft.functions.NearestCentroids]]) — same exact integer
      // metric and (dist2, cluster) order as the crossJoin + window
      // form it replaces, with no N×K frame and no exchange
      val centRows = Cluster.trainedCentroids(e).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
      e.select(col("vec_id"),
          posexplode_outer(graft.functions.NearestCentroids(
            col("qv"), centRows, Cluster.SCALE, NPROBE)))
        .select(col("vec_id"), col("col").as("cluster"),
          (col("pos") + 1).cast("int").as("rk"))
    }

  val knnIvfKmeansSql: String =
    s"""WITH ${Cluster.trainCtesSql},
       ivfa AS (
         SELECT e.vec_id, c.cluster,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY ${Cluster.distSql("c.cent")}, c.cluster) AS rk
         FROM e CROSS JOIN cents c),
       icells AS (SELECT vec_id, cluster AS cell FROM ivfa WHERE rk = 1),
       iqprobes AS (
         SELECT vec_id AS qid, cluster AS cell FROM ivfa
         WHERE rk <= $NPROBE AND vec_id < $NQUERIES),
       iscored AS (
         SELECT qp.qid, ce.vec_id,
           ${cosSql("eq.qv", "ec.qv")} AS cosine
         FROM icells ce
         JOIN iqprobes qp ON ce.cell = qp.cell
         JOIN e ec ON ec.vec_id = ce.vec_id
         JOIN e eq ON eq.vec_id = qp.qid
         WHERE ce.vec_id <> qp.qid),
       iranked AS (
         SELECT qid, vec_id, cosine,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
         FROM iscored)
       SELECT qid, rank, vec_id AS neighbor_id, cosine
       FROM iranked WHERE rank <= $TOPK ORDER BY qid, rank"""

  /** Embedding-cosine near-duplicate detection — the vector-space
    * dedup mode (complementing exact/MinHash/SimHash/Jaccard in
    * [[Dedup]]). A twin corpus is synthesized in-query (vec_id%7==0
    * gets a copy with dim 1 nudged by +0.01 → cosine ≈ 0.9999);
    * candidates come from TWO independent 16-hyperplane-LSH bucket
    * joins and must clear an exact quantized-cosine threshold.
    *
    * Bucket math at scale (the round-2 8-plane version was the
    * remaining quadratic candidate generator): 16 planes give 65,536
    * buckets per table, so the bucket self-join generates
    * ~N²/(2·65,536) candidates per table (×17 probes ×2 tables) —
    * 256× fewer than 8 planes at any N. Recall is held by multi-probe
    * (the left side also probes every hamming-1 bucket) plus the
    * second independent table: a near-identical pair is missed only
    * if >= 2 hyperplane dots flip sign in BOTH tables — for twin-like
    * pairs (per-plane flip prob ~θ/π ≈ 0.005) that is ~(C(16,2)·p²)²
    * ≈ 5×10⁻⁶. Next rungs when N²/2¹⁶ itself is too big: more planes
    * per table (buckets double per plane; recall restored by more
    * probes/tables), or an IVF-style coarse k-means partition.
    *
    * Candidate frames carry ONLY vec_ids; the quantized vectors join
    * back by id at the verify step (ReuseExchange shares the one
    * physical shuffle across all references to `e`). */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    dedupEmbeddingOf(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))

  /** [[dedupEmbedding]] over an arbitrary (vec_id, embedding) frame —
    * the ScaleTrial entry point. vec_ids must stay below the 1,000,000
    * twin offset. */
  private[graft] def dedupEmbeddingOf(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    val twins = base.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 1, x + lit(0.01f)).otherwise(x)).as("embedding"))
    val e = base.unionAll(twins)
      .withColumn("qv", quant(col("embedding")))
      .withColumn("b1", bucketWith(planes16)(col("qv")))
      .withColumn("b2", bucketWith(planes16b)(col("qv")))
      .select(col("vec_id"), col("qv"), col("b1"), col("b2"))
      .repartition(spark.sparkContext.defaultParallelism)
    val r = e.as("r")
    def probes(k: String) = e.select(col("vec_id"),
      explode(array(col(k) +: (0 until DEDUP_PLANES).map(b =>
        col(k).bitwiseXOR(lit(1L << b))): _*)).as("probe"))
    def table(k: String) =
      probes(k).as("l")
        .join(r, col("l.probe") === col(s"r.$k") && col("l.vec_id") < col("r.vec_id"))
        .select(col("l.vec_id").as("id1"), col("r.vec_id").as("id2"))
    val qvs = e.select(col("vec_id"), col("qv"))
    table("b1").unionAll(table("b2"))
      .dropDuplicates("id1", "id2")
      .join(qvs.select(col("vec_id").as("id1"), col("qv").as("qv1")), Seq("id1"))
      .join(qvs.select(col("vec_id").as("id2"), col("qv").as("qv2")), Seq("id2"))
      .withColumn("cosine", pr6(
        dot(col("qv1"), col("qv2")).cast("double") /
          (sqrt(norm2(col("qv1")).cast("double")) * sqrt(norm2(col("qv2")).cast("double")))))
      .filter(col("cosine") >= 0.99)
      .select(col("id1"), col("id2"), col("cosine"))
      .orderBy(col("id1"), col("id2"))
  }

  val dedupEmbeddingSql: String =
    s"""WITH base AS (
         SELECT vec_id, embedding FROM embeddings
         UNION ALL
         SELECT vec_id + 1000000 AS vec_id,
           list_transform(generate_series(1, $DIM),
             i -> CASE WHEN i = 2 THEN embedding[i] + CAST(0.01 AS FLOAT) ELSE embedding[i] END) AS embedding
         FROM embeddings WHERE vec_id % 7 = 0),
       e AS (
         SELECT vec_id, $quantSql AS qv, ${bucketSqlWith(planes16, quantSql)} AS b1,
                ${bucketSqlWith(planes16b, quantSql)} AS b2
         FROM base),
       p1 AS (
         SELECT vec_id, unnest(${probeListSql("b1", DEDUP_PLANES)}) AS probe
         FROM e),
       p2 AS (
         SELECT vec_id, unnest(${probeListSql("b2", DEDUP_PLANES)}) AS probe
         FROM e),
       cand AS (
         SELECT DISTINCT l.vec_id AS id1, r.vec_id AS id2
         FROM p1 l JOIN e r ON l.probe = r.b1 AND l.vec_id < r.vec_id
         UNION
         SELECT DISTINCT l.vec_id AS id1, r.vec_id AS id2
         FROM p2 l JOIN e r ON l.probe = r.b2 AND l.vec_id < r.vec_id),
       p AS (
         SELECT id1, id2,
           floor(CAST(list_sum(list_transform(generate_series(1, $DIM), i -> a.qv[i] * b.qv[i])) AS DOUBLE) /
                 (sqrt(CAST(list_sum(list_transform(a.qv, x -> x * x)) AS DOUBLE)) *
                  sqrt(CAST(list_sum(list_transform(b.qv, x -> x * x)) AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS cosine
         FROM cand c
         JOIN e a ON a.vec_id = c.id1
         JOIN e b ON b.vec_id = c.id2)
       SELECT id1, id2, cosine FROM p WHERE cosine >= 0.99 ORDER BY id1, id2"""

  // ---- SemDeDup: k-means-cell-bucketed semantic dedup ----------------

  private val SEM_CELLS_MIN = 32L
  private val SEM_THRESH = 0.99

  /** Corpus size (twins included) above which [[dedupSemantic]]
    * switches from the exact √N-cell assignment to the fixed-C IVF
    * rung. Crossover math: at N rows the flat rung materializes an
    * N·√N assignment frame plus a per-vector window shuffle while the
    * IVF rung is one fused O(N·C) pass (C ≤ 2000) with cell-local
    * pairs — measured 145.1 s vs 29.2 s at N ≈ 229k (sf10). 10,000
    * puts the sf0.01/sf0.1 gates on the flat branch and the sf1
    * replica gate (N ≈ 22,857) on the IVF branch, so BOTH rungs stay
    * oracle-verified every round. */
  private[graft] val SEM_RUNG_BOUND = 10000L

  /** Semantic dedup, SemDeDup-style (Abbas et al., 2303.09540): bucket
    * every vector into its nearest coarse-centroid CELL, then verify
    * cosine only WITHIN cells — the complementary candidate generator
    * to [[dedupEmbedding]]'s hyperplane LSH (cluster-locality instead
    * of random projections; the published method for pruning semantic
    * duplicates from web-scale image/text corpora). Same injected twin
    * corpus and 0.99 threshold as dedupEmbedding, so the two
    * generators are directly comparable.
    *
    * Scale shape: the centroid table is a bounded broadcast (the
    * assignment is O(N·C) exactly like [[knnIvf]]); within-cell pairs
    * are O(Σ|cell|²) ≈ N²/C. The cell count is therefore DERIVED from
    * the corpus size — C = max(32, ⌊√N⌋), the SemDeDup knob — inside
    * the query itself (a 1-row count aggregate broadcast into the
    * centroid filter, so no driver-side job): at any N both the
    * assignment pass (N·√N distance evaluations) and the within-cell
    * pair count (~N^1.5) grow as N^1.5 — the balanced point between
    * the two, where a FIXED C would leave pairs quadratic.
    * ScaleTrial2 measures the growth empirically at 10×. Pair frames
    * carry only (cell, id) — the vectors join back by id for the
    * cosine verify, so no vector ever rides the pair shuffle.
    *
    * RUNG-ADAPTIVE (the simhash [[graft.ext.Dedup.SIM_WIDE_N]]
    * pattern): past [[SEM_RUNG_BOUND]] rows even the N·√N assignment
    * plus the ~N^1.5 within-cell pairs are too much, so the query
    * switches IN-QUERY — a 1-row count broadcast, no driver probe —
    * to the fixed-C IVF rung of [[dedupSemanticIvf]] (bounded ≤2000
    * centroid sample, fused [[graft.functions.TopCentroids]]
    * assignment, within-cell pairs ~N²/2C cell-local). The inactive
    * rung's centroid set is empty at runtime, so its plan degenerates
    * to one O(N) scan; the oracle twin gates its two centroid CTEs on
    * the same count(*), so both engines pick the same rung — the
    * sf0.01 gate exercises the flat branch, the sf1 replica gate the
    * IVF branch. Unlike the simhash knob this switch DOES change the
    * result (different cell structure ⇒ different rollup) — that is
    * the published SemDeDup stance: C is a deployment knob, and the
    * oracle pins each rung's output exactly. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    dedupSemanticOf(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))

  /** [[dedupSemantic]] over an arbitrary (vec_id, embedding) frame —
    * the ScaleTrial2 entry point. vec_ids must stay below the 1,000,000
    * twin offset. `autoRung = false` pins the flat assignment. */
  private[graft] def dedupSemanticOf(base: DataFrame,
                                     autoRung: Boolean = true): DataFrame = {
    val spark = base.sparkSession
    val twins = base.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 1, x + lit(0.01f)).otherwise(x)).as("embedding"))
    val e = base.unionAll(twins)
      .withColumn("qv", quant(col("embedding")))
      .select(col("vec_id"), col("qv"))
      .repartition(spark.sparkContext.defaultParallelism)
      .transform(graft.util.Fence.lineage)
    // C = max(32, ⌊√N⌋): sqrt is IEEE-correctly-rounded on both
    // engines (bit-stable, unlike ln/exp/pow), and the comparison is
    // against an exact integer
    val ncells = e.agg(greatest(lit(SEM_CELLS_MIN),
      floor(sqrt(count(lit(1)).cast("double"))).cast("long")).as("n_cells"))
    val cents = e.crossJoin(broadcast(ncells))
      .filter(col("vec_id") < col("n_cells"))
      .select(col("vec_id").as("cid"), col("qv").as("cv"))
    def ccosTo(v: org.apache.spark.sql.Column, c: org.apache.spark.sql.Column) =
      pr6(dot(v, c).cast("double") /
        (sqrt(norm2(v).cast("double")) * sqrt(norm2(c).cast("double"))))
    val wA = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cid"))
    def flatCellsOver(fc: DataFrame): DataFrame =
      e.crossJoin(broadcast(fc))
        .withColumn("ccos", ccosTo(col("qv"), col("cv")))
        .withColumn("rk", row_number().over(wA)).filter(col("rk") === 1)
        .select(col("vec_id"), col("cid").as("cell"))
    val cells =
      if (autoRung) {
        // rung knob: 1-row count broadcast, no driver probe. Gating
        // the CENTROID side empties the flat rung's N×C join at
        // runtime (one O(N) scan survives); the IVF side gates its
        // assignment input the same way. Exactly one branch of the
        // union is non-empty per run.
        val nTotal = e.agg(count(lit(1)).as("n_total"))
        val centsFlat = cents.crossJoin(broadcast(nTotal))
          .filter(col("n_total") <= SEM_RUNG_BOUND)
          .select(col("cid"), col("cv"))
        val eIvf = e.crossJoin(broadcast(nTotal))
          .filter(col("n_total") > SEM_RUNG_BOUND)
          .select(col("vec_id"), col("qv"))
        flatCellsOver(centsFlat).unionByName(ivfCellsOf(eIvf, ivfCentRows(e)))
      } else flatCellsOver(cents)
    semCellRollup(cells, e)
  }

  /** Shared SemDeDup tail: within-cell pairs → exact quantized-cosine
    * verify → per-cell rollup. `cells` = (vec_id, cell), `e` =
    * (vec_id, qv). Pair frames carry only ids — vectors join back by
    * id, so no vector rides the pair shuffle.
    *
    * `cells` has THREE consumers here (both sides of the pair
    * self-join plus the n_vecs rollup) and ReuseExchange does not
    * cover them — without a materializing fence the whole assignment
    * (flat N×C window or fused TopCentroids pass) executes once PER
    * consumer (verified in the formatted plan: three Window nodes).
    * The fence stores (vec_id, cell) longs only. */
  private def semCellRollup(cellsRaw: DataFrame, e: DataFrame): DataFrame = {
    val cells = graft.util.Fence.lineage(cellsRaw)
    val pairs = cells.select(col("cell"), col("vec_id").as("id1"))
      .join(cells.select(col("cell"), col("vec_id").as("id2")), Seq("cell"))
      .filter(col("id1") < col("id2"))
    val scored = pairs
      .join(e.select(col("vec_id").as("id1"), col("qv").as("v1")), Seq("id1"))
      .join(e.select(col("vec_id").as("id2"), col("qv").as("v2")), Seq("id2"))
      .withColumn("cosine", pr6(
        dot(col("v1"), col("v2")).cast("double") /
          (sqrt(norm2(col("v1")).cast("double")) * sqrt(norm2(col("v2")).cast("double")))))
      .filter(col("cosine") >= SEM_THRESH)
    cells.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
      .join(scored.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_dup_pairs"),
          countDistinct(col("id2")).as("n_removable")), Seq("cell"), "left")
      .na.fill(0L, Seq("n_dup_pairs", "n_removable"))
      .orderBy(col("cell"))
  }

  /** SemDeDup at the FIXED-C + IVF rung — the production composition
    * [[dedupSemantic]]'s scaladoc promises for corpora where even the
    * N·√N assignment is too much: the cell table is the BOUNDED
    * deterministic centroid sample of [[knnIvf]] (`vec_id % 37 == 1`
    * drawn below 74,000 → C ≤ 2000 at ANY corpus size; a production
    * run trains k-means offline and broadcasts those instead), and
    * assignment is the fused single-pass
    * [[graft.functions.TopCentroids]] expression — no N×C candidate
    * frame, no per-vector window shuffle (the two structures that
    * dominate [[dedupSemantic]]'s cost at sf10). Same twin corpus,
    * same exact quantized-cosine verify and per-cell rollup.
    *
    * Trade vs the √N knob: fixed C leaves within-cell pairs ~N²/2C —
    * SemDeDup's production stance (C is a deployment constant sized
    * to the fleet, pairs stay cell-local and embarrassingly
    * parallel), while assignment drops from O(N·√N) materialized to
    * O(N·C) fused. The oracle twin mirrors the assignment with the
    * crossJoin + row_number form over the identical rounded-cosine
    * (cid-tiebroken) order, so both engines pick identical cells. */
  def dedupSemanticIvf(spark: SparkSession, dir: String): DataFrame =
    dedupSemanticIvfOf(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))

  /** [[dedupSemanticIvf]] over an arbitrary (vec_id, embedding)
    * frame — the ScaleTrial entry point. vec_ids must stay below the
    * 1,000,000 twin offset. */
  private[graft] def dedupSemanticIvfOf(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    val twins = base.filter(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 1, x + lit(0.01f)).otherwise(x)).as("embedding"))
    val e = base.unionAll(twins)
      .withColumn("qv", quant(col("embedding")))
      .select(col("vec_id"), col("qv"))
      .repartition(spark.sparkContext.defaultParallelism)
      .transform(graft.util.Fence.lineage)
    semCellRollup(ivfCellsOf(e, ivfCentRows(e)), e)
  }

  /** The IVF rung's centroid table, to the driver (≤ 2000 rows by the
    * CENT_CAP bound — the payload a broadcast would carry anyway);
    * the twin ids sit at +1,000,000, far above the cap, so the sample
    * is always drawn from the base corpus. */
  private def ivfCentRows(e: DataFrame): Seq[(Long, Seq[Long])] = {
    val rows = e.filter(col("vec_id") % CENT_MOD === 1 && col("vec_id") < CENT_CAP)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    require(rows.nonEmpty,
      s"IVF centroid sample is empty — no vec_id % $CENT_MOD == 1 below $CENT_CAP")
    rows
  }

  /** Fused IVF cell assignment over `(vec_id, qv)` rows: nearest of
    * `centRows` per vector via a single [[graft.functions.TopCentroids]]
    * pass — no N×C candidate frame, no per-vector window shuffle. */
  private def ivfCellsOf(assign: DataFrame,
                         centRows: Seq[(Long, Seq[Long])]): DataFrame =
    assign.select(col("vec_id"),
      element_at(graft.functions.TopCentroids(col("qv"), centRows, 1), 1).as("cell"))

  val dedupSemanticIvfSql: String =
    s"""WITH base AS (
         SELECT vec_id, embedding FROM embeddings
         UNION ALL
         SELECT vec_id + 1000000 AS vec_id,
           list_transform(generate_series(1, $DIM),
             i -> CASE WHEN i = 2 THEN embedding[i] + CAST(0.01 AS FLOAT) ELSE embedding[i] END) AS embedding
         FROM embeddings WHERE vec_id % 7 = 0),
       e AS (SELECT vec_id, $quantSql AS qv FROM base),
       c AS (SELECT vec_id AS cid, qv AS cv FROM e
             WHERE vec_id % $CENT_MOD = 1 AND vec_id < $CENT_CAP),
       cells AS (
         -- cross-engine argmax (CLAUDE.md convention): rank-1 by
         -- (cos DESC, cid ASC) == max(struct(cos, -cid)) — a hash
         -- aggregate instead of a window sort over the N x C frame,
         -- which at sf10 spilled past the disk
         SELECT e.vec_id,
           CAST(-struct_extract(max(struct_pack(
             c := ${cosSql("e.qv", "c.cv")}, n := -c.cid)), 'n') AS BIGINT) AS cell
         FROM e CROSS JOIN c GROUP BY e.vec_id),
       pairs AS (
         SELECT l.cell, l.vec_id AS id1, r.vec_id AS id2
         FROM cells l JOIN cells r ON l.cell = r.cell AND l.vec_id < r.vec_id),
       scored AS (
         SELECT p.cell, p.id1, p.id2, ${cosSql("a.qv", "b.qv")} AS cosine
         FROM pairs p JOIN e a ON a.vec_id = p.id1 JOIN e b ON b.vec_id = p.id2),
       dups AS (
         SELECT cell, CAST(count(*) AS BIGINT) AS n_dup_pairs,
           CAST(count(DISTINCT id2) AS BIGINT) AS n_removable
         FROM scored WHERE cosine >= $SEM_THRESH GROUP BY cell),
       sz AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM cells GROUP BY cell)
       SELECT sz.cell, sz.n_vecs,
         COALESCE(d.n_dup_pairs, 0) AS n_dup_pairs,
         COALESCE(d.n_removable, 0) AS n_removable
       FROM sz LEFT JOIN dups d ON sz.cell = d.cell ORDER BY sz.cell"""

  val dedupSemanticSql: String =
    s"""WITH base AS (
         SELECT vec_id, embedding FROM embeddings
         UNION ALL
         SELECT vec_id + 1000000 AS vec_id,
           list_transform(generate_series(1, $DIM),
             i -> CASE WHEN i = 2 THEN embedding[i] + CAST(0.01 AS FLOAT) ELSE embedding[i] END) AS embedding
         FROM embeddings WHERE vec_id % 7 = 0),
       e AS (SELECT vec_id, $quantSql AS qv FROM base),
       nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM e),
       nc AS (SELECT greatest($SEM_CELLS_MIN,
                CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS n_cells
              FROM e),
       c AS (
         SELECT vec_id AS cid, qv AS cv FROM e, nc, nt
         WHERE nt.n_total <= $SEM_RUNG_BOUND AND e.vec_id < nc.n_cells
         UNION ALL
         SELECT vec_id AS cid, qv AS cv FROM e, nt
         WHERE nt.n_total > $SEM_RUNG_BOUND
           AND vec_id % $CENT_MOD = 1 AND vec_id < $CENT_CAP),
       cells AS (
         -- cross-engine argmax (CLAUDE.md convention): rank-1 by
         -- (cos DESC, cid ASC) == max(struct(cos, -cid)) — a hash
         -- aggregate instead of a window sort over the N x C frame,
         -- which at sf10 spilled past the disk
         SELECT e.vec_id,
           CAST(-struct_extract(max(struct_pack(
             c := ${cosSql("e.qv", "c.cv")}, n := -c.cid)), 'n') AS BIGINT) AS cell
         FROM e CROSS JOIN c GROUP BY e.vec_id),
       pairs AS (
         SELECT l.cell, l.vec_id AS id1, r.vec_id AS id2
         FROM cells l JOIN cells r ON l.cell = r.cell AND l.vec_id < r.vec_id),
       scored AS (
         SELECT p.cell, p.id1, p.id2, ${cosSql("a.qv", "b.qv")} AS cosine
         FROM pairs p JOIN e a ON a.vec_id = p.id1 JOIN e b ON b.vec_id = p.id2),
       dups AS (
         SELECT cell, CAST(count(*) AS BIGINT) AS n_dup_pairs,
           CAST(count(DISTINCT id2) AS BIGINT) AS n_removable
         FROM scored WHERE cosine >= $SEM_THRESH GROUP BY cell),
       sz AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM cells GROUP BY cell)
       SELECT sz.cell, sz.n_vecs,
         COALESCE(d.n_dup_pairs, 0) AS n_dup_pairs,
         COALESCE(d.n_removable, 0) AS n_removable
       FROM sz LEFT JOIN dups d ON sz.cell = d.cell ORDER BY sz.cell"""

  val knnLshSql: String =
    s"""WITH e AS (
         SELECT vec_id, $quantSql AS qv, ${bucketSqlWith(planes, quantSql)} AS bucket
         FROM embeddings),
       q AS (SELECT vec_id AS qid, qv AS qvec, bucket AS qbucket FROM e WHERE vec_id < $NQUERIES),
       pr AS (
         SELECT qid, qvec, qbucket, unnest(${probeListSql("qbucket", PLANES)}) AS probe
         FROM q),
       scored AS (
         SELECT pr.qid, pr.qbucket AS bucket, e.vec_id,
           floor(CAST(list_sum(list_transform(generate_series(1, $DIM), i -> qvec[i] * e.qv[i])) AS DOUBLE) /
                 (sqrt(CAST(list_sum(list_transform(qvec, x -> x * x)) AS DOUBLE)) *
                  sqrt(CAST(list_sum(list_transform(e.qv, x -> x * x)) AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS cosine
         FROM e JOIN pr ON e.bucket = pr.probe WHERE e.vec_id <> pr.qid),
       ranked AS (
         SELECT qid, bucket, vec_id, cosine,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rank
         FROM scored)
       SELECT qid, bucket, rank, vec_id AS neighbor_id, cosine
       FROM ranked WHERE rank <= $TOPK ORDER BY qid, rank"""

  // ---- ANN quality evaluation --------------------------------------

  /** Per-index recall@k against the exact baseline — the evaluation
    * loop every production ANN deployment runs on a query sample
    * before trusting an index, as one comparable report across EVERY
    * approximate index this module ships (hyperplane LSH, sampled
    * IVF, k-means IVF). Ground truth = [[knnBruteforce]] (exact by
    * construction); a hit = a true top-k neighbor the index also
    * returned. All inputs are existing oracle-checked queries, so
    * this composes verified plans and is itself verified end to end.
    *
    * Scale shape: every side is k·|Q| rows (tiny by definition) — the
    * joins and groupBys are driver-negligible at any corpus size; the
    * real cost is the underlying kNN plans, whose linearity is
    * documented on their own definitions. The truth frame is fenced:
    * it is referenced once per index and must not re-run the exact
    * scan each time. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = knnBruteforce(spark, dir)
      .select(col("qid"), col("neighbor_id"))
      .transform(graft.util.Fence.lineage)
    def recallOf(index: String, got: DataFrame): DataFrame =
      truth.join(
          got.select(col("qid"), col("neighbor_id"), lit(1L).as("hit")),
          Seq("qid", "neighbor_id"), "left")
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .select(lit(index).as("index_name"), col("qid"), col("n_hits"),
          pr6(col("n_hits").cast("double") / col("k").cast("double")).as("recall_at_k"))
    recallOf("ivf", knnIvf(spark, dir))
      .unionAll(recallOf("ivf_kmeans", knnIvfKmeans(spark, dir)))
      .unionAll(recallOf("lsh", knnLsh(spark, dir)))
      .orderBy(col("index_name"), col("qid"))
  }

  val annRecallSql: String = {
    def recallOfSql(index: String): String =
      s"""SELECT '$index' AS index_name, t.qid,
           CAST(coalesce(sum(g.hit), 0) AS BIGINT) AS n_hits,
           floor(coalesce(sum(g.hit), 0) / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS recall_at_k
         FROM truth t
         LEFT JOIN got_$index g ON t.qid = g.qid AND t.neighbor_id = g.neighbor_id
         GROUP BY t.qid"""
    s"""WITH truth AS (
         SELECT qid, neighbor_id FROM ($knnBruteforceSql)),
       got_ivf AS (
         SELECT qid, neighbor_id, 1 AS hit FROM ($knnIvfSql)),
       got_ivf_kmeans AS (
         SELECT qid, neighbor_id, 1 AS hit FROM ($knnIvfKmeansSql)),
       got_lsh AS (
         SELECT qid, neighbor_id, 1 AS hit FROM ($knnLshSql))
       ${recallOfSql("ivf")}
       UNION ALL ${recallOfSql("ivf_kmeans")}
       UNION ALL ${recallOfSql("lsh")}
       ORDER BY index_name, qid"""
  }

  // ---- Matryoshka truncation evaluation ----------------------------

  private val MRL_DIMS = Seq(8, 16, 32)

  /** Matryoshka-truncation retrieval evaluation (Kusupati et al. 2022,
    * "Matryoshka Representation Learning"): recall@k of cosine search
    * over PREFIX dimensions (8/16/32 of the 64-dim embeddings)
    * against the full-dimension top-k — the table that decides how
    * far an index can truncate its vectors (4-8× memory and
    * bandwidth) before recall pays. Prefix slices are Spark
    * `slice(v, 1, d)` == DuckDB `list_slice(v, 1, d)` (inclusive end
    * index = same d elements); cosines are the ANN family's exact
    * integer dots + 6-dp floor; an all-zero prefix norm is clamped to
    * 1 so the cosine degrades to 0 instead of NaN (whose sort order
    * is not portable). recall_ppm is exact (`n_hits · 200000`).
    *
    * Scale shape: ONE broadcast-panel × corpus scan produces all four
    * truncation scores per pair (the slices re-dot the same cached
    * row), then bounded per-(query, dims) top-k windows and a
    * panel-sized overlap join — the same linear shape as
    * [[knnBruteforce]], ~2× its flops. */
  def embedTruncateEval(spark: SparkSession, dir: String): DataFrame = {
    val cuts = MRL_DIMS :+ DIM
    // prefix self-dots (norms) are a property of ONE side: computed
    // once per corpus row / panel row BEFORE the pair join, not per
    // pair per truncation; the cross-pair work is a single fused
    // one-pass PrefixDots per pair (4x fewer flops, zero slice
    // allocations vs the composed slice+dot form)
    val e = Tables.embeddings(spark, dir).withColumn("qv", quant(col("embedding")))
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"),
        graft.functions.PrefixDots(col("qv"), col("qv"), cuts).as("qn"))
    val c = e.select(col("vec_id"), col("qv").as("cvec"),
      graft.functions.PrefixDots(col("qv"), col("qv"), cuts).as("cn"))
    val paired = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("qn"), col("cn"),
        graft.functions.PrefixDots(col("qvec"), col("cvec"), cuts).as("pd"))
      // barrier: the 4 element_at consumers below must read the ONE
      // materialized pd/qn/cn arrays, not re-inline the expression
      // per truncation (the CollapseProject trap)
      .transform(graft.util.Fence.barrier)
    val scored = paired
      .select(col("qid"), col("vec_id"),
        explode_outer(array(cuts.zipWithIndex.map { case (d, ix) =>
          struct(lit(d.toLong).as("dims"),
            pr6(element_at(col("pd"), ix + 1).cast("double") /
              (sqrt(greatest(element_at(col("qn"), ix + 1), lit(1L)).cast("double")) *
                sqrt(greatest(element_at(col("cn"), ix + 1), lit(1L)).cast("double"))))
              .as("cosine"))
        }: _*)).as("s"))
      .select(col("qid"), col("s.dims").as("dims"),
        col("vec_id"), col("s.cosine").as("cosine"))
    val w = Window.partitionBy(col("qid"), col("dims"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val top = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TOPK)
      .select(col("qid"), col("dims"), col("vec_id"))
      .transform(graft.util.Fence.lineage)
    val truth = top.filter(col("dims") === DIM.toLong)
      .select(col("qid"), col("vec_id"), lit(1L).as("hit"))
    top.filter(col("dims") =!= DIM.toLong)
      .join(truth, Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"), col("dims"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("qid"), col("dims"), col("n_hits").cast("long").as("n_hits"),
        (col("n_hits") * (1000000L / TOPK)).cast("long").as("recall_ppm"))
      .orderBy(col("qid"), col("dims"))
  }

  val embedTruncateEvalSql: String = {
    def tcosSql(d: Int): String =
      s"""floor(CAST(list_sum(list_transform(generate_series(1, $d), i -> q.qvec[i] * e.qv[i])) AS DOUBLE) /
           (sqrt(CAST(greatest(list_sum(list_transform(list_slice(q.qvec, 1, $d), x -> x * x)), 1) AS DOUBLE)) *
            sqrt(CAST(greatest(list_sum(list_transform(list_slice(e.qv, 1, $d), x -> x * x)), 1) AS DOUBLE))) * 1000000 + 0.5) / 1000000"""
    val scoredRows = (MRL_DIMS :+ DIM).map(d =>
      s"""SELECT q.qid, CAST($d AS BIGINT) AS dims, e.vec_id, ${tcosSql(d)} AS cosine
         FROM e CROSS JOIN q WHERE e.vec_id <> q.qid""")
      .mkString("\n         UNION ALL\n         ")
    s"""WITH e AS (SELECT vec_id, $quantSql AS qv FROM embeddings),
       q AS (SELECT vec_id AS qid, qv AS qvec FROM e WHERE vec_id < $NQUERIES),
       scored AS (
         $scoredRows),
       ranked AS (
         SELECT qid, dims, vec_id,
           row_number() OVER (PARTITION BY qid, dims ORDER BY cosine DESC, vec_id) AS rank
         FROM scored),
       top AS MATERIALIZED (SELECT qid, dims, vec_id FROM ranked WHERE rank <= $TOPK),
       truth AS (SELECT qid, vec_id FROM top WHERE dims = $DIM)
       SELECT t.qid, t.dims,
         CAST(coalesce(sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits,
         CAST(coalesce(sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0) * ${1000000L / TOPK} AS BIGINT) AS recall_ppm
       FROM top t LEFT JOIN truth tr ON tr.qid = t.qid AND tr.vec_id = t.vec_id
       WHERE t.dims <> $DIM
       GROUP BY t.qid, t.dims ORDER BY t.qid, t.dims"""
  }

  // ---- Label-centroid similarity matrix ----------------------------

  /** Pairwise cosine similarity between LABEL CENTROIDS — the
    * corpus-curation view of the embedding space (which strata are
    * semantically close enough to cross-contaminate a held-out
    * split, or to merge in a mixture). Cosine is scale-invariant, so
    * the per-label SUM vector stands in for the mean exactly — no
    * division ever happens on the vector side and the sums stay
    * exact integers (milli-quant · group size · [[DIM]] dims keeps
    * every dot far below 2^63; the overflow rung is a wider quant
    * step). The cosine itself is the ANN family's portable formula:
    * exact-long dots via the native [[graft.functions.LongDot]],
    * IEEE sqrt/divide on identical operands, 6-dp floor.
    *
    * Scale shape: one (label, dim) partial-sum shuffle (same as a
    * k-means update step), the per-label 64-long sum-vectors collect
    * from ≤ labels × DIM rows, and the pair matrix is labels² — a
    * bounded frame by construction (labels is a dimension, not data).
    */
  def centroidSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val sums = Tables.embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("label"), posexplode_outer(quant(col("embedding")))
        .as(Seq("dim", "v")))
      .filter(col("v").isNotNull)
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("v")).as("s"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("s")))),
        x => x.getField("s")).as("sv"))
      .transform(graft.util.Fence.lineage)
    val a = sums.select(col("label").as("label1"), col("sv").as("sa"))
    val b = sums.select(col("label").as("label2"), col("sv").as("sb"))
    a.join(b, col("label1") < col("label2"))
      .select(col("label1").cast("long").as("label1"),
        col("label2").cast("long").as("label2"),
        pr6(dot(col("sa"), col("sb")).cast("double") /
          (sqrt(norm2(col("sa")).cast("double")) *
           sqrt(norm2(col("sb")).cast("double")))).as("cosine"))
      .orderBy(col("label1"), col("label2"))
  }

  val centroidSimilaritySql: String =
    s"""WITH e AS (SELECT label, $quantSql AS q FROM embeddings),
       x AS (
         SELECT label, unnest(list_transform(generate_series(1, len(q)),
           i -> struct_pack(dim := i, v := q[i]))) AS u
         FROM e),
       s AS (
         SELECT label, u.dim AS dim, CAST(sum(u.v) AS BIGINT) AS sv
         FROM x GROUP BY label, u.dim),
       vecs AS (SELECT label, list(sv ORDER BY dim) AS sv FROM s GROUP BY label)
       SELECT CAST(a.label AS BIGINT) AS label1, CAST(b.label AS BIGINT) AS label2,
         floor(CAST(list_sum(list_transform(generate_series(1, $DIM),
                 i -> a.sv[i] * b.sv[i])) AS DOUBLE) /
               (sqrt(CAST(list_sum(list_transform(a.sv, x -> x * x)) AS DOUBLE)) *
                sqrt(CAST(list_sum(list_transform(b.sv, x -> x * x)) AS DOUBLE)))
               * 1000000 + 0.5) / 1000000 AS cosine
       FROM vecs a JOIN vecs b ON a.label < b.label
       ORDER BY label1, label2"""

  // ---- Product quantization ----------------------------------------

  private val PQ_M      = 4   // subspaces
  private val PQ_SUBDIM = DIM / PQ_M
  private val PQ_CODES  = 16  // codewords per subspace → 4 bits/code

  /** Product-quantization encoding (Jégou et al., PAMI 2011): split
    * each vector into [[PQ_M]] subvectors, assign each to its nearest
    * of [[PQ_CODES]] per-subspace codewords, emit the code word plus
    * the exact integer reconstruction error. PQ compresses a 64-dim
    * float vector to M·log2(K) = 16 bits — the memory layout an IVF-PQ
    * index scans at 10⁹-vector scale (cells from [[knnIvfKmeans]],
    * codes from here). Codewords are a deterministic corpus sample
    * (the m-th subvector of vec_id < [[PQ_CODES]]) so the oracle
    * rebuilds them exactly — [[knnIvf]]'s sampled-vs-trained note
    * applies verbatim. Distances are exact integer arithmetic on the
    * milli-quantized grid (d² = |a|² − 2a·b + |b|², each term a
    * [[graft.functions.LongDot]]); the argmin is the cross-engine
    * struct-min convention with the code id as tie-break.
    *
    * Scale shape: one ×[[PQ_M]] literal explode, one broadcast join
    * against the 64-row codebook (×[[PQ_CODES]] fanout inside the
    * map stage), then two map-side-combined aggregates keyed on
    * (vec, m) and vec. Nothing shuffles wider than N·M rows of
    * (id, two longs). */
  def pqQuantize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("qv", quant(col("embedding")))
      .select(col("vec_id"), col("qv"))
      .repartition(spark.sparkContext.defaultParallelism)
    def subs(df: DataFrame): DataFrame = df
      .select(col("vec_id"),
        explode(array((0 until PQ_M).map(m => lit(m)): _*)).as("m"),
        col("qv"))
      .select(col("vec_id"), col("m"),
        slice(col("qv"), col("m") * PQ_SUBDIM + 1, lit(PQ_SUBDIM)).as("sv"))
    val cb = subs(e.filter(col("vec_id") < PQ_CODES))
      .select(col("m"), col("vec_id").as("code"), col("sv").as("cw"))
    subs(e).join(broadcast(cb), Seq("m"))
      .withColumn("d2",
        dot(col("sv"), col("sv")) - lit(2L) * dot(col("sv"), col("cw")) +
          dot(col("cw"), col("cw")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2").as("d"), col("code").as("c"))).as("best"))
      .groupBy(col("vec_id"))
      .agg(
        concat_ws("|", transform(
          array_sort(collect_list(struct(col("m"),
            col("best.c").cast("string").as("cs")))),
          s => s.getField("cs"))).as("pq_code"),
        sum(col("best.d")).cast("long").as("err2"))
      .orderBy(col("vec_id"))
  }

  val pqQuantizeSql: String = {
    def dotSql(a: String, b: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, $PQ_SUBDIM), i -> $a[i] * $b[i])) AS BIGINT)"
    s"""WITH e AS (SELECT vec_id, $quantSql AS qv FROM embeddings),
       ms AS (SELECT unnest(range(0, $PQ_M)) AS m),
       sub AS (
         SELECT vec_id, m, list_slice(qv, m * $PQ_SUBDIM + 1, m * $PQ_SUBDIM + $PQ_SUBDIM) AS sv
         FROM e CROSS JOIN ms),
       cb AS (SELECT m, vec_id AS code, sv AS cw FROM sub WHERE vec_id < $PQ_CODES),
       best AS (
         SELECT s.vec_id, s.m,
           min(struct_pack(d := ${dotSql("s.sv", "s.sv")} - 2 * ${dotSql("s.sv", "c.cw")}
                                + ${dotSql("c.cw", "c.cw")},
                           c := c.code)) AS b
         FROM sub s JOIN cb c USING (m) GROUP BY s.vec_id, s.m)
       SELECT vec_id,
         string_agg(CAST(b.c AS VARCHAR), '|' ORDER BY m) AS pq_code,
         CAST(sum(b.d) AS BIGINT) AS err2
       FROM best GROUP BY vec_id ORDER BY vec_id"""
  }

  /** PQ index recall@k — the evaluation that closes the
    * [[pqQuantize]] loop (ann_recall's counterpart for the compressed
    * index): rank the corpus for each query by ASYMMETRIC DISTANCE
    * (Jégou PAMI'11 ADC — the query's exact subvector against each
    * database vector's CODEWORD, summed over subspaces via a
    * per-query M×CODES lookup table) and score the top-k against the
    * exact integer L2 top-k. Everything is integer arithmetic on the
    * shared quantized grid: codeword assignment, the ADC table, and
    * the exact baseline — so recall is bit-decidable cross-engine.
    *
    * Scale shape: the ADC scan is ONE broadcast join of the (vec, m,
    * code) assignment against the |Q|·M·CODES lookup (512 rows here)
    * + a (qid, vec) partial-sum — the linear scan an IVFPQ cell probe
    * performs, costed per probed cell at production scale. The exact
    * baseline is the same brute-force frame every recall eval pays
    * once.
    *
    * The reported number is SHORTLIST recall — how much of the exact
    * top-k the ADC top-[[RERANK]] shortlist captures — because that
    * is the quantity a production ADC-then-exact-rerank composition
    * depends on (the rerank step recovers exact order within the
    * shortlist; a raw 4-bit-code top-k would understate the index). */
  private val RERANK = 50
  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("qv", quant(col("embedding")))
      .select(col("vec_id"), col("qv"))
      .repartition(spark.sparkContext.defaultParallelism)
      .transform(graft.util.Fence.lineage)
    def subs(df: DataFrame): DataFrame = df
      .select(col("vec_id"),
        explode(array((0 until PQ_M).map(m => lit(m)): _*)).as("m"),
        col("qv"))
      .select(col("vec_id"), col("m"),
        slice(col("qv"), col("m") * PQ_SUBDIM + 1, lit(PQ_SUBDIM)).as("sv"))
    val cb = subs(e.filter(col("vec_id") < PQ_CODES))
      .select(col("m"), col("vec_id").as("code"), col("sv").as("cw"))
    val codes = subs(e).join(broadcast(cb), Seq("m"))
      .withColumn("d2",
        dot(col("sv"), col("sv")) - lit(2L) * dot(col("sv"), col("cw")) +
          dot(col("cw"), col("cw")))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2").as("d"), col("code").as("c"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.c").as("code"))
    val adc = subs(e.filter(col("vec_id") < NQUERIES))
      .select(col("vec_id").as("qid"), col("m"), col("sv").as("qsv"))
      .join(broadcast(cb), Seq("m"))
      .withColumn("dq2",
        dot(col("qsv"), col("qsv")) - lit(2L) * dot(col("qsv"), col("cw")) +
          dot(col("cw"), col("cw")))
      .select(col("qid"), col("m"), col("code"), col("dq2"))
    val wA = Window.partitionBy(col("qid")).orderBy(col("ad2"), col("vec_id"))
    val topA = codes.join(broadcast(adc), Seq("m", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dq2")).as("ad2"))
      .withColumn("rk", row_number().over(wA))
      .filter(col("rk") <= RERANK)
      .select(col("qid"), col("vec_id"))
    val q = e.filter(col("vec_id") < NQUERIES)
      .select(col("vec_id").as("qid"), col("qv").as("qvec"))
    val wE = Window.partitionBy(col("qid")).orderBy(col("d2"), col("vec_id"))
    val topE = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("d2",
        norm2(col("qvec")) - lit(2L) * dot(col("qvec"), col("qv")) +
          norm2(col("qv")))
      .withColumn("rk", row_number().over(wE))
      .filter(col("rk") <= TOPK)
      .select(col("qid"), col("vec_id"))
    topE.join(topA.withColumn("hit", lit(1L)), Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
      .withColumn("recall_ppm", expr(s"n_hits * 1000000 div $TOPK"))
      .orderBy(col("qid"))
  }

  val pqRecallSql: String = {
    def sdot(a: String, b: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, $PQ_SUBDIM), i -> $a[i] * $b[i])) AS BIGINT)"
    def fdot(a: String, b: String): String =
      s"CAST(list_sum(list_transform(generate_series(1, $DIM), i -> $a[i] * $b[i])) AS BIGINT)"
    s"""WITH e AS (SELECT vec_id, $quantSql AS qv FROM embeddings),
       ms AS (SELECT unnest(range(0, $PQ_M)) AS m),
       sub AS (
         SELECT vec_id, m, list_slice(qv, m * $PQ_SUBDIM + 1, m * $PQ_SUBDIM + $PQ_SUBDIM) AS sv
         FROM e CROSS JOIN ms),
       cb AS (SELECT m, vec_id AS code, sv AS cw FROM sub WHERE vec_id < $PQ_CODES),
       codes AS (
         SELECT s.vec_id, s.m,
           (min(struct_pack(d := ${sdot("s.sv", "s.sv")} - 2 * ${sdot("s.sv", "c.cw")}
                                 + ${sdot("c.cw", "c.cw")},
                            c := c.code))).c AS code
         FROM sub s JOIN cb c USING (m) GROUP BY s.vec_id, s.m),
       qs AS (SELECT vec_id AS qid, m, sv AS qsv FROM sub WHERE vec_id < $NQUERIES),
       adc AS (
         SELECT q.qid, c.m, c.code,
           ${sdot("q.qsv", "q.qsv")} - 2 * ${sdot("q.qsv", "c.cw")}
             + ${sdot("c.cw", "c.cw")} AS dq2
         FROM qs q JOIN cb c ON q.m = c.m),
       approx AS (
         SELECT a.qid, co.vec_id, sum(a.dq2) AS ad2
         FROM codes co JOIN adc a ON a.m = co.m AND a.code = co.code
         WHERE co.vec_id <> a.qid GROUP BY a.qid, co.vec_id),
       ta AS (
         SELECT qid, vec_id FROM (
           SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY ad2, vec_id) AS rk
           FROM approx) WHERE rk <= $RERANK),
       q2 AS (SELECT vec_id AS qid, qv AS qvec FROM e WHERE vec_id < $NQUERIES),
       ex AS (
         SELECT q2.qid, e.vec_id,
           ${fdot("q2.qvec", "q2.qvec")} - 2 * ${fdot("q2.qvec", "e.qv")}
             + ${fdot("e.qv", "e.qv")} AS d2
         FROM e CROSS JOIN q2 WHERE e.vec_id <> q2.qid),
       te AS (
         SELECT qid, vec_id FROM (
           SELECT qid, vec_id,
             row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) AS rk
           FROM ex) WHERE rk <= $TOPK)
       SELECT te.qid, CAST(count(ta.vec_id) AS BIGINT) AS n_hits,
         CAST(count(ta.vec_id) * 1000000 // $TOPK AS BIGINT) AS recall_ppm
       FROM te LEFT JOIN ta ON te.qid = ta.qid AND te.vec_id = ta.vec_id
       GROUP BY te.qid ORDER BY te.qid"""
  }

  /** Embedding-norm audit: per label, the distribution of squared
    * vector norms (n, min, max, exact sum, 4-dp mean in milli-unit²)
    * plus the count of degenerate near-zero vectors — the first check
    * before any cosine-based pipeline (a collapsed or un-normalized
    * embedding batch shows up here before it silently poisons every
    * similarity score downstream). Norms are exact integers on the
    * shared milli-quantized grid ([[quant]]), so min/max/sum are
    * bit-stable and the only division is the final mean.
    *
    * Scale shape: one narrow (label ⟕ norm2) projection — the native
    * [[graft.functions.LongDot]] self-dot, one codegen loop per row —
    * then a single label-keyed aggregate with map-side combine;
    * nothing but (label, long) crosses the wire. */
  def embeddingNorms(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("qv", quant(col("embedding")))
      .select(col("label"), graft.functions.LongDot(col("qv"), col("qv")).as("n2"))
    e.groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        min(col("n2")).cast("long").as("min_norm2"),
        max(col("n2")).cast("long").as("max_norm2"),
        sum(col("n2")).cast("long").as("sum_norm2"),
        sum(when(col("n2") < 1000, 1).otherwise(0)).cast("long").as("n_degenerate"))
      .withColumn("mean_norm2",
        graft.util.Exact.pround4(col("sum_norm2").cast("double") / col("n_vecs")))
      .orderBy(col("label"))
  }

  val embeddingNormsSql: String =
    s"""WITH e AS (
         SELECT label,
           CAST(list_sum(list_transform($quantSql, x -> x * x)) AS BIGINT) AS n2
         FROM embeddings),
       g AS (
         SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(min(n2) AS BIGINT) AS min_norm2,
           CAST(max(n2) AS BIGINT) AS max_norm2,
           CAST(sum(n2) AS BIGINT) AS sum_norm2,
           CAST(sum(CASE WHEN n2 < 1000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_degenerate
         FROM e GROUP BY label)
       SELECT label, n_vecs, min_norm2, max_norm2, sum_norm2, n_degenerate,
         ${graft.util.Exact.pround4Sql("CAST(sum_norm2 AS DOUBLE) / n_vecs")}
           AS mean_norm2
       FROM g ORDER BY label"""

  /** Per-DIMENSION feature profile of the embedding space: count,
    * exact integer sum / sum-of-squares / min / max per coordinate,
    * with 4-dp mean and variance — the feature-scaling statistics a
    * PQ codebook, whitening transform, or dead-dimension audit reads
    * first (a dimension with ~zero variance carries no signal and
    * wastes index bits). Variance is the exact integer rational
    * (n·Σx² − (Σx)²)/n², divided only at the end (quantized values
    * are ≤10³, so n·Σx² stays far inside BIGINT at 10⁹ vectors).
    *
    * Scale shape: posexplode_outer (the generator rule) fans each
    * vector into DIM narrow (pos, v) rows; the aggregate keys on pos
    * — DIM distinct keys, so map-side combine collapses every
    * partition to ≤DIM rows before the one tiny shuffle. */
  def dimStats(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .withColumn("qv", quant(col("embedding")))
      .select(posexplode_outer(col("qv")).as(Seq("dim", "v")))
      .filter(col("v").isNotNull)
    e.groupBy(col("dim"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("v")).cast("long").as("sum_v"),
        sum(col("v") * col("v")).cast("long").as("sum_v2"),
        min(col("v")).cast("long").as("min_v"),
        max(col("v")).cast("long").as("max_v"))
      .withColumn("mean_milli",
        graft.util.Exact.pround4(col("sum_v").cast("double") / col("n")))
      .withColumn("var_milli2",
        graft.util.Exact.pround4(
          (col("n") * col("sum_v2") - col("sum_v") * col("sum_v")).cast("double") /
            (col("n") * col("n"))))
      .orderBy(col("dim"))
  }

  val dimStatsSql: String =
    s"""WITH ex AS (
         SELECT t.i - 1 AS dim, qv[t.i] AS v
         FROM (SELECT $quantSql AS qv FROM embeddings),
              UNNEST(generate_series(1, len(qv))) AS t(i)),
       g AS (
         SELECT dim, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(v) AS BIGINT) AS sum_v,
           CAST(sum(v * v) AS BIGINT) AS sum_v2,
           CAST(min(v) AS BIGINT) AS min_v,
           CAST(max(v) AS BIGINT) AS max_v
         FROM ex GROUP BY dim)
       SELECT dim, n, sum_v, sum_v2, min_v, max_v,
         ${graft.util.Exact.pround4Sql("CAST(sum_v AS DOUBLE) / n")} AS mean_milli,
         ${graft.util.Exact.pround4Sql(
           "CAST(n * sum_v2 - sum_v * sum_v AS DOUBLE) / (n * n)")} AS var_milli2
       FROM g ORDER BY dim"""

  /** Label-separability audit: mean pairwise DOT within each label
    * (cohesion) and between each label pair (separation) — the
    * metric-learning margin report, computed WITHOUT any pairwise
    * pass: over quantized integers, Σ_{i≠j} vᵢ·vⱼ inside a label is
    * exactly |S|² − Σ|v|² (S the label's sum vector), and the
    * cross-label pair mass is exactly S₁·S₂ — so a report that is
    * nominally O(N²) pairs costs one (label, dim) partial-sum shuffle
    * plus a labels²-bounded join (the [[centroidSimilarity]] algebra
    * extended to pair MEANS). Doubled sums/pair-counts keep every
    * intermediate integer (the i≠j mass is even by symmetry; no /2
    * before the final floor-divided mean).
    *
    * Scale shape: one narrow stats aggregate + one (label, dim)
    * partial-sum shuffle over the fenced base; the pair frame is
    * ≤ labels² rows of (sum-vector, scalars). */
  def labelSeparability(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("qv", quant(col("embedding")))
      .select(col("label"), col("qv"), norm2(col("qv")).as("n2"))
      .transform(graft.util.Fence.lineage)
    val stats = base.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("n2")).as("sum_n2"))
    val sums = base
      .select(col("label"), posexplode_outer(col("qv")).as(Seq("dim", "v")))
      .filter(col("v").isNotNull)
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("v")).as("s"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("s")))),
        x => x.getField("s")).as("sv"))
    val lab = stats.join(sums, Seq("label"))
      .transform(graft.util.Fence.lineage)
    val a = lab.select(col("label").as("label1"), col("n").as("n1"),
      col("sum_n2").as("sn2a"), col("sv").as("sa"))
    val b = lab.select(col("label").as("label2"), col("n").as("n2_"),
      col("sv").as("sb"))
    a.join(b, col("label1") <= col("label2"))
      .select(
        col("label1").cast("long").as("label1"),
        col("label2").cast("long").as("label2"),
        when(col("label1") === col("label2"), lit("intra"))
          .otherwise(lit("inter")).as("kind"),
        when(col("label1") === col("label2"), col("n1") * (col("n1") - 1))
          .otherwise(col("n1") * col("n2_") * 2).cast("long").as("pairs2"),
        when(col("label1") === col("label2"),
            dot(col("sa"), col("sa")) - col("sn2a"))
          .otherwise(dot(col("sa"), col("sb")) * 2).cast("long").as("sum_dot2"))
      .withColumn("mean_dot",
        floor(col("sum_dot2").cast("double") / col("pairs2")).cast("long"))
      .orderBy(col("label1"), col("label2"))
  }

  val labelSeparabilitySql: String =
    s"""WITH e AS (
         SELECT label, $quantSql AS qv FROM embeddings),
       st AS (
         SELECT label, count(*) AS n,
           CAST(sum(list_sum(list_transform(qv, x -> x * x))) AS BIGINT)
             AS sum_n2
         FROM e GROUP BY label),
       x AS (
         SELECT label, unnest(list_transform(generate_series(1, len(qv)),
           i -> struct_pack(dim := i, v := qv[i]))) AS u
         FROM e),
       s AS (
         SELECT label, u.dim AS dim, CAST(sum(u.v) AS BIGINT) AS sv
         FROM x GROUP BY label, u.dim),
       vecs AS (SELECT label, list(sv ORDER BY dim) AS sv FROM s GROUP BY label),
       lab AS (
         SELECT st.label, st.n, st.sum_n2, vecs.sv
         FROM st JOIN vecs ON st.label = vecs.label),
       pairs AS (
         SELECT a.label AS l1, b.label AS l2,
           a.n AS n1, b.n AS n2, a.sum_n2 AS sn2a, a.sv AS sa, b.sv AS sb
         FROM lab a JOIN lab b ON a.label <= b.label)
       SELECT CAST(l1 AS BIGINT) AS label1, CAST(l2 AS BIGINT) AS label2,
         CASE WHEN l1 = l2 THEN 'intra' ELSE 'inter' END AS kind,
         CAST(CASE WHEN l1 = l2 THEN n1 * (n1 - 1)
           ELSE n1 * n2 * 2 END AS BIGINT) AS pairs2,
         CAST(CASE WHEN l1 = l2 THEN
             list_sum(list_transform(generate_series(1, $DIM),
               i -> sa[i] * sa[i])) - sn2a
           ELSE list_sum(list_transform(generate_series(1, $DIM),
               i -> sa[i] * sb[i])) * 2 END AS BIGINT) AS sum_dot2,
         CAST(floor(CAST(CASE WHEN l1 = l2 THEN
             list_sum(list_transform(generate_series(1, $DIM),
               i -> sa[i] * sa[i])) - sn2a
           ELSE list_sum(list_transform(generate_series(1, $DIM),
               i -> sa[i] * sb[i])) * 2 END AS DOUBLE) /
           (CASE WHEN l1 = l2 THEN n1 * (n1 - 1) ELSE n1 * n2 * 2 END))
           AS BIGINT) AS mean_dot
       FROM pairs ORDER BY label1, label2"""

  /** IVF index cell-balance audit — the health check run after every
    * index build, because a skewed coarse quantizer quietly turns IVF
    * into brute force: a cell holding 30% of the corpus makes every
    * probe touching it scan 30% of the vectors. Reads the SAME staged
    * assignment ([[kmeansIvfAssignment]]) the query path uses — the
    * audit can never diverge from what queries actually probe — and
    * reports each trained cell's primary (rk=1) population, its
    * corpus share in integer ppm, and its load factor in permille of
    * the ideal N/K (1000 = perfectly balanced).
    *
    * Scale shape: the staged index is already (vec_id, cluster) rows;
    * this is one map-side-combining groupBy on K keys plus a 1-row
    * total broadcast back (the in-plan scalar-knob convention — no
    * driver probe). At 10⁹ vectors: one shuffle of K rows. */
  def ivfCellBalance(spark: SparkSession, dir: String): DataFrame = {
    val cells = kmeansIvfAssignment(spark, dir)
      .filter(col("rk") === 1)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).cast("long").as("n_vectors"))
    val total = cells.agg(sum(col("n_vectors")).cast("long").as("tot"),
      count(lit(1)).cast("long").as("n_cells"))
    cells.crossJoin(broadcast(total))
      .select(col("cluster"), col("n_vectors"),
        expr("n_vectors * 1000000 div tot").as("share_ppm"),
        expr("n_vectors * n_cells * 1000 div tot").as("load_permille"))
      .orderBy(col("cluster"))
  }

  val ivfCellBalanceSql: String =
    s"""WITH ${Cluster.trainCtesSql},
       ivfa AS (
         SELECT e.vec_id, c.cluster,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY ${Cluster.distSql("c.cent")}, c.cluster) AS rk
         FROM e CROSS JOIN cents c),
       g AS (
         SELECT cluster, CAST(count(*) AS BIGINT) AS n_vectors
         FROM ivfa WHERE rk = 1 GROUP BY cluster),
       t AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS tot,
                    CAST(count(*) AS BIGINT) AS n_cells FROM g)
       SELECT cluster, n_vectors,
         CAST(n_vectors * 1000000 // tot AS BIGINT) AS share_ppm,
         CAST(n_vectors * n_cells * 1000 // tot AS BIGINT) AS load_permille
       FROM g, t ORDER BY cluster"""
}
