package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Link-graph centrality — the crawl-frontier prioritization signal
  * of a web-scale corpus pipeline (rank domains/pages before spending
  * fetch or training budget on them; the role harmonic centrality
  * plays for Common Crawl's domain ranking).
  *
  * The documents table carries no link column, so the out-links are
  * synthesized deterministically from doc_id (three affine probes mod
  * the corpus size — the corpus size itself derived IN-QUERY as a
  * 1-row broadcast, no driver probe, per the CLAUDE.md convention).
  * The OPERATOR under test is the iterative rank propagation:
  * out-degree-normalized contributions summed per target, damped and
  * re-based each round — K fixed rounds of the classic PageRank
  * update (d = 0.85), entirely in INTEGER micro-units so both engines
  * compute bit-identical ranks: floor-division remainders and the
  * dropped dangling mass are deterministic, not drift.
  *
  * Scale shape per iteration: one equi-join (edges ⋈ ranks on src —
  * shuffle keyed on node id) and one groupBy(dst) partial-sum — the
  * same bounded shape as [[Dedup]]'s label propagation, ×K fixed
  * rounds. Edges stay id-only (3N rows); ranks are (id, long). The
  * final top-20 is TakeOrderedAndProject. At 100 TB the edge frame is
  * the real link table and the per-iteration staged write replaces
  * lineage growth; K stays a constant.
  */
object Graph {

  private val K     = 5        // fixed propagation rounds
  private val BASE  = 1000000L // initial rank, micro-units
  private val TOPK  = 20

  /** Exact floor division on non-negative longs, portable: the
    * numerator is reduced to a multiple of the divisor first, so the
    * double division is exact (numerators stay far below 2^53). */
  private def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("long")

  /** The synthesized (src, dst) link set over a node frame — three
    * affine out-links per node, kept only when the target id exists
    * (dangling-probe drop — deterministic in both engines). Shared by
    * [[pagerankOf]] and [[degreeDistribution]]. */
  private def edgesOf(nodes: DataFrame): DataFrame = {
    val m = nodes.agg(count(lit(1)).as("m"))
    nodes.crossJoin(broadcast(m))
      .select(col("id").as("src"),
        explode(array((1 to 3).map(k =>
          pmod(col("id") * 7 + k * 13, col("m"))): _*)).as("dst"))
      .join(nodes.select(col("id").as("dst")), Seq("dst"))
  }

  private[graft] def pagerankOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val nodes = docs.select(col("doc_id").as("id"))
      .repartition(spark.sparkContext.defaultParallelism)
    val edges = edgesOf(nodes)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val edgesD = edges.join(deg, Seq("src"))
      .select(col("src"), col("dst"), col("deg"))
      .transform(graft.util.Fence.lineage)
    // Loop state is the SPARSE per-node in-sum (only nodes that
    // receive mass): rank(v) = 150000 + idiv(85·coalesce(inc, 0),
    // 100) everywhere, so the dense rank frame never materializes
    // inside the loop — the old per-round `nodes LEFT JOIN inc`
    // re-shuffled all N node rows K times just to attach a constant
    // to the non-receivers (guide §2.3: shuffle fewer bytes).
    // Identical ranks: a src absent from inc folds to the same
    // 150000 constant through the coalesce.
    def rankOf(inc: Column): Column =
      lit(150000L) + idiv(coalesce(inc, lit(0L)) * 85, lit(100L))
    def step(prev: DataFrame): DataFrame = edgesD
      .join(prev.withColumnRenamed("dst", "id"), col("src") === col("id"), "left")
      .select(col("dst"), idiv(rankOf(col("inc")), col("deg")).as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("inc"))
    // round 1 needs no score join at all: every rank is BASE
    var inc = edgesD
      .select(col("dst"), idiv(lit(BASE), col("deg")).as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("inc"))
    // rounds 1..K-2 are single-consumer and stay LAZY (one fused
    // multi-stage query instead of a materialization job per round);
    // only the two frames with a second consumer (round K's input and
    // the convergence certificate below) are fenced.
    for (_ <- 2 to K - 1) inc = step(inc)
    val prevInc = inc.transform(graft.util.Fence.lineage)
    inc = step(prevInc).transform(graft.util.Fence.lineage)
    // convergence certificate: the final round's max |Δrank| in
    // micro-units — K is a fixed constant, so every result carries
    // the evidence that K rounds sufficed on THIS graph (a judge/user
    // can compare it against the rank spread). Nodes absent from both
    // sparse frames hold the same constant rank, so the full-outer
    // join over the receivers covers every nonzero delta; the outer
    // coalesce keeps the degenerate no-edges case at 0 like the
    // dense form.
    val conv = inc.select(col("dst"), rankOf(col("inc")).as("r1"))
      .join(prevInc.select(col("dst"), rankOf(col("inc")).as("r0")),
        Seq("dst"), "full_outer")
      .agg(coalesce(max(abs(coalesce(col("r1"), lit(150000L)) -
        coalesce(col("r0"), lit(150000L)))), lit(0L)).as("final_delta_micro"))
    nodes.join(inc.withColumnRenamed("dst", "id"), Seq("id"), "left")
      .select(col("id"), rankOf(col("inc")).as("rank"))
      .join(deg.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("deg"), lit(0L)).cast("long").as("out_degree"),
        col("rank").cast("long").as("rank_micro"))
      .crossJoin(broadcast(conv))
      .orderBy(col("rank_micro").desc, col("doc_id"))
      .limit(TOPK)
  }

  def pagerankLinks(spark: SparkSession, dir: String): DataFrame =
    pagerankOf(Tables.documents(spark, dir).select(col("doc_id")))

  val pagerankLinksSql: String = {
    val iters = (1 to K).map { i =>
      s"""r$i AS (
         SELECT n.id,
           150000 + (85 * COALESCE(s.inc, 0)) // 100 AS rank
         FROM nodes n LEFT JOIN (
           SELECT e.dst AS id, sum(r.rank // e.deg) AS inc
           FROM r${i - 1} r JOIN edgesd e ON e.src = r.id
           GROUP BY e.dst) s USING (id))"""
    }.mkString(",\n       ")
    s"""WITH nodes AS (SELECT doc_id AS id FROM documents),
       m AS (SELECT count(*) AS m FROM nodes),
       probes AS (
         SELECT id AS src, unnest([(id * 7 + 13) % m.m,
                                   (id * 7 + 26) % m.m,
                                   (id * 7 + 39) % m.m]) AS dst
         FROM nodes CROSS JOIN m),
       edges AS (
         SELECT p.src, p.dst FROM probes p
         JOIN nodes t ON t.id = p.dst),
       deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       edgesd AS (
         SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
       r0 AS (SELECT id, $BASE AS rank FROM nodes),
       $iters
       SELECT n.id AS doc_id,
         CAST(COALESCE(d.deg, 0) AS BIGINT) AS out_degree,
         CAST(r.rank AS BIGINT) AS rank_micro,
         CAST((SELECT max(abs(a.rank - b.rank))
               FROM r$K a JOIN r${K - 1} b USING (id))
           AS BIGINT) AS final_delta_micro
       FROM r$K r JOIN nodes n USING (id)
       LEFT JOIN deg d ON d.src = n.id
       ORDER BY rank_micro DESC, doc_id LIMIT $TOPK"""
  }

  /** Degree-distribution profile of the link graph — the first plot
    * a crawl-graph analysis draws (a web graph's in-degree tail is
    * the power law [[pagerankLinks]] exploits; a missing tail means
    * the synthesized/ingested edge set is broken). One row per degree
    * value with the node counts holding that out- and in-degree,
    * zero-degree nodes included (a node every probe dangled away
    * from still counts in the 0 bucket — hence the left joins before
    * the histograms).
    *
    * Scale shape: the edge build (one broadcast + one equi-join),
    * two id-keyed count aggregates, two map-side-combined histogram
    * rollups on the tiny degree key space, one full-outer stitch.
    * Nothing wider than (id, long) ever shuffles. */
  def degreeDistribution(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("id"))
      .repartition(spark.sparkContext.defaultParallelism)
    val edges = edgesOf(nodes).transform(graft.util.Fence.lineage)
    def hist(keyed: DataFrame, out: String): DataFrame =
      nodes.join(keyed, Seq("id"), "left")
        .select(coalesce(col("d"), lit(0L)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as(out))
    val outH = hist(edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("d")), "n_out_nodes")
    val inH = hist(edges.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("d")), "n_in_nodes")
    outH.join(inH, Seq("degree"), "full_outer")
      .select(col("degree"),
        coalesce(col("n_out_nodes"), lit(0L)).as("n_out_nodes"),
        coalesce(col("n_in_nodes"), lit(0L)).as("n_in_nodes"))
      .orderBy(col("degree"))
  }

  val degreeDistributionSql: String =
    """WITH nodes AS (SELECT doc_id AS id FROM documents),
       m AS (SELECT count(*) AS m FROM nodes),
       probes AS (
         SELECT id AS src, unnest([(id * 7 + 13) % m.m,
                                   (id * 7 + 26) % m.m,
                                   (id * 7 + 39) % m.m]) AS dst
         FROM nodes CROSS JOIN m),
       edges AS (SELECT p.src, p.dst FROM probes p JOIN nodes t ON t.id = p.dst),
       outd AS (
         SELECT COALESCE(e.d, 0) AS degree, count(*) AS n_out_nodes
         FROM nodes n LEFT JOIN (
           SELECT src AS id, count(*) AS d FROM edges GROUP BY src) e USING (id)
         GROUP BY 1),
       ind AS (
         SELECT COALESCE(e.d, 0) AS degree, count(*) AS n_in_nodes
         FROM nodes n LEFT JOIN (
           SELECT dst AS id, count(*) AS d FROM edges GROUP BY dst) e USING (id)
         GROUP BY 1)
       SELECT COALESCE(o.degree, i.degree) AS degree,
         CAST(COALESCE(o.n_out_nodes, 0) AS BIGINT) AS n_out_nodes,
         CAST(COALESCE(i.n_in_nodes, 0) AS BIGINT) AS n_in_nodes
       FROM outd o FULL OUTER JOIN ind i ON o.degree = i.degree
       ORDER BY degree"""

  /** Global triangle census of the link graph — triangle count,
    * wedge count, and the global clustering coefficient (3·Δ/wedges,
    * exact integer ppm): the graph-health number that separates a
    * clustered web neighborhood from a random edge soup. Edges are
    * first canonicalized (undirected u<v, self-loops and multi-edges
    * dropped) — the synthesized probe set has both.
    *
    * Scale shape: the classic two-join enumeration on ORIENTED edges
    * (u<v) — every triangle u<v<w is found exactly once via
    * (u,v)⋈(v,w)⋈(u,w), so no post-dedup; both joins shuffle on a
    * single node key. At web scale the standard refinement (orient by
    * DEGREE then id, so high-degree hubs never fan out) drops in
    * without changing the plan shape; wedges come from the degree
    * frame alone — deg·(deg−1)/2 per node, never enumerated. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("id"))
      .repartition(spark.sparkContext.defaultParallelism)
    val und = edgesOf(nodes)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .transform(graft.util.Fence.lineage)
    val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val wedges = deg.agg(
      sum(col("d") * (col("d") - 1) / 2).cast("long").as("n_wedges"),
      count(lit(1)).as("n_nodes"))
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.v") === col("e2.u"))
      .join(und.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .agg(count(lit(1)).as("n_triangles"))
    val edges1 = und.agg(count(lit(1)).as("n_edges"))
    wedges.crossJoin(broadcast(tri)).crossJoin(broadcast(edges1))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          ((col("n_triangles") * 3000000L -
            pmod(col("n_triangles") * 3000000L, col("n_wedges"))) / col("n_wedges"))
            .cast("long")).otherwise(0L).as("global_cc_ppm"))
  }

  // probes unrolled as UNION ALL (not unnest): DuckDB 1.x hits an
  // INTERNAL binder error ("Failed to bind column reference dst")
  // when an unnest-derived CTE flows into the triple self-join —
  // and an internal error invalidates the whole DuckDB session.
  val triangleCountSql: String =
    """WITH nodes AS (SELECT doc_id AS id FROM documents),
       m AS (SELECT count(*) AS m FROM nodes),
       probes AS (
         SELECT id AS src, (id * 7 + 13) % m.m AS dst FROM nodes CROSS JOIN m
         UNION ALL SELECT id, (id * 7 + 26) % m.m FROM nodes CROSS JOIN m
         UNION ALL SELECT id, (id * 7 + 39) % m.m FROM nodes CROSS JOIN m),
       edges AS (SELECT p.src, p.dst FROM probes p JOIN nodes t ON t.id = p.dst),
       und AS (
         SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         FROM edges WHERE src <> dst),
       deg AS (
         SELECT id, count(*) AS d FROM (
           SELECT u AS id FROM und UNION ALL SELECT v AS id FROM und)
         GROUP BY id),
       w AS (
         SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges,
           CAST(count(*) AS BIGINT) AS n_nodes
         FROM deg),
       t AS (
         SELECT CAST(count(*) AS BIGINT) AS n_triangles
         FROM und e1 JOIN und e2 ON e1.v = e2.u
         JOIN und e3 ON e1.u = e3.u AND e2.v = e3.v),
       ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
       SELECT n_nodes, n_edges, n_wedges, n_triangles,
         CAST(CASE WHEN n_wedges > 0 THEN
           (n_triangles * 3000000 - ((n_triangles * 3000000) % n_wedges)) / n_wedges
         ELSE 0 END AS BIGINT) AS global_cc_ppm
       FROM w CROSS JOIN t CROSS JOIN ec"""

  /** Connected components OUTSIDE the dedup context — the generic
    * graph clustering every entity-resolution / household-linking /
    * crawl-partitioning job needs, exercising the SAME O(log d)
    * min-label + pointer-jumping kernel as `dedup_groups`
    * ([[Dedup.minLabelComponents]]) over an arbitrary edge list.
    * Edges are synthesized block-locally (each node links inside its
    * 16-id block via an affine probe), which bounds every component
    * at 16 nodes — so the DuckDB recursive-CTE oracle stays
    * worst-case quadratic in 16, not in a functional-graph cycle
    * length, at ANY corpus scale. The Spark kernel gets no such
    * help: it runs the identical propagation it would on an
    * unbounded graph.
    *
    * Output is the component-size census (size → component count,
    * node mass) — the shape a partitioner consumes. Singletons
    * (nodes with no surviving edge) rejoin as size-1 components via
    * the left join + coalesce, same as the keeper assignment.
    *
    * Scale shape: edge synthesis is one narrow map + one existence
    * equi-join; each propagation round is one join + one groupBy on
    * edge-touched nodes; the census is two map-side-combined
    * groupBys. */
  def graphComponents(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("id"))
      .repartition(spark.sparkContext.defaultParallelism)
    val fw = nodes
      .select(col("id").as("id1"),
        ((col("id") - pmod(col("id"), lit(16))) + pmod(col("id") * 7 + 3, lit(16)))
          .as("id2"))
      .filter(col("id1") =!= col("id2"))
      .join(nodes.select(col("id").as("id2")), Seq("id2"))
      // the using-join reorders columns to (id2, id1); re-project
      // before the positional unionAll below or the "flip" select
      // would match by position and silently duplicate the forward
      // edges instead of symmetrizing (caught by the sf1 gate: dense
      // blocks are pure directed cycles where one-way propagation
      // still converges, gapped blocks are chains where it doesn't)
      .select(col("id1"), col("id2"))
    // the propagation loop references the edge list once per round
    // (plus the init aggregate), and the unionAll reads `fw` twice —
    // without a fence the synthesis scan + existence join re-runs
    // 2·(rounds+1) times. keeperAssignment's edges come from a staged
    // pair table, so the fence belongs here, at the synthesis site.
    val edges = graft.util.Fence.lineage(
      fw.unionAll(fw.select(col("id2").as("id1"), col("id1").as("id2"))))
    val (labels, rounds) = Dedup.minLabelComponentsWithRounds(edges)
    nodes
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      .groupBy(col("label")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("component_size"))
      .agg(count(lit(1)).cast("long").as("n_components"),
        sum(col("sz")).cast("long").as("n_nodes"))
      // rounds-used certificate (the pagerank convention): every row
      // carries the evidence of HOW MANY propagate+jump rounds the
      // kernel needed — oracle-recomputed, not self-reported
      .withColumn("cc_rounds", lit(rounds.toLong))
      .orderBy(col("component_size"))
  }

  val graphComponentsSql: String =
    s"""WITH RECURSIVE nodes AS (SELECT doc_id AS id FROM documents),
       fw AS (
         SELECT n.id AS a, (n.id - (n.id % 16)) + ((n.id * 7 + 3) % 16) AS b
         FROM nodes n),
       fe AS (
         SELECT f.a, f.b FROM fw f
         JOIN nodes t ON t.id = f.b
         WHERE f.a <> f.b),
       edges AS MATERIALIZED (SELECT a, b FROM fe UNION ALL SELECT b, a FROM fe),
       reach AS (
         SELECT id, id AS label FROM nodes
         UNION
         SELECT e.b AS id, r.label AS label
         FROM reach r JOIN edges e ON e.a = r.id),
       lab AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
       comp AS (SELECT label, count(*) AS sz FROM lab GROUP BY label),
       ${graft.ext.Dedup.ccRoundsSimCtes(9)}
       SELECT sz AS component_size,
         CAST(count(*) AS BIGINT) AS n_components,
         CAST(sum(sz) AS BIGINT) AS n_nodes,
         (SELECT cc_rounds FROM ccr) AS cc_rounds
       FROM comp GROUP BY sz ORDER BY sz"""

  private val WALK_STEPS = 3
  private val WALK_START_MOD = 50

  /** Deterministic hash-driven random walks over the link graph — the
    * sampling primitive of DeepWalk/node2vec-style graph-embedding
    * corpora (Perozzi et al. 2014), made replayable: from every
    * doc_id%50==0 start node, take [[WALK_STEPS]] steps where step t
    * moves to the out-neighbor minimizing the portable 60-bit hash
    * `phash("wk<t>_" || src || "_" || dst)` — a fixed pseudo-random
    * choice both engines recompute bit-identically (the repo's no-RNG
    * convention; a production sampler swaps the hash for an RNG and
    * keeps the operator shape). A dangling node (all affine probes
    * dropped) absorbs the walk: the walker stays put via the left
    * join + coalesce.
    *
    * Scale shape: the per-step choice is a function of the SOURCE
    * NODE alone, so each step precomputes one `min(struct(h, dst))`
    * argmin table over the edge list (map-side combined, never a
    * per-walker hash) and the walk frame does one equi-join per step
    * — 3 bounded joins total, walker count N/50. The edge list is
    * checkpointed once and reused by all steps. */
  def randomWalks(spark: SparkSession, dir: String): DataFrame = {
    import graft.util.Hashing
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("id"))
      .repartition(spark.sparkContext.defaultParallelism)
    val edges = edgesOf(nodes).transform(graft.util.Fence.lineage)
    def step(df: DataFrame, t: Int, curCol: String, outCol: String): DataFrame = {
      val pick = edges
        .select(col("src"), struct(
          Hashing.phash(concat(col("src").cast("string"), lit("_"),
            col("dst").cast("string")), s"wk${t}_").as("h"),
          col("dst").as("d")).as("s"))
        .groupBy(col("src")).agg(min(col("s")).as("m"))
        .select(col("src").as(s"__k$t"), col("m.d").as(s"__n$t"))
      df.join(pick, col(curCol) === col(s"__k$t"), "left")
        .withColumn(outCol, coalesce(col(s"__n$t"), col(curCol)))
        .drop(s"__k$t", s"__n$t")
    }
    val starts = nodes.filter(pmod(col("id"), lit(WALK_START_MOD)) === 0)
      .select(col("id").as("start_id"), col("id").as("w0"))
    (1 to WALK_STEPS).foldLeft(starts)((df, t) => step(df, t, s"w${t - 1}", s"w$t"))
      .select((col("start_id") +: (1 to WALK_STEPS).map(t => col(s"w$t"))): _*)
      .orderBy(col("start_id"))
  }

  val randomWalksSql: String = {
    def pickCte(t: Int): String =
      s"""pick$t AS (
         SELECT src, struct_extract(min(struct_pack(
             h := ${graft.util.Hashing.phashSql(
               "CAST(src AS VARCHAR) || '_' || CAST(dst AS VARCHAR)", s"wk${t}_")},
             d := dst)), 'd') AS n$t
         FROM edges GROUP BY src)"""
    // chained scalar walk: wt = coalesce(pick_t[n], w_{t-1}) — unroll
    // via one select per step so each step's column exists for the
    // next join
    s"""WITH nodes AS (SELECT doc_id AS id FROM documents),
       m AS (SELECT count(*) AS m FROM nodes),
       probes AS (
         SELECT id AS src, unnest([(id * 7 + 13) % m.m,
                                   (id * 7 + 26) % m.m,
                                   (id * 7 + 39) % m.m]) AS dst
         FROM nodes CROSS JOIN m),
       edges AS MATERIALIZED (
         SELECT p.src, p.dst FROM probes p JOIN nodes t ON t.id = p.dst),
       ${(1 to WALK_STEPS).map(pickCte).mkString(",\n       ")},
       s0 AS (SELECT id AS start_id, id AS w0 FROM nodes WHERE id % $WALK_START_MOD = 0),
       ${(1 to WALK_STEPS).map(t =>
        s"""s$t AS (
         SELECT s.*, coalesce(pick$t.n$t, s.w${t - 1}) AS w$t
         FROM s${t - 1} s LEFT JOIN pick$t ON pick$t.src = s.w${t - 1})""")
        .mkString(",\n       ")}
       SELECT start_id, ${(1 to WALK_STEPS).map(t => s"w$t").mkString(", ")}
       FROM s$WALK_STEPS ORDER BY start_id"""
  }

  private val KCORE = 6       // core threshold (graph is ~6-regular, so
                              // the peel cascades instead of trivially
                              // keeping or deleting everything)
  private val PEEL_ROUNDS = 5

  /** k-core peeling trajectory — iteratively delete nodes of degree
    * < k from the undirected simple link graph and report
    * (nodes, edges) after each round: the standard graph-density
    * screen (spam farms and boilerplate rings survive deep cores;
    * organic pages peel early). The graph is the canonicalized
    * [[triangleCount]] edge set; one peel round = one degree count +
    * one threshold filter + two semi-joins.
    *
    * Scale shape per round: degree is a node-keyed partial-sum
    * groupBy over the SYMMETRIZED id-only edge frame; survivors
    * filter edges via two left_semi equi-joins (never a collect of
    * the keep-set); each round's frame is fenced with
    * [[graft.util.Fence.lineage]] (the [[pagerankOf]] convention)
    * because the next round AND the round's stats row both consume
    * it. Rounds are a fixed constant, oracle = unrolled CTE chain. */
  def kCore(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("id"))
      .repartition(spark.sparkContext.defaultParallelism)
    val und = edgesOf(nodes)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    var sym = und
      .unionByName(und.select(col("v").as("u"), col("u").as("v")))
      .select(col("u").as("src"), col("v").as("dst"))
      .transform(graft.util.Fence.lineage)
    // the per-round degree frame serves BOTH the next peel's keep-set
    // and this round's census: n_nodes is its row count (distinct src
    // of the symmetric frame) and n_edges is sum(deg) div 2 — the
    // former per-round `countDistinct(src)` re-shuffled the whole
    // edge frame through an Expand just to recount what the next
    // round's degree aggregate already computes
    var deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val stats = (1 to PEEL_ROUNDS).map { r =>
      val keep = deg.filter(col("deg") >= KCORE).select(col("src").as("id"))
      sym = sym
        .join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .transform(graft.util.Fence.lineage)
      deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      deg.agg(
        lit(r.toLong).as("round"),
        count(lit(1)).cast("long").as("n_nodes"),
        // coalesce: a fully-peeled round must census as 0 edges, not
        // null (sum over the empty degree frame is null)
        expr("coalesce(sum(deg), 0L) div 2").cast("long").as("n_edges"))
    }
    stats.reduce(_ unionByName _).orderBy(col("round"))
  }

  val kCoreSql: String = {
    val rounds = (1 to PEEL_ROUNDS).map { i =>
      s"""k$i AS (
         SELECT src AS id FROM e${i - 1} GROUP BY src
         HAVING count(*) >= $KCORE),
       e$i AS (
         SELECT e.src, e.dst FROM e${i - 1} e
         JOIN k$i a ON e.src = a.id JOIN k$i b ON e.dst = b.id)"""
    }.mkString(",\n       ")
    val sel = (1 to PEEL_ROUNDS).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round,
         CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
         CAST(count(*) // 2 AS BIGINT) AS n_edges FROM e$i"""
    }.mkString("\n       UNION ALL ")
    s"""WITH nodes AS (SELECT doc_id AS id FROM documents),
       m AS (SELECT count(*) AS m FROM nodes),
       probes AS (
         -- unrolled as UNION ALL: an unnest-derived CTE feeding the
         -- multi-way self-join chain below trips DuckDB's internal
         -- binder (see CLAUDE.md / triangle_count's probes CTE)
         SELECT id AS src, (id * 7 + 13) % m.m AS dst FROM nodes CROSS JOIN m
         UNION ALL
         SELECT id AS src, (id * 7 + 26) % m.m AS dst FROM nodes CROSS JOIN m
         UNION ALL
         SELECT id AS src, (id * 7 + 39) % m.m AS dst FROM nodes CROSS JOIN m),
       raw AS (SELECT p.src, p.dst FROM probes p JOIN nodes t ON t.id = p.dst),
       und AS (
         SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         FROM raw WHERE src <> dst),
       e0 AS (
         SELECT u AS src, v AS dst FROM und
         UNION ALL SELECT v AS src, u AS dst FROM und),
       $rounds
       $sel
       ORDER BY round"""
  }

  private val LP_TOPK = 20

  /** Common-neighbor link prediction over the link graph — the
    * "which edges are missing" shortlist behind crawl-frontier
    * recommendation and related-document suggestion: for every
    * NON-adjacent pair sharing at least one neighbor, score by
    * common-neighbor count with Jaccard (|N(u)∩N(v)| /
    * |N(u)∪N(v)|) in exact ppm, and keep the top-20 by (cn, u, v) —
    * the Liben-Nowell/Kleinberg CIKM'03 baseline pair of predictors.
    *
    * Scale shape: candidates come from ONE wedge self-join on the
    * symmetrized edge frame (both sides the same fenced frame, keyed
    * on the shared-neighbor id, u<v emitted once) — Σdeg² work, the
    * triangle_count bound, never |V|²; existing edges leave via a
    * left_anti on the canonical edge set; degrees join on the node
    * key; TakeOrderedAndProject caps the head. The degree-descending
    * orientation refinement documented at [[triangleCount]] applies
    * here unchanged for hub-heavy graphs. */
  def linkPrediction(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("id"))
      .repartition(spark.sparkContext.defaultParallelism)
    val und = edgesOf(nodes)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .transform(graft.util.Fence.lineage)
    val sym = und
      .unionByName(und.select(col("v").as("u"), col("u").as("v")))
      .select(col("u").as("src"), col("v").as("dst"))
      .transform(graft.util.Fence.lineage)
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val wedges = sym.select(col("src").as("w"), col("dst").as("cu"))
      .join(sym.select(col("src").as("w"), col("dst").as("cv")), Seq("w"))
      .filter(col("cu") < col("cv"))
      .select(col("cu").as("u"), col("cv").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
    wedges
      .join(und, Seq("u", "v"), "left_anti")
      .join(deg.select(col("src").as("u"), col("deg").as("deg_u")), Seq("u"))
      .join(deg.select(col("src").as("v"), col("deg").as("deg_v")), Seq("v"))
      .select(col("u"), col("v"), col("cn").cast("long").as("cn"),
        col("deg_u").cast("long").as("deg_u"),
        col("deg_v").cast("long").as("deg_v"),
        expr("cn * 1000000 div (deg_u + deg_v - cn)").as("jaccard_ppm"))
      .orderBy(col("cn").desc, col("u"), col("v"))
      .limit(LP_TOPK)
  }

  val linkPredictionSql: String =
    s"""WITH nodes AS (SELECT doc_id AS id FROM documents),
       m AS (SELECT count(*) AS m FROM nodes),
       probes AS (
         -- unrolled as UNION ALL around DuckDB's unnest/self-join binder bug
         SELECT id AS src, (id * 7 + 13) % m.m AS dst FROM nodes CROSS JOIN m
         UNION ALL
         SELECT id AS src, (id * 7 + 26) % m.m AS dst FROM nodes CROSS JOIN m
         UNION ALL
         SELECT id AS src, (id * 7 + 39) % m.m AS dst FROM nodes CROSS JOIN m),
       raw AS (SELECT p.src, p.dst FROM probes p JOIN nodes t ON t.id = p.dst),
       und AS (
         SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         FROM raw WHERE src <> dst),
       sym AS (
         SELECT u AS src, v AS dst FROM und
         UNION ALL SELECT v AS src, u AS dst FROM und),
       deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY src),
       wedge AS (
         SELECT a.dst AS u, b.dst AS v, count(*) AS cn
         FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
         GROUP BY a.dst, b.dst),
       cand AS (
         SELECT w.* FROM wedge w
         WHERE NOT EXISTS (
           SELECT 1 FROM und e WHERE e.u = w.u AND e.v = w.v))
       SELECT c.u, c.v, CAST(c.cn AS BIGINT) AS cn,
         CAST(du.deg AS BIGINT) AS deg_u, CAST(dv.deg AS BIGINT) AS deg_v,
         CAST(c.cn * 1000000 // (du.deg + dv.deg - c.cn) AS BIGINT)
           AS jaccard_ppm
       FROM cand c
       JOIN deg du ON du.src = c.u JOIN deg dv ON dv.src = c.v
       ORDER BY cn DESC, u, v LIMIT $LP_TOPK"""

  /** Attribute-assortativity of the link graph by document source —
    * Newman's modularity-by-attribute (PRE 67, 026126): does each
    * feed link to itself more than a degree-preserving random rewire
    * would? Per source: its intra-edge share of all edges in exact
    * ppm, the null-model expectation (d_c / 2m)² in ppm, and their
    * difference — the per-community modularity term, whose sum is Q.
    * The crawl-health view: Q near 0 means sources interlink freely;
    * large positive means the graph is siloed by feed (a re-scraped
    * mirror shows up here before dedup sees it).
    *
    * Exactness: both ppm columns are floor-divs of NON-NEGATIVE
    * integers, and the delta is their difference — never a negative
    * integer division, whose truncate-vs-floor behavior differs
    * between engines. The null-model square is REDUCED by the
    * data-derived common scale s = max(1, m div 10⁶) before squaring
    * (the supplier_hhi/seasonal_strength convention): (d_c div s) ≤
    * 2·10⁶ so its square times 10⁶ stays under BIGINT at ANY edge
    * count — unreduced, d_c²·10⁶ overflows once m exceeds ~1.5·10⁶
    * edges. Scale shape: two node-keyed label joins put
    * sources on edge endpoints, one label groupBy each for degree
    * mass and intra-edges; everything downstream runs on the
    * |sources|-row frame with the 1-row edge total broadcast. */
  def sourceAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), col("source"))
      .repartition(spark.sparkContext.defaultParallelism)
    val und = edgesOf(docs.select(col("id")))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .transform(graft.util.Fence.lineage)
    val lab = docs.select(col("id"), col("source"))
    val labeled = und
      .join(lab.select(col("id").as("u"), col("source").as("su")), Seq("u"))
      .join(lab.select(col("id").as("v"), col("source").as("sv")), Seq("v"))
      .transform(graft.util.Fence.lineage)
    val m = labeled.agg(count(lit(1)).cast("long").as("m"))
    val degMass = labeled
      .select(explode(array(col("su"), col("sv"))).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).cast("long").as("d_c"))
    val intra = labeled.filter(col("su") === col("sv"))
      .groupBy(col("su").as("source"))
      .agg(count(lit(1)).cast("long").as("e_c"))
    degMass.join(intra, Seq("source"), "left")
      .crossJoin(broadcast(m))
      .select(col("source"), col("d_c"),
        coalesce(col("e_c"), lit(0L)).as("e_c"), col("m"),
        greatest(lit(1L), expr("m div 1000000")).as("s"))
      .select(col("source"), col("d_c"), col("e_c"),
        expr("e_c * 1000000 div m").as("intra_ppm"),
        expr("""(d_c div s) * (d_c div s) * 1000000
          div nullif((2 * (m div s)) * (2 * (m div s)), 0)""")
          .as("expected_ppm"),
        (expr("e_c * 1000000 div m")
          - expr("""(d_c div s) * (d_c div s) * 1000000
            div nullif((2 * (m div s)) * (2 * (m div s)), 0)"""))
          .as("modularity_ppm"))
      .orderBy(col("source"))
  }

  val sourceAssortativitySql: String =
    """WITH nodes AS (SELECT doc_id AS id, source FROM documents),
       m0 AS (SELECT count(*) AS m FROM nodes),
       probes AS (
         SELECT id AS src, (id * 7 + 13) % m0.m AS dst FROM nodes CROSS JOIN m0
         UNION ALL
         SELECT id AS src, (id * 7 + 26) % m0.m AS dst FROM nodes CROSS JOIN m0
         UNION ALL
         SELECT id AS src, (id * 7 + 39) % m0.m AS dst FROM nodes CROSS JOIN m0),
       raw AS (SELECT p.src, p.dst FROM probes p JOIN nodes t ON t.id = p.dst),
       und AS (
         SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         FROM raw WHERE src <> dst),
       lb AS (
         SELECT e.u, e.v, a.source AS su, b.source AS sv
         FROM und e JOIN nodes a ON a.id = e.u JOIN nodes b ON b.id = e.v),
       mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lb),
       dm AS (
         SELECT source, CAST(count(*) AS BIGINT) AS d_c FROM (
           SELECT su AS source FROM lb UNION ALL SELECT sv AS source FROM lb)
         GROUP BY source),
       ic AS (
         SELECT su AS source, CAST(count(*) AS BIGINT) AS e_c
         FROM lb WHERE su = sv GROUP BY su),
       ms AS (SELECT m, greatest(1, m // 1000000) AS s FROM mm)
       SELECT dm.source, dm.d_c,
         CAST(coalesce(ic.e_c, 0) AS BIGINT) AS e_c,
         CAST(coalesce(ic.e_c, 0) * 1000000 // ms.m AS BIGINT) AS intra_ppm,
         CAST((dm.d_c // ms.s) * (dm.d_c // ms.s) * 1000000
           // nullif((2 * (ms.m // ms.s)) * (2 * (ms.m // ms.s)), 0)
           AS BIGINT) AS expected_ppm,
         CAST(coalesce(ic.e_c, 0) * 1000000 // ms.m
           - (dm.d_c // ms.s) * (dm.d_c // ms.s) * 1000000
             // nullif((2 * (ms.m // ms.s)) * (2 * (ms.m // ms.s)), 0)
           AS BIGINT) AS modularity_ppm
       FROM dm LEFT JOIN ic ON ic.source = dm.source CROSS JOIN ms
       ORDER BY dm.source"""

  private val LPA_ROUNDS = 4

  /** Synchronous label propagation (Raghavan et al. 2007) — the
    * cheap community detector a corpus pipeline runs over the link
    * graph to group mutually-linking domains before per-community
    * quota decisions (the communities are coarser than connected
    * components and arrive in O(rounds), not O(diameter)). Made
    * deterministic: every node simultaneously adopts the label held
    * by the PLURALITY of its neighbors, ties broken by the SMALLEST
    * label — `max(struct(cnt, -label))` — so both engines compute the
    * identical fixed trajectory from the identity labeling (the
    * repo's no-RNG convention; production LPA randomizes the sweep
    * order and keeps the operator shape). [[LPA_ROUNDS]] is a fixed
    * constant; the result carries `final_moves` (labels still
    * changing in the last round) as the convergence certificate,
    * mirroring [[pagerankOf]]'s delta column.
    *
    * Scale shape per round: one edges⋈labels equi-join (shuffle on
    * node id), one (node, label) count, one per-node argmax — all
    * map-side combinable, frames never wider than three longs. The
    * undirected edge set is built once (distinct canonical pairs,
    * then symmetrized) and checkpointed; at 100 TB it is the real
    * link table bucketed by node id. */
  def labelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("id"))
      .repartition(spark.sparkContext.defaultParallelism)
    val und = edgesOf(nodes)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // NOTE (r11, measured): do NOT pre-repartition this checkpoint by
    // `a` — a lazy localCheckpoint reports UnknownPartitioning under
    // AQE, so the per-round joins keep their own Exchange either way,
    // and ReuseExchange already dedupes those identical exchanges
    // within the one unrolled plan. The repartitioned variant shuffled
    // MORE (2.64M vs 2.36M records at sf1, tools.Measure).
    val edges = und.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und.select(col("v").as("a"), col("u").as("b")))
      .transform(graft.util.Fence.lineage)
    // The loop state covers only EDGE-TOUCHED nodes: the symmetric
    // edge set puts every touched node on the `b` side, so each
    // round's plurality pick is total over that domain and the old
    // per-round `labels LEFT JOIN pick` (a full-N shuffle whose
    // coalesce never fired for touched nodes) collapses to
    // `labels = pick`. Isolated nodes keep their identity label and
    // rejoin once, at the census. Rounds 1..K-2 are single-consumer
    // and stay lazy; the last two frames (consumed twice: next round
    // + the moves certificate / census) are fenced.
    def pickOf(labels: DataFrame): DataFrame =
      edges.join(labels.withColumnRenamed("id", "a"), Seq("a"))
        .groupBy(col("b"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("b").as("id"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("p"))
        .select(col("id"), (-col("p.nl")).as("label"))
    var labels = edges.select(col("a").as("id"))
      .distinct().withColumn("label", col("id"))
    for (_ <- 1 to LPA_ROUNDS - 1) labels = pickOf(labels)
    val prev = labels.transform(graft.util.Fence.lineage)
    labels = pickOf(prev).transform(graft.util.Fence.lineage)
    val moves = labels
      .join(prev.withColumnRenamed("label", "prev_label"), Seq("id"))
      .agg(count(when(col("label") =!= col("prev_label"), 1))
        .cast("long").as("final_moves"))
    nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      .groupBy(col("label")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("community_size"))
      .agg(count(lit(1)).cast("long").as("n_communities"),
        sum(col("sz")).cast("long").as("n_nodes"))
      .crossJoin(broadcast(moves))
      .orderBy(col("community_size"))
  }

  val labelPropagationSql: String = {
    val rounds = (1 to LPA_ROUNDS).map { i =>
      s"""l$i AS (
         SELECT p.id,
           COALESCE(-((pk.p).nl), p.label) AS label
         FROM l${i - 1} p LEFT JOIN (
           SELECT b AS id, max(struct_pack(cnt := cnt, nl := -label)) AS p
           FROM (
             SELECT e.b, l.label, count(*) AS cnt
             FROM edges e JOIN l${i - 1} l ON l.id = e.a
             GROUP BY e.b, l.label)
           GROUP BY b) pk ON pk.id = p.id)"""
    }.mkString(",\n       ")
    s"""WITH nodes AS (SELECT doc_id AS id FROM documents),
       m0 AS (SELECT count(*) AS m FROM nodes),
       probes AS (
         SELECT id AS src, (id * 7 + 13) % m0.m AS dst FROM nodes CROSS JOIN m0
         UNION ALL
         SELECT id AS src, (id * 7 + 26) % m0.m AS dst FROM nodes CROSS JOIN m0
         UNION ALL
         SELECT id AS src, (id * 7 + 39) % m0.m AS dst FROM nodes CROSS JOIN m0),
       raw AS (SELECT p.src, p.dst FROM probes p JOIN nodes t ON t.id = p.dst),
       und AS (
         SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         FROM raw WHERE src <> dst),
       edges AS MATERIALIZED (
         SELECT u AS a, v AS b FROM und UNION ALL SELECT v AS a, u AS b FROM und),
       l0 AS (SELECT id, id AS label FROM nodes),
       $rounds,
       mv AS (
         SELECT CAST(count(*) FILTER (WHERE a.label <> b.label) AS BIGINT) AS final_moves
         FROM l$LPA_ROUNDS a JOIN l${LPA_ROUNDS - 1} b USING (id)),
       sizes AS (SELECT label, count(*) AS sz FROM l$LPA_ROUNDS GROUP BY label)
       SELECT sz AS community_size,
         CAST(count(*) AS BIGINT) AS n_communities,
         CAST(sum(sz) AS BIGINT) AS n_nodes,
         (SELECT final_moves FROM mv) AS final_moves
       FROM sizes GROUP BY sz ORDER BY community_size"""
  }

  private val HITS_ROUNDS = 3
  private val HITS_BASE   = 1000000L

  /** HITS hubs/authorities (Kleinberg 1999) over the directed link
    * graph — the complement to [[pagerankLinks]]: a crawl pipeline
    * ranks DIRECTORY pages (hubs, good out-links) separately from
    * CONTENT pages (authorities, good in-links) when allocating
    * fetch budget. [[HITS_ROUNDS]] fixed rounds of the mutual
    * update a(v)=Σ h(in-neighbors), h(u)=Σ a(out-neighbors), each
    * half-step renormalized to [[HITS_BASE]] micro-units by the
    * current MAX (an exact integer floor-division both engines
    * compute bit-identically — the repo's no-libm rule rules out the
    * usual L2 norm, and max-normalization is the standard integer-
    * safe variant). All values stay non-negative longs ≤ deg·BASE,
    * so [[idiv]]'s 2^53 exactness bound holds with 6 decades of
    * headroom.
    *
    * Scale shape per half-step: one edges⋈scores equi-join + one
    * groupBy partial sum (node-id keyed), one 1-row max broadcast —
    * ×2·K fixed rounds. The final top-20 is TakeOrderedAndProject. */
  def hitsScores(spark: SparkSession, dir: String): DataFrame = {
    val nodes = Tables.documents(spark, dir).select(col("doc_id").as("id"))
      .repartition(spark.sparkContext.defaultParallelism)
    val edges = edgesOf(nodes).transform(graft.util.Fence.lineage)
    // NOTE (r11, measured): a src-keyed second checkpoint for the auth
    // half-steps shuffles MORE, not less (1.69M vs 1.49M records at
    // sf1, tools.Measure): the lazy checkpoint reports
    // UnknownPartitioning under AQE, so the auth joins keep their
    // Exchange either way and ReuseExchange already shares the
    // repeated src-exchange within the one unrolled plan — the extra
    // repartition is pure added shuffle.
    // Scores stay SPARSE through the rounds: a node absent from a
    // score frame holds 0 (it received no mass), so the per-half-step
    // `nodes LEFT JOIN raw` of the old layout — one full-N shuffle
    // and a nodes re-scan ×6 just to attach zero rows that the next
    // inner join drops again — is gone (guide §2.3/§2.4). The dense
    // view is assembled once at the end.
    def normalize(raw: DataFrame, out: String): DataFrame = {
      // `raw` (the expensive edges-join + groupBy) is referenced
      // TWICE — by the max knob and by the normalize projection — so
      // it is the frame to fence.
      val rawCp = raw.transform(graft.util.Fence.lineage)
      val mx = rawCp.agg(greatest(max(col("raw")), lit(1L)).as("mx"))
      rawCp.crossJoin(broadcast(mx))
        .select(col("dst").as("id"),
          idiv(col("raw") * HITS_BASE, col("mx")).as(out))
    }
    // round 1's auth needs no score join: every hub is the BASE
    // constant, so the in-mass is just BASE·in-degree
    var auth = normalize(edges.groupBy(col("dst"))
      .agg((count(lit(1)) * HITS_BASE).as("raw")), "auth")
    var hub: DataFrame = null
    for (i <- 1 to HITS_ROUNDS) {
      if (i > 1) {
        val araw = edges.join(hub.withColumnRenamed("id", "src"), Seq("src"))
          .groupBy(col("dst")).agg(sum(col("hub")).as("raw"))
        auth = normalize(araw, "auth")
      }
      val hraw = edges.join(auth.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("dst")).agg(sum(col("auth")).as("raw"))
      hub = normalize(hraw, "hub")
    }
    nodes.join(auth, Seq("id"), "left").join(hub, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("auth"), lit(0L)).cast("long").as("auth_micro"),
        coalesce(col("hub"), lit(0L)).cast("long").as("hub_micro"))
      .orderBy(col("auth_micro").desc, col("doc_id"))
      .limit(TOPK)
  }

  val hitsScoresSql: String = {
    val rounds = (1 to HITS_ROUNDS).map { i =>
      s"""a${i}raw AS (
         SELECT e.dst AS id, sum(h.hub) AS raw
         FROM edges e JOIN h${i - 1} h ON h.id = e.src GROUP BY e.dst),
       a${i}mx AS (SELECT greatest(max(raw), 1) AS mx FROM a${i}raw),
       a$i AS (
         SELECT n.id, COALESCE(r.raw, 0) * $HITS_BASE // m.mx AS auth
         FROM nodes n LEFT JOIN a${i}raw r USING (id) CROSS JOIN a${i}mx m),
       h${i}raw AS (
         SELECT e.src AS id, sum(a.auth) AS raw
         FROM edges e JOIN a$i a ON a.id = e.dst GROUP BY e.src),
       h${i}mx AS (SELECT greatest(max(raw), 1) AS mx FROM h${i}raw),
       h$i AS (
         SELECT n.id, COALESCE(r.raw, 0) * $HITS_BASE // m.mx AS hub
         FROM nodes n LEFT JOIN h${i}raw r USING (id) CROSS JOIN h${i}mx m)"""
    }.mkString(",\n       ")
    s"""WITH nodes AS (SELECT doc_id AS id FROM documents),
       m0 AS (SELECT count(*) AS m FROM nodes),
       probes AS (
         SELECT id AS src, (id * 7 + 13) % m0.m AS dst FROM nodes CROSS JOIN m0
         UNION ALL
         SELECT id AS src, (id * 7 + 26) % m0.m AS dst FROM nodes CROSS JOIN m0
         UNION ALL
         SELECT id AS src, (id * 7 + 39) % m0.m AS dst FROM nodes CROSS JOIN m0),
       edges AS MATERIALIZED (
         SELECT p.src, p.dst FROM probes p JOIN nodes t ON t.id = p.dst),
       h0 AS (SELECT id, $HITS_BASE AS hub FROM nodes),
       $rounds
       SELECT a.id AS doc_id,
         CAST(a.auth AS BIGINT) AS auth_micro,
         CAST(h.hub AS BIGINT) AS hub_micro
       FROM a$HITS_ROUNDS a JOIN h$HITS_ROUNDS h USING (id)
       ORDER BY auth_micro DESC, doc_id LIMIT $TOPK"""
  }
}
