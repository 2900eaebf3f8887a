package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Iterative graph analytics over the purchase graph, Spark-first:
  * edges live in a DataFrame, one PageRank iteration is one
  * contribution join + one key aggregation (the classic pregel step
  * expressed relationally), and the iteration count is UNROLLED so
  * Catalyst sees a finite plan (the repo's iterative-pipeline lesson:
  * an unbounded loop needs localCheckpoint per round — see
  * DedupOps.connectedComponents — but a fixed small k is cheaper as a
  * straight-line plan). Complements the label-propagation connected
  * components in DedupOps with a weighted-score propagation.
  */
object GraphOps {

  // ------------------------------------------------------------ pagerank
  /** Two unrolled iterations of bipartite PageRank (damping 0.85) over
    * the customer–supplier purchase graph (distinct (custkey, suppkey)
    * pairs from orders ⋈ lineitem). Scores propagate customer→supplier
    * →customer→supplier; each hop is sum(score/out-degree) grouped by
    * the far key — a join + aggregation on the SAME two keys every
    * round, so the edge table is BUCKETED ONCE in both orientations
    * ([[graft.etl.Bucketing.ensurePagerankEdges]]) and every hop reads
    * the copy pre-partitioned on its hop key: the edge table NEVER
    * shuffles after the pay-once distinct-pair build (PlanSpec pins
    * zero Exchange above any edge scan with broadcast disabled — the
    * 100 TB plan shape, not just words). The degree/score sides are
    * key-aggregates, narrow and broadcast- or re-bucket-sized. All
    * scalar constants (teleport mass per node count) are
    * driver-computed doubles injected as literals — the A6 two-phase
    * shape — and every arithmetic op appears in the same order in the
    * oracle, keeping the double lattice engine-identical (differences
    * are summation-order only, orders of magnitude below the 6 dp
    * rounding).
    */
  def pagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val (eC, eS) = graft.etl.Bucketing.ensurePagerankEdges(spark, sfDir)
    // degree tables grouped on each copy's OWN bucket key — the
    // partial/final hash agg runs inside the bucketed distribution
    val degC = eC.groupBy(col("c")).agg(count(lit(1)).as("deg_c"))
    val degS = eS.groupBy(col("s")).agg(count(lit(1)).as("deg_s"))
    // one scalar job for both node counts (not a .count() per degree
    // table — that would pay two extra passes over the edges)
    val nRow = eC
      .agg(countDistinct(col("c")), countDistinct(col("s"))).collect()(0)
    val nC = nRow.getLong(0)
    val nS = nRow.getLong(1)
    // s1 = 0.15/nS + 0.85 * Σ_{c ~ s} (1/nC)/deg_c
    val s1 = eC.join(degC, "c")
      .groupBy(col("s"))
      .agg(sum(lit(1.0 / nC) / col("deg_c")).as("contrib"))
      .select(col("s"),
        (lit(0.15 / nS) + lit(0.85) * col("contrib")).as("s1"))
    // c1 = 0.15/nC + 0.85 * Σ_{s ~ c} s1/deg_s
    val c1 = eS.join(s1, "s").join(degS, "s")
      .groupBy(col("c"))
      .agg(sum(col("s1") / col("deg_s")).as("contrib"))
      .select(col("c"),
        (lit(0.15 / nC) + lit(0.85) * col("contrib")).as("c1"))
    // s2 = 0.15/nS + 0.85 * Σ_{c ~ s} c1/deg_c
    eC.join(c1, "c").join(degC, "c")
      .groupBy(col("s"))
      .agg(sum(col("c1") / col("deg_c")).as("contrib"))
      .select(col("s"),
        round(lit(0.15 / nS) + lit(0.85) * col("contrib"), 6).as("score"))
      .orderBy(col("s"))
  }

  private val pagerankOracle =
    """WITH edges AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |               FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |deg_c AS (SELECT c, COUNT(*) AS deg_c FROM edges GROUP BY c),
      |deg_s AS (SELECT s, COUNT(*) AS deg_s FROM edges GROUP BY s),
      |n AS (SELECT (SELECT COUNT(*) FROM deg_c) AS nc,
      |             (SELECT COUNT(*) FROM deg_s) AS ns),
      |s1 AS (SELECT e.s,
      |              CAST(0.15 AS DOUBLE) / (SELECT ns FROM n) +
      |              CAST(0.85 AS DOUBLE) *
      |                SUM((CAST(1.0 AS DOUBLE) / (SELECT nc FROM n))
      |                    / d.deg_c) AS s1
      |       FROM edges e JOIN deg_c d USING (c) GROUP BY e.s),
      |c1 AS (SELECT e.c,
      |              CAST(0.15 AS DOUBLE) / (SELECT nc FROM n) +
      |              CAST(0.85 AS DOUBLE) * SUM(s1.s1 / d.deg_s) AS c1
      |       FROM edges e JOIN s1 USING (s) JOIN deg_s d USING (s)
      |       GROUP BY e.c)
      |SELECT e.s,
      |       ROUND(CAST(0.15 AS DOUBLE) / (SELECT ns FROM n) +
      |             CAST(0.85 AS DOUBLE) * SUM(c1.c1 / d.deg_c), 6) AS score
      |FROM edges e JOIN c1 USING (c) JOIN deg_c d USING (c)
      |GROUP BY e.s ORDER BY e.s""".stripMargin

  // ----------------------------------------------------------------- ppr
  /** Personalized PageRank from a seed set (Page et al. '99 §6; the
    * recsys/candidate-generation localization of [[pagerank]]): the
    * teleport vector concentrates on seed customers (custkey ≡ 0
    * mod 97) instead of spreading uniformly, so scores measure
    * proximity TO THE SEEDS — mass never materializes outside the
    * seeds' 3-hop ball, which is why engines run PPR per-user at scale
    * where global PageRank would be noise. Same bipartite half-step
    * structure, same bucketed edge reads as [[pagerank]] (the edge
    * table still never shuffles — one build, two consumers), same A6
    * scalar injection for 1/|seeds|; the only deltas are the seed
    * indicator in the start vector and the seed-restricted teleport
    * term on the customer half-step. Float parity mirrors the
    * pagerank oracle: identical op order, 6 dp quantization, engine
    * differences confined to summation order far below the rounding.
    */
  def ppr(spark: SparkSession, sfDir: String): DataFrame = {
    val (eC, eS) = graft.etl.Bucketing.ensurePagerankEdges(spark, sfDir)
    val degC = eC.groupBy(col("c")).agg(count(lit(1)).as("deg_c"))
    val degS = eS.groupBy(col("s")).agg(count(lit(1)).as("deg_s"))
    val nSeeds = eC.filter(col("c") % 97 === 0)
      .agg(countDistinct(col("c"))).collect()(0).getLong(0)
    // s1 = 0.85 · Σ_{seed c ~ s} (1/|seeds|)/deg_c
    val s1 = eC.filter(col("c") % 97 === 0).join(degC, "c")
      .groupBy(col("s"))
      .agg(sum(lit(1.0 / nSeeds) / col("deg_c")).as("contrib"))
      .select(col("s"), (lit(0.85) * col("contrib")).as("s1"))
    // c1 = 0.15/|seeds|·[c seed] + 0.85 · Σ_{s ~ c} s1/deg_s
    val c1 = eS.join(s1, "s").join(degS, "s")
      .groupBy(col("c"))
      .agg(sum(col("s1") / col("deg_s")).as("contrib"))
      .select(col("c"),
        (when(col("c") % 97 === 0, lit(0.15 / nSeeds)).otherwise(lit(0.0)) +
          lit(0.85) * col("contrib")).as("c1"))
    // s2 = 0.85 · Σ_{c ~ s} c1/deg_c — localized supplier affinity
    eC.join(c1, "c").join(degC, "c")
      .groupBy(col("s"))
      .agg(sum(col("c1") / col("deg_c")).as("contrib"))
      .select(col("s"), round(lit(0.85) * col("contrib"), 6).as("score"))
      .orderBy(col("s"))
  }

  private val pprOracle =
    """WITH edges AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |               FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |deg_c AS (SELECT c, COUNT(*) AS deg_c FROM edges GROUP BY c),
      |deg_s AS (SELECT s, COUNT(*) AS deg_s FROM edges GROUP BY s),
      |n AS (SELECT COUNT(*) AS nseeds FROM deg_c WHERE c % 97 = 0),
      |s1 AS (SELECT e.s,
      |              CAST(0.85 AS DOUBLE) *
      |                SUM((CAST(1.0 AS DOUBLE) / (SELECT nseeds FROM n))
      |                    / d.deg_c) AS s1
      |       FROM edges e JOIN deg_c d USING (c)
      |       WHERE e.c % 97 = 0 GROUP BY e.s),
      |c1 AS (SELECT e.c,
      |              (CASE WHEN e.c % 97 = 0
      |                    THEN CAST(0.15 AS DOUBLE) / (SELECT nseeds FROM n)
      |                    ELSE CAST(0.0 AS DOUBLE) END) +
      |              CAST(0.85 AS DOUBLE) * SUM(s1.s1 / d.deg_s) AS c1
      |       FROM edges e JOIN s1 USING (s) JOIN deg_s d USING (s)
      |       GROUP BY e.c)
      |SELECT e.s,
      |       ROUND(CAST(0.85 AS DOUBLE) * SUM(c1.c1 / d.deg_c), 6) AS score
      |FROM edges e JOIN c1 USING (c) JOIN deg_c d USING (c)
      |GROUP BY e.s ORDER BY e.s""".stripMargin

  // ------------------------------------------------------------ triangles
  /** Triangle counting over the SimHash near-dup graph — the density
    * diagnostic of a dedup pipeline: triangles are documents whose
    * near-duplicate relation is mutually consistent (A~B~C~A), so a
    * high per-node triangle count marks boilerplate families that
    * cluster into cliques, while wedge-heavy/triangle-poor nodes are
    * chain artifacts of the banding approximation.
    *
    * Algorithm: the ordered-edge-list join — the pair table already
    * stores each undirected edge once as (d1 < d2), so wedges
    * (a<b)⋈(b<c) enumerate each candidate path once and the closing
    * edge (a,c) is a second equi-join; every triangle is counted
    * exactly once with no orientation dedup pass. Both joins are
    * equi-joins on node keys (shuffle-partitionable), and the per-node
    * rollup is a map-side-exploded hash aggregate. The pair table is
    * MATERIALIZED once per session (the dedup stage's own output at
    * scale), so triangle counting never re-pays signature hashing. At
    * 100 TB the known refinement is degree-ordering instead of
    * id-ordering (orient each edge low-degree → high-degree) to bound
    * the wedge fan-out of hub nodes; the dedup graph's degree is
    * already capped by the Hamming-≤3 ball, so id-ordering suffices
    * here and the plan shape is unchanged by that swap.
    */
  /** Per-node triangle participation over the (d1 < d2) pair table —
    * shared by [[triangleCount]] (top-k view) and
    * [[clusteringCoeff]] (ratio to wedge capacity). */
  private def trianglesPerNode(e: DataFrame): DataFrame = {
    val wedges = e.as("e1").join(e.as("e2"), col("e1.d2") === col("e2.d1"))
      .select(col("e1.d1").as("a"), col("e1.d2").as("b"), col("e2.d2").as("c"))
    val tri = wedges.join(e.as("e3"),
        col("a") === col("e3.d1") && col("c") === col("e3.d2"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Degree assortativity (Newman '02) — the network-science
    * coefficient that says whether hubs attach to hubs (r > 0,
    * social-ish) or to leaves (r < 0, web/biology-ish): the Pearson
    * correlation of endpoint degrees over the directed edge list.
    * Dedup/co-occurrence graphs with strong NEGATIVE assortativity
    * are hub-and-spoke (one template document touching everything) —
    * a structure audit before trusting CC-based cluster dedup.
    *
    * Exactness: degrees are exact integer counts; all five moments
    * over edges are exact in DECIMAL(38)/HUGEINT; r leaves the
    * lattice once, ROUND(·,6) of a [−1,1] double. One degree
    * aggregate + two bounded joins back to the edge list, one 1-row
    * moment rollup. */
  def assortativity(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = coPurchaseAdj(spark, sfDir)
    val deg = edges.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("d"))
    val dec = "decimal(38,0)"
    val m = edges
      .join(deg.select(col("v").as("src"), col("d").as("dx")), Seq("src"))
      .join(deg.select(col("v").as("dst"), col("d").as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"),
        sum(col("dx") * col("dy")).as("sxy"))
    m.select(col("m").as("n_directed_edges"),
      round((col("m").cast(dec) * col("sxy") -
        col("sx").cast(dec) * col("sy")).cast("double") /
        sqrt((col("m").cast(dec) * col("sxx") -
          col("sx").cast(dec) * col("sx")).cast("double") *
          (col("m").cast(dec) * col("syy") -
            col("sy").cast(dec) * col("sy")).cast("double")), 6)
        .as("assortativity"))
  }

  private val assortativityOracle =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |sized AS (SELECT l_orderkey FROM op GROUP BY 1
      |          HAVING COUNT(*) BETWEEN 2 AND 20),
      |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
      |                         AND a.l_partkey <> b.l_partkey
      |      JOIN sized s ON s.l_orderkey = a.l_orderkey),
      |deg AS (SELECT src AS v, COUNT(*) AS d FROM e GROUP BY 1),
      |j AS (SELECT dx.d AS dx, dy.d AS dy
      |      FROM e JOIN deg dx ON dx.v = e.src
      |             JOIN deg dy ON dy.v = e.dst),
      |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m,
      |        CAST(SUM(dx) AS HUGEINT) AS sx,
      |        CAST(SUM(dy) AS HUGEINT) AS sy,
      |        CAST(SUM(dx * dx) AS HUGEINT) AS sxx,
      |        CAST(SUM(dy * dy) AS HUGEINT) AS syy,
      |        CAST(SUM(dx * dy) AS HUGEINT) AS sxy
      |      FROM j)
      |SELECT CAST(m AS BIGINT) AS n_directed_edges,
      |       ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
      |             / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
      |                    * CAST(m * syy - sy * sy AS DOUBLE)), 6)
      |         AS assortativity
      |FROM m""".stripMargin

  // ------------------------------------------ harmonic centrality
  /** Sampled harmonic centrality (Boldi–Vigna '14's argument for WHY
    * harmonic: closeness breaks on disconnected graphs, 1/∞ = 0
    * doesn't) — H(v) = Σ_s 1/d(s,v) over the [[bfsHops]] seed set,
    * the "which nodes are reachable from everywhere, fast" ranking a
    * lineage or link-graph system runs with sampled sources exactly
    * like [[stressCentrality]] samples pivots. The forward pass is
    * the [[bfsHops]] BFS keyed (seed, node) — the [[relaxRounds]]
    * kernel carrying the seed, early exit included — and every
    * reciprocal is the exact half-up e9 integer division
    * (2e9+d) div 2d, so the per-node sums and the ranking are pure
    * integers. Top-20 ship with degree for context.
    *
    * Scale shape: state is (seeds × reach)-bounded narrow rows; every
    * hop shuffles on the same key (bucket once); seed count is the
    * sampling knob — exact per seed, coverage linear in seeds. */
  def harmonicCentrality(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = coPurchasePairs(spark, sfDir)
    val deg = pairs.select(col("p1").as("part"), col("p2").as("nb"))
      .unionByName(pairs.select(col("p2").as("part"), col("p1").as("nb")))
      .groupBy(col("part")).agg(count_distinct(col("nb")).as("degree"))
    relaxPairs(spark, sfDir, pairs, min(lit(1L)), 5L, 0L, 4, MinPlus, bySource = true)
      .filter(col("cost") >= 1)
      .withColumn("rr_e9", expr("(2000000000 + cost) div (2 * cost)"))
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_sources"), sum(col("rr_e9")).as("harmonic_e9"))
      .join(deg, Seq("part"), "left_outer")
      .na.fill(0L, Seq("degree"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("harmonic_e9").desc, col("part"))))
      .filter(col("rk") <= 20)
      .select(col("rk"), col("part"), col("n_sources"),
        col("harmonic_e9"), col("degree"))
      .orderBy(col("rk"))
  }

  private val harmonicCentralityOracle =
    """WITH RECURSIVE
      |op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |sized AS (
      |  SELECT l_orderkey FROM op GROUP BY 1
      |  HAVING COUNT(*) BETWEEN 2 AND 20),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM op a
      |  JOIN op b ON a.l_orderkey = b.l_orderkey
      |           AND a.l_partkey <> b.l_partkey
      |  JOIN sized s ON s.l_orderkey = a.l_orderkey),
      |deg AS (SELECT src AS part, CAST(COUNT(DISTINCT dst) AS BIGINT)
      |          AS degree FROM e GROUP BY 1),
      |bfs AS (
      |  SELECT p_partkey AS s, p_partkey AS part, 0 AS d
      |  FROM part WHERE p_partkey <= 5
      |  UNION
      |  SELECT bfs.s, e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.part
      |  WHERE bfs.d < 4),
      |md AS (SELECT s, part, MIN(d) AS d FROM bfs GROUP BY 1, 2),
      |hc AS (
      |  SELECT part, CAST(COUNT(*) AS BIGINT) AS n_sources,
      |         CAST(SUM((2000000000 + d) // (2 * d)) AS BIGINT)
      |           AS harmonic_e9
      |  FROM md WHERE d >= 1 GROUP BY 1)
      |SELECT CAST(rk AS INTEGER) AS rk, part, n_sources, harmonic_e9,
      |       COALESCE(degree, 0) AS degree
      |FROM (SELECT hc.*, deg.degree,
      |        ROW_NUMBER() OVER (ORDER BY harmonic_e9 DESC, part) AS rk
      |      FROM hc LEFT JOIN deg USING (part))
      |WHERE rk <= 20 ORDER BY rk""".stripMargin

  // ---------------------------------------------------- rich club
  /** Rich-club coefficient curve (Zhou & Mondragón '04) over the
    * co-purchase graph — "do the hubs trade with each other": for each
    * degree threshold k, φ(k) = 2·E_k / (N_k·(N_k−1)) where N_k counts
    * nodes of degree > k and E_k the undirected edges with BOTH
    * endpoints above k. The naive evaluation re-scans the edge list
    * once per threshold; here both counts come from ONE pass each —
    * a node-degree histogram and an edge min-endpoint-degree histogram,
    * full-outer-joined on the degree value, with N_k/E_k read off as
    * strictly-above cumulative window sums in value-descending order
    * (the threshold grid IS the distinct degree values, so every
    * histogram row yields one curve point). All counts are exact
    * integers; the products run in decimal(38)/HUGEINT (N_k² overflows
    * a long past ~3e9 nodes) and only the final ratio drops to double
    * for the 6 dp round, token-identically in both engines.
    *
    * Scale shape: two key-aggregates (degree, min-degree) + one
    * histogram-sized (≤ max-degree rows) outer join and window — the
    * data-sized work is the same single edge-degree enrichment
    * assortativity pays, and the curve itself is bounded by the
    * degree support, not the graph. */
  def richClub(spark: SparkSession, sfDir: String): DataFrame = {
    val half = coPurchasePairs(spark, sfDir)
      .select(col("p1").as("src"), col("p2").as("dst")).distinct()
    val edges = coPurchaseAdj(spark, sfDir)
    val deg = edges.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("d"))
    // node-degree histogram: degree value -> node count
    val nodeHist = deg.groupBy(col("d").as("k")).agg(count(lit(1)).as("nc"))
    // edge histogram keyed by min endpoint degree (undirected half only)
    val edgeHist = half
      .join(deg.select(col("v").as("src"), col("d").as("dx")), Seq("src"))
      .join(deg.select(col("v").as("dst"), col("d").as("dy")), Seq("dst"))
      .groupBy(least(col("dx"), col("dy")).as("k"))
      .agg(count(lit(1)).as("ec"))
    val byKDesc = Window.orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val dec = "decimal(38,0)"
    nodeHist.join(edgeHist, Seq("k"), "full_outer")
      .na.fill(0L, Seq("nc", "ec"))
      .withColumn("n_k", coalesce(sum(col("nc")).over(byKDesc), lit(0L)))
      .withColumn("e_k", coalesce(sum(col("ec")).over(byKDesc), lit(0L)))
      .filter(col("n_k") >= 2)
      .select(col("k"),
        col("n_k").as("n_rich_nodes"), col("e_k").as("n_rich_edges"),
        round((lit(2).cast(dec) * col("e_k").cast(dec)).cast("double") /
          (col("n_k").cast(dec) *
            (col("n_k").cast(dec) - lit(1).cast(dec))).cast("double"), 6)
          .as("phi"))
      .orderBy(col("k"))
  }

  private val richClubOracle =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |sized AS (SELECT l_orderkey FROM op GROUP BY 1
      |          HAVING COUNT(*) BETWEEN 2 AND 20),
      |half AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |         FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
      |                            AND a.l_partkey < b.l_partkey
      |         JOIN sized s ON s.l_orderkey = a.l_orderkey),
      |e AS (SELECT src, dst FROM half
      |      UNION ALL SELECT dst, src FROM half),
      |deg AS (SELECT src AS v, COUNT(*) AS d FROM e GROUP BY 1),
      |nh AS (SELECT d AS k, CAST(COUNT(*) AS BIGINT) AS nc
      |       FROM deg GROUP BY 1),
      |eh AS (SELECT LEAST(dx.d, dy.d) AS k, CAST(COUNT(*) AS BIGINT) AS ec
      |       FROM half JOIN deg dx ON dx.v = half.src
      |                 JOIN deg dy ON dy.v = half.dst
      |       GROUP BY 1),
      |u AS (SELECT COALESCE(nh.k, eh.k) AS k,
      |             COALESCE(nc, 0) AS nc, COALESCE(ec, 0) AS ec
      |      FROM nh FULL OUTER JOIN eh ON nh.k = eh.k),
      |c AS (SELECT k,
      |        CAST(COALESCE(SUM(nc) OVER (ORDER BY k DESC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS n_k,
      |        CAST(COALESCE(SUM(ec) OVER (ORDER BY k DESC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          AS BIGINT) AS e_k
      |      FROM u)
      |SELECT k, n_k AS n_rich_nodes, e_k AS n_rich_edges,
      |       ROUND(CAST(2 * CAST(e_k AS HUGEINT) AS DOUBLE)
      |             / CAST(CAST(n_k AS HUGEINT)
      |                    * (CAST(n_k AS HUGEINT) - 1) AS DOUBLE), 6)
      |         AS phi
      |FROM c WHERE n_k >= 2 ORDER BY k""".stripMargin

  // ---------------------------------------------------- square count
  /** Scale-adaptive shuffle partitioning (r15, guide §2.5/§5): the
    * wedge stage's partial-aggregation hash map holds ~wedge/nPart
    * mostly-distinct (u,v) keys per task; at a fixed 32 partitions the
    * 10x fixture put ~47M keys (~2 GB) in each task's map, so whether
    * the map stayed hashed or fell back to sort-based aggregation
    * depended on the memory race of the moment — the SAME stage
    * measured 579 vs 1986 CPU-seconds across runs on identical volume
    * (event-log evidence, OPTIMIZATION_r15.md). Derive the partition
    * count from the exact wedge mass so the map always fits; AQE
    * coalesces the reduce side. `body` runs in a
    * [[graft.Session.scoped]] session under the derived count, so the
    * caller's session never changes.
    *
    * r16 (verdict item 3): the r15 target of 2M rows/task left the
    * CAPPED census at the 32-partition session default at the
    * driver's sf0.1 (wedge mass 30.5M → 15 < 32), so the bimodality
    * the derivation exists to remove stayed live exactly where the
    * driver measures (q_square_count_capped 51→82 s). Target is now
    * [[WedgeRowsPerTask]] = 500k rows/task (~25 MB of (u,v)→cn
    * partial-agg map — comfortably hashed even when 32 tasks share a
    * moderate heap): sf0.1 capped derives 61 partitions, dense 295. */
  private val WedgeRowsPerTask = 500000L
  private def withWedgePartitions(spark: SparkSession, wedgeEst: Long)(
      body: SparkSession => DataFrame): DataFrame = {
    val nPart = math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt,
      math.min(4096L, wedgeEst / WedgeRowsPerTask).toInt)
    graft.Session.scoped(spark, "spark.sql.shuffle.partitions" -> nPart.toString)(body)
  }

  /** A scoped session's few-row result, collected, as a local relation
    * of the caller's `spark`: listeners registered there see its plan,
    * and the scoped session's blocks can be freed right after. */
  private def localTo(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Exact 4-cycle (C4 / "butterfly of the unipartite world") census
    * over the co-purchase graph. Triangles measure direct clustering;
    * squares are the shortest EVEN cycle — the redundancy motif that
    * survives when direct co-purchase is filtered out (two parts never
    * ordered together but sharing two distinct co-purchase partners).
    * Identity: every C4 has exactly two diagonal (opposite-corner)
    * pairs, so #C4 = ½·Σ_{u<v} C(λ_uv, 2) where λ_uv = common
    * neighbors of the (not necessarily adjacent) pair {u,v}. λ comes
    * from one wedge join — adjacency self-joined on the center with
    * an u<v emit guard so each wedge counts once — followed by a pair
    * aggregation; the census is a single reduction over C(λ,2) in
    * decimal(38) (Σλ² overflows a long on hub-heavy graphs long
    * before the pair frame itself is a problem). Top-10 diagonal
    * pairs by λ ship alongside the global counts (sentinel k=-1 rows
    * carry the census so one schema holds both).
    *
    * Scale shape: the wedge join is the adjudicated triangle/ktruss
    * quadratic — Σ_w d_w² wedge rows; the u<v guard halves it, and
    * everything after is key aggregation. The shipped 100 TB path is
    * [[squareCountCapped]] (`q_square_count_capped`): degree-capped +
    * deterministically center-sampled census with the standard 1/p²
    * estimator, this exact census as its recall baseline — the
    * [[graft.ops.SimilarityOps.bitextMineIvf]] twin shape. */
  def squareCount(spark: SparkSession, sfDir: String): DataFrame = {
    val adj = coPurchaseAdj(spark, sfDir)
    val wedgeEst = adj.groupBy(col("src")).agg(count(lit(1)).as("d"))
      // coalesce: sum() is NULL on an empty graph — degrade to the
      // session default instead of an NPE (r15 ADVICE)
      .agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).cast("long"))
      .head().getLong(0)
    // r16: materialize λ ONCE inside the adaptive-conf scope and feed
    // both census branches from it — the wedge join, its ~wedge-mass
    // exchange and the (u,v) aggregation run a single time instead of
    // once per branch. r15's "two pipelined passes beat caching"
    // measurement (28.9 s vs 50.6 s) was taken at 32 fixed partitions
    // under the 56g heap, where the cache held ~100M deserialized row
    // objects in a GC-bound session; under the r16 24g/
    // derived-partition config the single-pass form measures 33.5 s vs
    // 53.2 s two-pass in the same solo A/B (REPEAT=3, min of
    // post-warmup). persist (compressed columnar) rather than
    // localCheckpoint so the multi-GB λ blocks can be — and are —
    // freed the moment the 11-row result materializes: lingering
    // checkpoint blocks (freed only on a later driver GC) measurably
    // squeezed the NEXT queries in the bench session. The CAPPED
    // census keeps two pipelined passes: its sampled λ' is small
    // enough that materialization costs more than the second pass
    // (14.8 s vs 9.9 s, same A/B).
    withWedgePartitions(spark, wedgeEst) { s =>
      val lamC = squareLam(coPurchaseAdj(s, sfDir))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // blocking unpersist: the multi-GB λ cache must be GONE before the
      // next query starts (async drop measurably tails into the capped
      // census, which runs next in bench order)
      try localTo(spark, censusAssemble(lamC, 1, "n_squares"))
      finally lamC.unpersist(true)
    }
  }

  /** One wedge pass: the distinct-diagonal-pair common-neighbor frame
    * λ — the heavy subplan (wedge join + (u,v) aggregation) every
    * census branch consumes. */
  private def squareLam(adj: DataFrame): DataFrame =
    adj.as("a")
      .join(adj.select(col("src").as("w"), col("dst").as("v")).as("b"),
        col("a.src") === col("b.w") && col("a.dst") < col("b.v"))
      .groupBy(col("a.dst").as("u"), col("b.v").as("v"))
      .agg(count(lit(1)).as("cn"))

  /** Census + top-10 assembly over a λ frame (materialized or not),
    * for a census whose wedge centers were sampled 1-in-`sample`: the
    * sentinel rk=-1 row carries n_pairs, ΣC(λ,2) and max λ, and its
    * `estName` column the square count S²·Σλ(λ−1) div 4 (exact at
    * S = 1: every C4 has two diagonal pairs). */
  private def censusAssemble(lam: DataFrame, sample: Int,
      estName: String): DataFrame = {
    val dec = "decimal(38,0)"
    val census = lam.agg(
      count(lit(1)).as("n_pairs"),
      max(col("cn")).as("max_cn"),
      sum((col("cn").cast(dec) * (col("cn").cast(dec) - lit(1).cast(dec)))
        .cast(dec)).as("sum_cn2"))
    // top-k via orderBy+limit (TakeOrderedAndProject: per-partition
    // heap + driver merge), NOT an unpartitioned row_number window —
    // that window funnels the ENTIRE pair frame through one task's
    // sort; rank is assigned after, on the 10 surviving rows
    val top = lam.orderBy(col("cn").desc, col("u"), col("v")).limit(10)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cn").desc, col("u"), col("v"))))
      .select(col("rk"), col("u"), col("v"), col("cn"),
        lit(null).cast("long").as(estName))
    // λ(λ−1) is even per pair, Σ/2 = ΣC(λ,2) exact; div = int division
    top.unionByName(census.select(lit(-1).as("rk"),
        col("n_pairs").as("u"),
        expr("CAST(sum_cn2 AS DECIMAL(38,0)) div 2").cast("long").as("v"),
        col("max_cn").as("cn"),
        expr(s"CAST(${sample * sample} * sum_cn2 AS DECIMAL(38,0)) div 4")
          .cast("long").as(estName)))
      .orderBy(col("rk"))
  }

  private val squareCountOracle =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |sized AS (SELECT l_orderkey FROM op GROUP BY 1
      |          HAVING COUNT(*) BETWEEN 2 AND 20),
      |half AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |         FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
      |                            AND a.l_partkey < b.l_partkey
      |         JOIN sized s ON s.l_orderkey = a.l_orderkey),
      |adj AS (SELECT src, dst FROM half
      |        UNION ALL SELECT dst, src FROM half),
      |lam AS (SELECT a.dst AS u, b.dst AS v, CAST(COUNT(*) AS BIGINT) AS cn
      |        FROM adj a JOIN adj b
      |          ON a.src = b.src AND a.dst < b.dst
      |        GROUP BY 1, 2),
      |census AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |             CAST(MAX(cn) AS BIGINT) AS max_cn,
      |             CAST(SUM(CAST(cn AS HUGEINT) * (cn - 1)) // 2 AS BIGINT)
      |               AS n_sq2
      |           FROM lam),
      |top AS (SELECT rk, u, v, cn FROM
      |          (SELECT u, v, cn, ROW_NUMBER() OVER
      |             (ORDER BY cn DESC, u, v) AS rk FROM lam)
      |        WHERE rk <= 10)
      |SELECT CAST(rk AS INTEGER) AS rk, u, v, cn,
      |       CAST(NULL AS BIGINT) AS n_squares
      |FROM top
      |UNION ALL
      |SELECT -1, n_pairs, n_sq2, max_cn, n_sq2 // 2 FROM census
      |ORDER BY rk""".stripMargin

  // ------------------------------------------- square count (capped)
  /** Degree cap on wedge CENTERS — the hub guard. Even one celebrity
    * node contributes d² wedge rows to the exact census; capping
    * bounds every center's fan-out so Σ_{d_w≤D} d_w² ≤ D·2|E| — the
    * quadratic becomes linear in edges regardless of skew. */
  private[ops] val SquareDegCap = 150
  /** Keep-1-in-S deterministic center sample — the throughput knob.
    * On THIS graph degrees are tight (p50≈119, max≈222 at sf0.1) so
    * the cap alone barely prunes; sampling centers at rate 1/S cuts
    * wedge rows by S and C(λ,2) pair mass by ≈S². */
  private[ops] val SquareSample = 4

  /** Sampled + degree-capped wedge centers, degree retained. */
  private def cappedCentersD(spark: SparkSession, sfDir: String): DataFrame =
    coPurchaseAdj(spark, sfDir).groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("d"))
      .filter(col("d") <= SquareDegCap)
      .filter(
        Parity.md5Key(col("v").cast("string")) % SquareSample === 0)

  /** The shipped 100 TB twin of [[squareCount]] (r12 verdict item 3 —
    * the bitext_mine_ivf shape): the SAME diagonal-pair census run
    * over wedges whose center (a) has degree ≤ [[SquareDegCap]] and
    * (b) survives a deterministic md5 1-in-[[SquareSample]] sample.
    * Sampling centers at rate p=1/S thins each pair's common-neighbor
    * count λ → λ', with E[C(λ',2)] ≈ p²·C(λ,2), so the standard
    * butterfly-sampling estimator scales the sampled census back by
    * S²: n_squares_est = S²·Σλ'(λ'−1) / 4 (exact integer — Σλ'(λ'−1)
    * is even). The sample is a keyed hash (md5 of the center id, the
    * [[graft.Parity]] md5 bridge), not rand(): reruns and the oracle
    * see the identical center set. Output mirrors [[squareCount]]:
    * top-10 sampled diagonal pairs + a sentinel rk=-1 census row; the
    * exact census stays registered as the recall baseline. */
  def squareCountCapped(spark: SparkSession, sfDir: String): DataFrame = {
    // the [[squareCount]] adaptive-partition discipline, sized from the
    // EXACT sampled+capped wedge mass (the centers frame already holds
    // d): each task's partial-agg map stays ~2M (u,v) keys, so the
    // skewed fixture's endpoint-pair aggregation can't tip a 32-way
    // task map into the sort-fallback regime (the r14 "endpoint heat"
    // was exactly this — volume was measured EQUAL uniform vs skew)
    val wedgeEst = cappedCentersD(spark, sfDir)
      // coalesce: the degree cap + 1-in-4 center sample can eliminate
      // every center on a small fixture — sum() returns NULL there
      .agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).cast("long"))
      .head().getLong(0)
    // two pipelined passes over the SAMPLED wedge join beat
    // materializing λ' here — the dense census's single-pass
    // checkpoint trade inverts at the sampled size (solo A/B:
    // two-pass 9.9 s vs checkpointed 14.8 s; the sampled pass is
    // cheap, the 25M-row checkpoint write is not)
    withWedgePartitions(spark, wedgeEst) { s =>
      // adjacency restricted to sampled low-degree centers; equi-join on
      // the center key — no cartesian, no data-sized broadcast required
      val centers = cappedCentersD(s, sfDir).select(col("v").as("src"))
      val lam = squareLam(coPurchaseAdj(s, sfDir).join(centers, Seq("src")))
      localTo(spark, censusAssemble(lam, SquareSample, "n_squares_est"))
    }
  }

  private val squareCountCappedOracle =
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |sized AS (SELECT l_orderkey FROM op GROUP BY 1
      |          HAVING COUNT(*) BETWEEN 2 AND 20),
      |half AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |         FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
      |                            AND a.l_partkey < b.l_partkey
      |         JOIN sized s ON s.l_orderkey = a.l_orderkey),
      |adj AS (SELECT src, dst FROM half
      |        UNION ALL SELECT dst, src FROM half),
      |ctr AS (SELECT src AS v FROM adj GROUP BY 1
      |        HAVING COUNT(*) <= $SquareDegCap
      |           AND ${Parity.md5KeySql("CAST(src AS VARCHAR)")}
      |               % $SquareSample = 0),
      |cadj AS (SELECT adj.src, adj.dst FROM adj JOIN ctr ON adj.src = ctr.v),
      |lam AS (SELECT a.dst AS u, b.dst AS v, CAST(COUNT(*) AS BIGINT) AS cn
      |        FROM cadj a JOIN cadj b
      |          ON a.src = b.src AND a.dst < b.dst
      |        GROUP BY 1, 2),
      |census AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |             CAST(MAX(cn) AS BIGINT) AS max_cn,
      |             CAST(SUM(CAST(cn AS HUGEINT) * (cn - 1)) // 2 AS BIGINT)
      |               AS n_sq2,
      |             CAST(${SquareSample * SquareSample}
      |                  * SUM(CAST(cn AS HUGEINT) * (cn - 1)) // 4 AS BIGINT)
      |               AS n_sq_est
      |           FROM lam),
      |top AS (SELECT rk, u, v, cn FROM
      |          (SELECT u, v, cn, ROW_NUMBER() OVER
      |             (ORDER BY cn DESC, u, v) AS rk FROM lam)
      |        WHERE rk <= 10)
      |SELECT CAST(rk AS INTEGER) AS rk, u, v, cn,
      |       CAST(NULL AS BIGINT) AS n_squares_est
      |FROM top
      |UNION ALL
      |SELECT -1, n_pairs, n_sq2, max_cn, n_sq_est FROM census
      |ORDER BY rk""".stripMargin

  def triangleCount(spark: SparkSession, sfDir: String): DataFrame =
    trianglesPerNode(DedupOps.simhashPairsMaterialized(spark, sfDir))
      .orderBy(col("n_triangles").desc, col("doc_id"))
      .limit(20)

  // ---------------------------------------------------- clustering coeff
  /** Local clustering coefficient over the same near-dup graph:
    * triangles(n) / C(deg(n), 2) — the fraction of a node's neighbor
    * pairs that are themselves near-dups. Near 1 marks a true
    * boilerplate CLIQUE (safe to collapse to one keeper); low values
    * mark banding chains whose members are not mutually similar — the
    * per-node version of the wedge-vs-triangle diagnostic. Degrees are
    * one hash aggregate over both edge orientations; the coefficient
    * is a long/long double division + 6 dp round, engine-identical.
    */
  def clusteringCoeff(spark: SparkSession, sfDir: String): DataFrame = {
    val e = DedupOps.simhashPairsMaterialized(spark, sfDir)
    val deg = e.select(col("d1").as("doc_id"))
      .union(e.select(col("d2").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(trianglesPerNode(e), Seq("doc_id"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("coeff",
        round(col("n_triangles").cast("double") * 2.0 /
          (col("deg") * (col("deg") - 1)), 6))
      .select(col("doc_id"), col("deg"), col("n_triangles"), col("coeff"))
      .orderBy(col("doc_id"))
  }

  private lazy val clusteringCoeffOracle =
    s"""WITH e AS (SELECT d1, d2 FROM (${DedupOps.dedupSimhashOracle})),
       |w AS (SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
       |      FROM e e1 JOIN e e2 ON e1.d2 = e2.d1),
       |t AS (SELECT a, b, c FROM w JOIN e e3 ON w.a = e3.d1 AND w.c = e3.d2),
       |tri AS (SELECT doc_id, COUNT(*) AS n_triangles
       |        FROM (SELECT unnest([a, b, c]) AS doc_id FROM t) GROUP BY doc_id),
       |deg AS (SELECT doc_id, COUNT(*) AS deg
       |        FROM (SELECT d1 AS doc_id FROM e UNION ALL SELECT d2 FROM e)
       |        GROUP BY doc_id)
       |SELECT deg.doc_id, deg.deg,
       |       COALESCE(tri.n_triangles, 0) AS n_triangles,
       |       ROUND(CAST(COALESCE(tri.n_triangles, 0) AS DOUBLE) * 2.0 /
       |             (deg.deg * (deg.deg - 1)), 6) AS coeff
       |FROM deg LEFT JOIN tri USING (doc_id)
       |WHERE deg.deg >= 2 ORDER BY deg.doc_id""".stripMargin

  private lazy val triangleCountOracle =
    s"""WITH e AS (SELECT d1, d2 FROM (${DedupOps.dedupSimhashOracle})),
       |w AS (SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
       |      FROM e e1 JOIN e e2 ON e1.d2 = e2.d1),
       |t AS (SELECT a, b, c FROM w JOIN e e3 ON w.a = e3.d1 AND w.c = e3.d2),
       |x AS (SELECT unnest([a, b, c]) AS doc_id FROM t)
       |SELECT doc_id, COUNT(*) AS n_triangles FROM x
       |GROUP BY doc_id ORDER BY n_triangles DESC, doc_id LIMIT 20""".stripMargin

  // ------------------------------------------------------------ k-truss
  /** 4-truss peeling over the near-dup graph (Cohen '08) — the
    * community core STRONGER than [[kcore]]: an edge survives only
    * while it sits in ≥ k−2 triangles among surviving edges, so a
    * truss keeps genuine boilerplate CLIQUES and sheds the banding
    * CHAINS that k-core keeps (a chain node has degree but its edges
    * have no triangle support). Three peel rounds unrolled — each
    * recomputes triangle support on the survivors — with the
    * per-round edge/node census as the output, so convergence is
    * visible under the hash.
    *
    * Scale shape: the [[triangleCount]]-style wedge+close join runs
    * ONCE, on the round-0 edge frame, and the triangle list is
    * checkpointed; because the edge set only SHRINKS under peeling, a
    * round-r triangle is exactly a round-0 triangle whose three edges
    * all survive — so each round recomputes support with three narrow
    * semi-joins of the standing triangle list against the current
    * edge frame instead of re-running the quadratic wedge join
    * (support-over-survivors semantics unchanged; the oracle KEEPS
    * the per-round wedge recompute as the independent evaluation
    * strategy). Per-round localCheckpoint (the iterative-frame
    * discipline). */
  def ktruss(spark: SparkSession, sfDir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    // non-null keys from round 0 on (later rounds inherit them from the
    // join) and the survivors pinned as every join's broadcast side (at
    // sf0.01 AQE converts every round to it anyway): all rounds compile
    // the same classes instead of flipping joins on size estimates
    var e = DedupOps.simhashPairsMaterialized(spark, sfDir)
      .select(col("d1"), col("d2"))
      .filter(col("d1").isNotNull && col("d2").isNotNull).distinct()
      .localCheckpoint(eager = true)
    val census = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    // one action per round: the exploded endpoint frame yields BOTH
    // census numbers (rows = 2·edges; distinct endpoints = nodes)
    def stat(round: Int): Unit = {
      val row = e.select(explode(array(col("d1"), col("d2"))).as("v"))
        .agg(count(lit(1)).as("n2"), countDistinct(col("v")).as("nv"))
        .head()
      census += ((round, row.getLong(0) / 2, row.getLong(1)))
    }
    stat(0)
    val wedges = e.as("e1").join(e.as("e2"),
        col("e1.d2") === col("e2.d1"))
      .select(col("e1.d1").as("a"), col("e1.d2").as("b"),
        col("e2.d2").as("c"))
    val tri0 = wedges.join(e.as("e3"),
        col("a") === col("e3.d1") && col("c") === col("e3.d2"))
      .select(col("a"), col("b"), col("c"))
      .localCheckpoint(eager = true) // pay the wedge join exactly once
    (1 to 3).foreach { r =>
      val alive = broadcast(e)
      val triAlive = tri0
        .join(alive, col("a") === col("d1") && col("b") === col("d2"),
          "left_semi")
        .join(alive, col("b") === col("d1") && col("c") === col("d2"),
          "left_semi")
        .join(alive, col("a") === col("d1") && col("c") === col("d2"),
          "left_semi")
      val sup = triAlive.select(explode(array(
          struct(col("a").as("d1"), col("b").as("d2")),
          struct(col("b").as("d1"), col("c").as("d2")),
          struct(col("a").as("d1"), col("c").as("d2")))).as("ed"))
        .select(col("ed.d1").as("d1"), col("ed.d2").as("d2"))
        .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("s"))
      val next = alive.join(sup, Seq("d1", "d2"))
        .filter(col("s") >= 2L) // k = 4 ⇒ support ≥ k − 2
        .select(col("d1"), col("d2"))
        .localCheckpoint(eager = true)
      freeCheckpoint(e) // superseded
      e = next
      stat(r)
    }
    freeCheckpoint(e) // the census is driver-side, in round order
    freeCheckpoint(tri0)
    census.toSeq.toDF("round", "n_edges", "n_nodes")
  }

  private val ktrussOracle = {
    // every round CTE is referenced several times downstream — AS
    // MATERIALIZED stops DuckDB re-evaluating the whole chain per
    // reference (exponential across 3 rounds; the unigram_lm lesson)
    def roundSql(prev: String, k: Int): String =
      s"""t$k AS MATERIALIZED (
         |  SELECT w.a, w.b, w.c FROM (
         |    SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
         |    FROM $prev e1 JOIN $prev e2 ON e1.d2 = e2.d1) w
         |  JOIN $prev e3 ON w.a = e3.d1 AND w.c = e3.d2),
         |s$k AS MATERIALIZED (SELECT d1, d2, COUNT(*) AS s FROM (
         |          SELECT a AS d1, b AS d2 FROM t$k
         |          UNION ALL SELECT b, c FROM t$k
         |          UNION ALL SELECT a, c FROM t$k) GROUP BY 1, 2),
         |e$k AS MATERIALIZED (SELECT e.d1, e.d2 FROM $prev e
         |        JOIN s$k USING (d1, d2) WHERE s$k.s >= 2)"""
        .stripMargin
    s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT d1, d2
       |            FROM (${DedupOps.dedupSimhashOracle})),
       |${roundSql("e0", 1)},
       |${roundSql("e1", 2)},
       |${roundSql("e2", 3)},
       |c AS (
       |  SELECT 0 AS round, (SELECT COUNT(*) FROM e0) AS n_edges,
       |    (SELECT COUNT(DISTINCT v) FROM (SELECT d1 AS v FROM e0
       |       UNION ALL SELECT d2 FROM e0)) AS n_nodes
       |  UNION ALL SELECT 1, (SELECT COUNT(*) FROM e1),
       |    (SELECT COUNT(DISTINCT v) FROM (SELECT d1 AS v FROM e1
       |       UNION ALL SELECT d2 FROM e1))
       |  UNION ALL SELECT 2, (SELECT COUNT(*) FROM e2),
       |    (SELECT COUNT(DISTINCT v) FROM (SELECT d1 AS v FROM e2
       |       UNION ALL SELECT d2 FROM e2))
       |  UNION ALL SELECT 3, (SELECT COUNT(*) FROM e3),
       |    (SELECT COUNT(DISTINCT v) FROM (SELECT d1 AS v FROM e3
       |       UNION ALL SELECT d2 FROM e3)))
       |SELECT CAST(round AS INTEGER) AS round,
       |       CAST(n_edges AS BIGINT) AS n_edges,
       |       CAST(n_nodes AS BIGINT) AS n_nodes
       |FROM c ORDER BY round""".stripMargin
  }

  // ---------------------------------------------------------------- BFS
  /** Multi-source BFS over the co-purchase part graph: distance from
    * the seed set {p_partkey ≤ 5} through "appeared in the same order"
    * edges (orders capped at 20 distinct parts, the [[StatsOps
    * .adamicAdar]] graph), up to 4 hops; output is the reachability
    * histogram (distance → part count, unreached excluded) — the
    * blast-radius question every lineage/recall system answers.
    *
    * Spark side is the unit-weight (min, +) case of [[relaxRounds]]:
    * each round joins the parts first reached last round to the edge
    * list and min-merges, one checkpointing action per round, and the
    * loop ends early on the first round that reaches no new part; the
    * distance is cast back to INT. The oracle is a DuckDB RECURSIVE
    * CTE with UNION dedup — a different evaluation strategy entirely
    * (semi-naive fixpoint vs unrolled joins), which is the point.
    */
  /** Co-purchase pair frame — (p1 < p2, order size sz, n occurrences)
    * over orders with 2..20 distinct parts — materialized once per
    * session+SF (the ngram-pair-frame lifecycle): [[StatsOps
    * .adamicAdar]] weights it by 1/ln(sz), [[bfsHops]] walks its
    * distinct pairs, and the corpus-scale self-join behind both runs
    * once instead of once per consumer.
    */
  /** The (sized order, part) membership frame behind [[coPurchasePairs]]
    * — materialized once per session+SF so consumers needing per-part
    * or per-order counts ([[StatsOps.assocRules]]'s item supports and
    * basket total) never re-pay the corpus-wide distinct shuffle. */
  private[ops] def coPurchaseItems(spark: SparkSession, sfDir: String): DataFrame =
    graft.etl.Medallion.materializeOnce(spark,
        s"${graft.etl.Medallion.warehouse(sfDir)}/copurchase_items") {
      val op = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_partkey")).distinct()
      val sized = op.groupBy(col("l_orderkey")).agg(count(lit(1)).as("sz"))
        .filter(col("sz").between(2, 20))
      op.join(sized, Seq("l_orderkey"))
    }

  private[ops] def coPurchasePairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.etl.Medallion.materializeOnce(spark,
        s"${graft.etl.Medallion.warehouse(sfDir)}/copurchase_pairs") {
      // builds FROM the materialized membership frame: the corpus-wide
      // distinct + size filter is paid once across both tables
      val items = coPurchaseItems(spark, sfDir)
      items.as("a")
        .join(items.select(col("l_orderkey"), col("l_partkey")).as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"),
          col("a.sz").as("sz"))
        .agg(count(lit(1)).as("n"))
    }

  /** The undirected co-purchase adjacency: every distinct pair of
    * [[coPurchasePairs]] in both directions. */
  private[ops] def coPurchaseAdj(spark: SparkSession, sfDir: String): DataFrame = {
    val half = coPurchasePairs(spark, sfDir)
      .select(col("p1").as("src"), col("p2").as("dst")).distinct()
    half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Sampled stress centrality (Shimbel '53 via Brandes '01's
    * two-pass shape) — the centrality the family lacked: how many
    * shortest paths RUN THROUGH each node. Betweenness's σ_st(v)/σ_st
    * ratios are float and order-sensitive; stress is its ALL-INTEGER
    * sibling (Σ_st σ_st(v)), so the whole two-pass algorithm stays on
    * exact integers under the driver hash: forward level-synchronous
    * BFS accumulating path counts σ (sum over predecessors), backward
    * accumulation R(v) = Σ_{w∈succ}(1 + R(w)) counting DAG paths
    * below v, contribution σ(v)·R(v) per source. Sources are the
    * [[bfsHops]] seed set (Brandes-pivot sampling — exact per-pivot,
    * sampled over pivots, which is how centrality is actually run at
    * scale), depth-capped at the same 4 hops.
    *
    * Scale shape: the [[bfsHops]] discipline both directions —
    * per-round localCheckpoint on the deepening frames, the constant
    * edge frame cached and released, level frames are (pivots ×
    * nodes)-bounded narrow rows; frontier-drain early exit bounds the
    * rounds by the true diameter, no global sort until the 20-row
    * take. The dominant cost is irreducible Brandes work — every DAG
    * edge of every pivot's BFS is touched once forward (σ) and once
    * backward (R), ~pivots × |edges| join rows — and the published
    * mitigation IS the one implemented: sample pivots (the seed-set
    * size is the knob; exactness is per-pivot, coverage scales
    * linearly). */
  def stressCentrality(spark: SparkSession, sfDir: String): DataFrame = {
    val MaxHops = 4
    // σ counts paths, so edge multiplicity MUST be 1 — distinct both
    // directions (bfsHops' duplicate-tolerant min-merge doesn't apply)
    val edges = coPurchaseAdj(spark, sfDir).distinct().cache()
    // Scale-adaptive shuffle partitioning (r14 verdict item 5, guide
    // §2.5): the per-round join/aggregate state is ~pivots × |edges|
    // rows; at a FIXED 32 partitions the 10× fixture crossed
    // per-partition spill thresholds (measured exp 1.30, dropping to
    // ~1.13 at 320 partitions). Derive the partition count from the
    // measured edge count (~400k join rows per partition — the
    // operating point the r14 retune leg measured) instead of relying
    // on an env knob; the count() also materializes the cache the 8+
    // downstream passes reuse. AQE (on by default) coalesces the
    // partitions tiny early rounds don't need. The rounds run in a
    // scoped session, so the caller's conf never changes.
    val nEdges = edges.count()
    val Pivots = 5L
    val adaptive = math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt,
      math.min(4096L, Pivots * nEdges / 400000L).toInt)
    val out = graft.Session.scoped(spark,
        "spark.sql.shuffle.partitions" -> adaptive.toString) { s =>
    // every checkpoint the rounds take, freed once the result is collected
    val live = scala.collection.mutable.Buffer[DataFrame]()
    def ck(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(eager = true); live += c; c
    }
    val seeds = Tables.part(s, sfDir).filter(col("p_partkey") <= 5)
      .select(col("p_partkey").as("s"), col("p_partkey").as("v"),
        lit(0).as("d"), lit(1L).as("sigma"))
    var all = ck(seeds)
    var level = all
    var h = 1
    var frontierSize = 1L
    var deepest = 0
    // early exit on frontier drain (the bfsHops discipline): this
    // graph's diameter is ~2, so without it HALF the edge-table
    // passes — forward rounds 3..4 and backward levels 4..3 — would
    // be no-op joins against the 2M-edge frame
    while (h <= MaxHops && frontierSize > 0L) {
      val nxt = level.join(edges, col("v") === col("src"))
        .select(col("s"), col("dst").as("v2"), col("sigma"))
        .join(all.select(col("s").as("s2"), col("v").as("seen")),
          col("s") === col("s2") && col("v2") === col("seen"), "left_anti")
        .groupBy(col("s"), col("v2"))
        .agg(sum(col("sigma")).cast("long").as("sigma"))
        .select(col("s"), col("v2").as("v"), lit(h).as("d"), col("sigma"))
      level = ck(nxt)
      frontierSize = level.count()
      if (frontierSize > 0) {
        all = ck(all.unionByName(level))
        deepest = h
      }
      h += 1
    }
    // backward: R per level, deepest first (its R is 0 — no successors
    // inside the cap)
    var r = ck(all.filter(col("d") === deepest)
      .select(col("s"), col("v"), lit(0L).as("r")))
    var rAll = r
    var hh = deepest - 1
    while (hh >= 0) {
      val cur = all.filter(col("d") === hh)
      val contrib = cur.join(edges, col("v") === col("src"))
        .join(r.select(col("s").as("s3"), col("v").as("w"), col("r")),
          col("s") === col("s3") && col("dst") === col("w"))
        .groupBy(col("s"), col("v"))
        .agg(sum(lit(1L) + col("r")).cast("long").as("rsum"))
      r = ck(cur
        .join(contrib.select(col("s").as("s4"), col("v").as("v4"),
          col("rsum")),
          col("s") === col("s4") && col("v") === col("v4"), "left")
        .select(col("s"), col("v"), coalesce(col("rsum"), lit(0L)).as("r")))
      // r is checkpointed per level (the recurrence input); the union
      // of checkpointed frames needs no checkpoint of its own
      rAll = rAll.unionByName(r)
      hh -= 1
    }
    try localTo(spark, all
      .join(rAll.select(col("s").as("s5"), col("v").as("v5"), col("r")),
        col("s") === col("s5") && col("v") === col("v5"))
      .filter(col("v") =!= col("s"))
      .groupBy(col("v").as("part"))
      .agg(sum(col("sigma") * col("r")).cast("long").as("stress"))
      .filter(col("stress") > 0L)
      .orderBy(col("stress").desc, col("part"))
      .limit(20)) // 20 rows; lets edges release
    finally live.foreach(freeCheckpoint)
    }
    edges.unpersist()
    out
  }

  /** The sigma/R recursion replayed relationally: dist via the
    * recursive BFS, then 4 unrolled σ level joins forward and 4
    * unrolled R level joins backward — all integer. */
  private val stressCentralityOracle = {
    val fwd = (1 to 4).map(l =>
      s"""s$l AS (SELECT d.s, d.v, CAST(SUM(sp.sigma) AS BIGINT) AS sigma
         |  FROM dist d JOIN e ON e.dst = d.v
         |  JOIN s${l - 1} sp ON sp.s = d.s AND sp.v = e.src
         |  WHERE d.d = $l GROUP BY 1, 2)""".stripMargin).mkString(",\n")
    val bwd = (0 to 3).reverse.map(l =>
      s"""c$l AS (SELECT dd.s, dd.v, CAST(SUM(1 + rn.r) AS BIGINT) AS r
         |  FROM dist dd JOIN e ON e.src = dd.v
         |  JOIN r${l + 1} rn ON rn.s = dd.s AND rn.v = e.dst
         |  WHERE dd.d = $l GROUP BY 1, 2),
         |r$l AS (SELECT d.s, d.v, COALESCE(c.r, 0) AS r
         |  FROM dist d LEFT JOIN c$l c ON c.s = d.s AND c.v = d.v
         |  WHERE d.d = $l)""".stripMargin).mkString(",\n")
    s"""WITH RECURSIVE
       |op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |sized AS (
       |  SELECT l_orderkey FROM op GROUP BY 1
       |  HAVING COUNT(*) BETWEEN 2 AND 20),
       |e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM op a
       |  JOIN op b ON a.l_orderkey = b.l_orderkey
       |           AND a.l_partkey <> b.l_partkey
       |  JOIN sized s ON s.l_orderkey = a.l_orderkey),
       |seeds AS (SELECT p_partkey AS s FROM part WHERE p_partkey <= 5),
       |bfs AS (
       |  SELECT s, s AS v, 0 AS d FROM seeds
       |  UNION
       |  SELECT bfs.s, e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.v
       |  WHERE bfs.d < 4),
       |dist AS (SELECT s, v, MIN(d) AS d FROM bfs GROUP BY 1, 2),
       |s0 AS (SELECT s, v, CAST(1 AS BIGINT) AS sigma FROM dist
       |       WHERE d = 0),
       |$fwd,
       |sigma AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1
       |          UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
       |          UNION ALL SELECT * FROM s4),
       |r4 AS (SELECT s, v, CAST(0 AS BIGINT) AS r FROM dist WHERE d = 4),
       |$bwd,
       |rall AS (SELECT * FROM r0 UNION ALL SELECT * FROM r1
       |         UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
       |         UNION ALL SELECT * FROM r4)
       |SELECT v AS part, CAST(SUM(sigma * r) AS BIGINT) AS stress
       |FROM sigma JOIN rall USING (s, v) WHERE v <> s
       |GROUP BY v HAVING SUM(sigma * r) > 0
       |ORDER BY stress DESC, part LIMIT 20""".stripMargin
  }

  // ------------------------------------------------- relaxation kernel
  /** Bellman–Ford semiring: ⊕ `merge`s costs, ⊗ `extend`s one by a weight. */
  private[graft] final case class Semiring(merge: Column => Column,
      extend: (Column, Column) => Column)
  private[graft] val MinPlus = Semiring(min(_), _ + _)
  private[graft] val MaxMin = Semiring(max(_), least(_, _))

  /** Synchronous Bellman–Ford from `seeds (…, part, cost)` over `edges
    * (src, dst, w)`, at most `maxRounds` rounds: the checkpointed
    * `(…, part, cost, fresh)` frame, cost = the ⊕ over all walks of at
    * most that many edges. All columns are longs; any before `part`
    * (a source id) ride along and key the state with it. Only `fresh`
    * rows — whose cost moved last round — relax (a stale row's
    * relaxation is already merged), and the merge sets the flag again
    * against the pre-round cost `prev`, so no round carries a literal
    * of its own. With the frontier pinned as the broadcast side (it is
    * node-sized; past broadcast size the hint must go, and rounds then
    * plan by size), every round compiles the same classes. A round is
    * ONE action, the eager `localCheckpoint`; its fresh count is
    * observed on the same job, and a round that moves nothing ends
    * the loop. A superseded round's checkpoint is freed once its
    * successor is materialized. */
  private[graft] def relaxRounds(seeds: DataFrame, edges: DataFrame,
      maxRounds: Int, semiring: Semiring): DataFrame = {
    val names = seeds.columns.toSeq.filterNot(Set("part", "cost")) :+ "part"
    val (key, carry) = (names.map(col), names.init.map(col))
    // seeds enter as an RDD-backed frame of the checkpoint schema, so
    // round 1 has no seed filter or literal to fold and plans like the
    // rest (the internal-row RDD: `Dataset.rdd` is an action itself)
    var state = seeds.sparkSession.createDataFrame(
      seeds.select(key :+ col("cost"): _*).queryExecution.toRdd
        .map(r => Row.fromSeq((0 to names.size).map(r.getLong) :+ true)),
      StructType.fromDDL((names :+ "cost").map(c => s"$c BIGINT")
        .mkString("", ", ", ", fresh BOOLEAN NOT NULL")))
    var moved = true
    var round = 0
    while (round < maxRounds && moved) {
      val relaxed = broadcast(state.filter(col("fresh")))
        .join(edges, col("part") === col("src"))
        .select(carry ++ Seq(col("dst").as("part"),
          semiring.extend(col("cost"), col("w")).as("cost"),
          lit(null).cast("long").as("prev")): _*)
      val improved = Observation("relax")
      val next = state.select(key ++ Seq(col("cost"), col("cost").as("prev")): _*)
        .unionByName(relaxed)
        .groupBy(key: _*)
        .agg(semiring.merge(col("cost")).as("cost"),
          semiring.merge(col("prev")).as("prev"))
        .select(key ++ Seq(col("cost"),
          not(col("cost") <=> col("prev")).as("fresh")): _*)
        .observe(improved, count_if(col("fresh")).as("n"))
        .localCheckpoint(eager = true)
      if (round > 0) freeCheckpoint(state)
      state = next
      moved = improved.get("n").asInstanceOf[Long] > 0L
      round += 1
    }
    state
  }

  /** [[relaxRounds]] over `pairs` as a directed edge list — both
    * orientations, `w` aggregated per pair — from the parts ≤ `maxSeed`
    * at `seedCost`, each its own source `s` if `bySource`. The edges
    * are cached (re-joined every round, a plan that never deepens) and
    * released on return: the result reads only the kernel's checkpoint. */
  private def relaxPairs(spark: SparkSession, sfDir: String,
      pairs: DataFrame, w: Column, maxSeed: Long, seedCost: Long,
      maxRounds: Int, semiring: Semiring, bySource: Boolean = false): DataFrame = {
    val half = pairs.groupBy(col("p1"), col("p2")).agg(w.as("w"))
    val edges = half.select(col("p1").as("src"), col("p2").as("dst"), col("w"))
      .unionByName(half.select(col("p2").as("src"), col("p1").as("dst"), col("w")))
      .cache()
    val seeds = Tables.part(spark, sfDir).filter(col("p_partkey") <= maxSeed)
      .select((if (bySource) Seq(col("p_partkey").as("s")) else Nil) ++
        Seq(col("p_partkey").as("part"), lit(seedCost).as("cost")): _*)
    try relaxRounds(seeds, edges, maxRounds, semiring)
    finally edges.unpersist()
  }

  def bfsHops(spark: SparkSession, sfDir: String): DataFrame =
    // unit weights via an aggregate: w is nullable like the weighted
    // twins', so BFS and shortest-path rounds share generated classes
    relaxPairs(spark, sfDir, coPurchasePairs(spark, sfDir), min(lit(1L)),
        5L, 0L, 4, MinPlus)
      .groupBy(col("cost").cast("int").as("dist"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("dist"))

  private val bfsHopsOracle =
    """WITH RECURSIVE
      |op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |sized AS (
      |  SELECT l_orderkey FROM op GROUP BY 1
      |  HAVING COUNT(*) BETWEEN 2 AND 20),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM op a
      |  JOIN op b ON a.l_orderkey = b.l_orderkey
      |           AND a.l_partkey <> b.l_partkey
      |  JOIN sized s ON s.l_orderkey = a.l_orderkey),
      |bfs AS (
      |  SELECT p_partkey AS part, 0 AS d FROM part WHERE p_partkey <= 5
      |  UNION
      |  SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.part
      |  WHERE bfs.d < 4)
      |SELECT d AS dist, COUNT(*) AS n_parts
      |FROM (SELECT part, MIN(d) AS d FROM bfs GROUP BY part)
      |GROUP BY dist ORDER BY dist""".stripMargin

  // ------------------------------------------- weighted shortest path
  /** Weighted single-source-set shortest path (≤ [[SpHops]] hops) over
    * the co-purchase graph, edge weight = the SMALLEST order the pair
    * co-occurred in (tight co-purchases are cheap to traverse). The
    * frame is capped to parts ≤ [[SpCap]] so the oracle's path
    * enumeration stays tractable; the Spark side is cap-independent.
    *
    * Spark side is the (min, +) case of [[relaxRounds]]: at most
    * [[SpHops]] Bellman-Ford rounds, each relaxing only the parts whose
    * cost fell last round — one checkpointing action per round, ending
    * early on the first round that lowers no cost. The oracle is a
    * DuckDB RECURSIVE CTE enumerating every ≤3-hop walk with UNION
    * dedup on (node, cost, hop) — semi-naive path enumeration vs
    * synchronized relaxation, a genuinely different evaluation
    * strategy; the state space is bounded by the cost lattice
    * (≤ cap·60·hops rows), not the walk count.
    */
  private val SpCap = 400L
  private val SpHops = 3

  private def cappedPairs(spark: SparkSession, sfDir: String): DataFrame =
    coPurchasePairs(spark, sfDir)
      .filter(col("p1") <= SpCap && col("p2") <= SpCap)

  def shortestPath(spark: SparkSession, sfDir: String): DataFrame =
    relaxPairs(spark, sfDir, cappedPairs(spark, sfDir), min(col("sz")),
        3L, 0L, SpHops, MinPlus)
      .select(col("part"), col("cost")).orderBy(col("part"))

  private val shortestPathOracle =
    s"""WITH RECURSIVE
       |op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |sized AS (
       |  SELECT l_orderkey, COUNT(*) AS sz FROM op GROUP BY 1
       |  HAVING COUNT(*) BETWEEN 2 AND 20),
       |pw AS (
       |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, MIN(s.sz) AS w
       |  FROM op a
       |  JOIN op b ON a.l_orderkey = b.l_orderkey
       |           AND a.l_partkey < b.l_partkey
       |  JOIN sized s ON s.l_orderkey = a.l_orderkey
       |  WHERE a.l_partkey <= $SpCap AND b.l_partkey <= $SpCap
       |  GROUP BY 1, 2),
       |e AS (SELECT p1 AS src, p2 AS dst, w FROM pw
       |      UNION ALL SELECT p2, p1, w FROM pw),
       |walk AS (
       |  SELECT p_partkey AS node, CAST(0 AS BIGINT) AS cost, 0 AS h
       |  FROM part WHERE p_partkey <= 3
       |  UNION
       |  SELECT e.dst, walk.cost + e.w, walk.h + 1
       |  FROM walk JOIN e ON e.src = walk.node
       |  WHERE walk.h < $SpHops)
       |SELECT node AS part, MIN(cost) AS cost
       |FROM walk GROUP BY node ORDER BY part""".stripMargin

  // ------------------------------------------------- widest path
  /** Widest-path (max-bottleneck) from the same source set over the
    * same capped co-purchase graph as [[shortestPath]], with edge
    * CAPACITY = the number of orders the pair co-occurred in: a path
    * is as strong as its weakest co-purchase link, and a node's width
    * is the strongest such guarantee any ≤3-hop path offers — the
    * supply-reliability / max-flow-single-path question. The point of
    * the twin is the SEMIRING SWAP: Bellman-Ford relaxation is generic
    * over (⊕ = merge, ⊗ = extend); shortest path runs (min, +), widest
    * path runs (max, min) through the same [[relaxRounds]] kernel, its
    * early exit included; nothing but the semiring changes. The
    * oracle replays it as the same recursive-CTE walk enumeration with
    * LEAST/​MAX in place of +/MIN, state bounded by the capacity
    * lattice exactly as the (min, +) twin is by its cost lattice.
    */
  private val WpInf = 999999L // above any pair capacity at every SF

  // the materialized pair frame is grouped by (p1, p2, sz) with n =
  // co-occurrence orders of that size — capacity is the total
  def widestPath(spark: SparkSession, sfDir: String): DataFrame =
    relaxPairs(spark, sfDir, cappedPairs(spark, sfDir), sum(col("n")),
        3L, WpInf, SpHops, MaxMin)
      .select(col("part"), col("cost").as("width")).orderBy(col("part"))

  private val widestPathOracle =
    s"""WITH RECURSIVE
       |op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |sized AS (
       |  SELECT l_orderkey, COUNT(*) AS sz FROM op GROUP BY 1
       |  HAVING COUNT(*) BETWEEN 2 AND 20),
       |pw AS (
       |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS w
       |  FROM op a
       |  JOIN op b ON a.l_orderkey = b.l_orderkey
       |           AND a.l_partkey < b.l_partkey
       |  JOIN sized s ON s.l_orderkey = a.l_orderkey
       |  WHERE a.l_partkey <= $SpCap AND b.l_partkey <= $SpCap
       |  GROUP BY 1, 2),
       |e AS (SELECT p1 AS src, p2 AS dst, w FROM pw
       |      UNION ALL SELECT p2, p1, w FROM pw),
       |walk AS (
       |  SELECT p_partkey AS node, CAST($WpInf AS BIGINT) AS width, 0 AS h
       |  FROM part WHERE p_partkey <= 3
       |  UNION
       |  SELECT e.dst, LEAST(walk.width, e.w), walk.h + 1
       |  FROM walk JOIN e ON e.src = walk.node
       |  WHERE walk.h < $SpHops)
       |SELECT node AS part, MAX(width) AS width
       |FROM walk GROUP BY node ORDER BY part""".stripMargin

  // ---------------------------------------------------------------- HITS
  /** HITS hubs-and-authorities (Kleinberg) on the customer–supplier
    * purchase bipartite graph — customers are hubs, suppliers are
    * authorities: a good supplier is bought from by good customers,
    * a good customer buys from good suppliers. Two unrolled mutual-
    * reinforcement hops from h₀ ≡ 1, entirely in integer arithmetic:
    * a₁(s) = deg(s), h₁(c) = Σ_{s~c} a₁(s), a₂(s) = Σ_{c~s} h₁(c) —
    * exact longs (widest value ≤ |E|·max h₁; renormalize per hop past
    * that, same staged floor-division), normalized ONCE at the end by
    * max a₂ on the e6 half-up lattice.
    *
    * Scale shape: the edge table never shuffles — each hop reads the
    * pay-once bucketed copy pre-partitioned on ITS aggregation key
    * (the pagerank layout, shared), so the partial/final hash
    * aggregate runs inside the bucketed distribution; the opposite-
    * side score frame is node-sized and broadcasts in (GraphX's
    * aggregateMessages shape). At node counts past broadcast size,
    * ship the score frame to the edge bucketing instead — a narrow
    * exchange of the SMALL side per hop, never of the edges.
    */
  def hits(spark: SparkSession, sfDir: String): DataFrame = {
    val (eC, eS) = graft.etl.Bucketing.ensurePagerankEdges(spark, sfDir)
    val a1 = eS.groupBy(col("s")).agg(count(lit(1)).as("a1"))
    val h1 = eC.join(broadcast(a1), "s")
      .groupBy(col("c")).agg(sum(col("a1")).as("h1"))
    val a2 = eS.join(broadcast(h1), "c")
      .groupBy(col("s")).agg(sum(col("h1")).as("a2"))
    val mx = a2.agg(max(col("a2")).as("mx"))
    a2.crossJoin(broadcast(mx))
      .select(col("s"), col("a2"),
        (((col("a2") * 2000000L + col("mx")) -
          pmod(col("a2") * 2000000L + col("mx"), col("mx") * 2)) /
          (col("mx") * 2) / lit(1000000.0)).as("auth"))
      .orderBy(col("s"))
  }

  private val hitsOracle =
    """WITH edges AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |               FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |a1 AS (SELECT s, COUNT(*) AS a1 FROM edges GROUP BY s),
      |h1 AS (SELECT e.c, SUM(a1.a1) AS h1
      |       FROM edges e JOIN a1 ON a1.s = e.s GROUP BY e.c),
      |a2 AS (SELECT e.s, CAST(SUM(h1.h1) AS BIGINT) AS a2
      |       FROM edges e JOIN h1 ON h1.c = e.c GROUP BY e.s),
      |mx AS (SELECT MAX(a2) AS mx FROM a2)
      |SELECT s, a2,
      |       CAST((a2 * 2000000 + mx - ((a2 * 2000000 + mx) % (mx * 2)))
      |            // (mx * 2) AS BIGINT) / 1000000.0 AS auth
      |FROM a2, mx ORDER BY s""".stripMargin

  // --------------------------------------------------------------- k-core
  /** K-core peeling profile on the customer–supplier bipartite graph:
    * iteratively delete nodes of degree < k until fixpoint — the
    * classic graph-sparsification/community-seed primitive, and a
    * genuinely DIFFERENT iterative shape from the score-propagation
    * family ([[pagerank]]/[[hits]]): a cascading DELETION fixpoint,
    * where removing one round's weak nodes strips support from the
    * next. Three unrolled rounds at two k values chosen to show both
    * regimes on this graph: k=45 converges to a stable nonempty core
    * in one round; k=50 cascades — round 1's survivors lose their
    * support and the core empties at round 2 (so the 50-core is ∅ and
    * the profile SHOWS the cascade, not just the answer). Round 0 is
    * the raw graph. Three rounds suffice here because the counts
    * repeat (fixpoint reached and visible IN the output); unbounded
    * graphs iterate with the localCheckpoint loop
    * (DedupOps.connectedComponents' pattern).
    *
    * Scale shape: each round is two degree hash-aggregates over the
    * surviving edges plus two semi-join filters on (c) and (s) — all
    * partial-aggregated, no windows, no sorts; the starting edge scan
    * is the pay-once bucketed pagerank table, so round 1's degree
    * aggregates run inside the bucketed distribution.
    */
  def kcore(spark: SparkSession, sfDir: String): DataFrame = {
    val (eC, _) = graft.etl.Bucketing.ensurePagerankEdges(spark, sfDir)
    def stats(k: Int, round: Int, e: DataFrame): DataFrame =
      e.agg(count(lit(1)).as("n_edges"),
        countDistinct(col("c")).as("n_c"),
        countDistinct(col("s")).as("n_s"))
        .select(lit(k).as("k"), lit(round).as("round"),
          col("n_edges"), col("n_c"), col("n_s"))
    val frames = Seq(45, 50).flatMap { k =>
      var e = eC
      stats(k, 0, e) +: (1 to 3).map { r =>
        val keepC = e.groupBy(col("c")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("c"))
        val keepS = e.groupBy(col("s")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("s"))
        // checkpoint each survivor frame: the per-round stats branches
        // and the next round both read it, and the union's 8 branches
        // must not re-run the whole peel chain from the scan (the
        // iterative-pipeline lesson; measured 3.3s -> 1.0s at sf0.1)
        e = e.join(keepC, "c").join(keepS, "s").localCheckpoint(true)
        stats(k, r, e)
      }
    }
    frames.reduce(_ unionByName _).orderBy(col("k"), col("round"))
  }

  private val kcoreOracle = {
    def peel(k: Int): String = {
      val rounds = (0 until 3).map { i =>
        s"""e${k}_${i + 1} AS (
           |  SELECT e.* FROM e${k}_$i e
           |  JOIN (SELECT c FROM e${k}_$i GROUP BY c HAVING COUNT(*) >= $k) kc
           |    ON kc.c = e.c
           |  JOIN (SELECT s FROM e${k}_$i GROUP BY s HAVING COUNT(*) >= $k) ks
           |    ON ks.s = e.s)""".stripMargin
      }
      s"e${k}_0 AS (SELECT * FROM e0),\n" + rounds.mkString(",\n")
    }
    val selects = Seq(45, 50).flatMap { k =>
      (0 to 3).map { r =>
        s"""SELECT $k AS k, $r AS round, COUNT(*) AS n_edges,
           |  COUNT(DISTINCT c) AS n_c, COUNT(DISTINCT s) AS n_s
           |FROM e${k}_$r""".stripMargin
      }
    }
    s"""WITH e0 AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |${peel(45)},
       |${peel(50)}
       |${selects.mkString("\nUNION ALL\n")}
       |ORDER BY k, round""".stripMargin
  }

  // ---------------------------------------------------------- modularity
  /** Newman modularity of the SOURCE partition over the near-dup graph
    * — "are near-duplicates concentrated within sources?" as one
    * number: Q = Σ_c (e_c/m − (d_c/2m)²), communities = document
    * sources, edges = the verified MinHash pair table. The
    * cross-source dup matrix (q_cross_source_dups) shows the raw
    * counts; Q is the chance-corrected summary a crawl-dedup dashboard
    * alerts on (Q ≈ 0 ⇒ dups ignore source boundaries ⇒ cross-source
    * contamination).
    *
    * Exact arithmetic: Q's terms are rationals with denominator 4m² —
    * per-community contribution = (4·m·e_c − d_c²) / (4m²), summed as
    * exact longs and emitted through the signed half-up e6 division;
    * the total Q is the SUM of the integer numerators through ONE
    * division (not a sum of rounded terms — no drift). m arrives via
    * one scalar hop (the A6 shape).
    *
    * Scale: the pair table is the session-materialized MinHash output
    * (built once, shared with clusters/triangles/linkage); labeling is
    * two broadcast joins against the doc→source dimension; the rest is
    * two community-sized aggregates.
    */
  def modularity(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"))
    val lab = DedupOps.dedupMinhash(spark, sfDir).select(col("d1"), col("d2"))
      .join(broadcast(src.select(col("doc_id").as("d1"), col("source").as("s1"))), Seq("d1"))
      .join(broadcast(src.select(col("doc_id").as("d2"), col("source").as("s2"))), Seq("d2"))
    val m = lab.count()
    val dc = lab.select(col("s1").as("c")).unionByName(lab.select(col("s2").as("c")))
      .groupBy(col("c")).agg(count(lit(1)).as("d_c"))
    val ec = lab.filter(col("s1") === col("s2"))
      .groupBy(col("s1").as("c")).agg(count(lit(1)).as("e_c"))
    val wt = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    dc.join(ec, Seq("c"), "left")
      .select(col("c"), col("d_c"), coalesce(col("e_c"), lit(0L)).as("e_c"))
      .withColumn("num",
        lit(4L * m) * col("e_c") - col("d_c") * col("d_c"))
      .withColumn("contrib", signedHalfUpE6(col("num"), lit(4L * m * m)))
      .withColumn("q_total", signedHalfUpE6(sum(col("num")).over(wt), lit(4L * m * m)))
      .select(col("c"), col("d_c"), col("e_c"), col("contrib"), col("q_total"))
      .orderBy(col("c"))
  }

  /** Signed half-up e6 ratio num/den (den > 0) as an exact-integer
    * expression — the house lattice division, factored for reuse. */
  private def signedHalfUpE6(num: Column, den: Column): Column = {
    val a = abs(num) * 2000000L
    val h = ((a + den) - pmod(a + den, den * 2)) / (den * 2)
    (when(num < 0, -h).otherwise(h)).cast("long").cast("double") / 1e6
  }

  private lazy val modularityOracle =
    s"""WITH edges AS (SELECT d1, d2 FROM (${DedupOps.dedupMinhashOracle})),
       |lab AS (
       |  SELECT a.source AS s1, b.source AS s2
       |  FROM edges e
       |  JOIN documents a ON a.doc_id = e.d1
       |  JOIN documents b ON b.doc_id = e.d2),
       |mm AS (SELECT COUNT(*) AS m FROM lab),
       |dc AS (SELECT c, COUNT(*) AS d_c
       |       FROM (SELECT s1 AS c FROM lab UNION ALL SELECT s2 FROM lab)
       |       GROUP BY 1),
       |ec AS (SELECT s1 AS c, COUNT(*) AS e_c FROM lab WHERE s1 = s2 GROUP BY 1),
       |cells AS (
       |  SELECT c, d_c, COALESCE(e_c, 0) AS e_c,
       |         4 * m * COALESCE(e_c, 0) - d_c * d_c AS num, 4 * m * m AS den
       |  FROM dc LEFT JOIN ec USING (c), mm)
       |SELECT c, d_c, CAST(e_c AS BIGINT) AS e_c,
       |       CAST(CAST(CASE WHEN num < 0
       |          THEN -((abs(num) * 2000000 + den - ((abs(num) * 2000000 + den) % (den * 2))) // (den * 2))
       |          ELSE (abs(num) * 2000000 + den - ((abs(num) * 2000000 + den) % (den * 2))) // (den * 2)
       |        END AS BIGINT) AS DOUBLE) / 1e6 AS contrib,
       |       CAST(CAST(CASE WHEN SUM(num) OVER () < 0
       |          THEN -((abs(SUM(num) OVER ()) * 2000000 + den - ((abs(SUM(num) OVER ()) * 2000000 + den) % (den * 2))) // (den * 2))
       |          ELSE (abs(SUM(num) OVER ()) * 2000000 + den - ((abs(SUM(num) OVER ()) * 2000000 + den) % (den * 2))) // (den * 2)
       |        END AS BIGINT) AS DOUBLE) / 1e6 AS q_total
       |FROM cells ORDER BY c""".stripMargin

  // ---------------------------------------- star connected components
  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014) — the O(log n)-round web-graph-scale
    * upgrade that [[graft.ops.DedupOps.connectedComponents]]'s
    * min-label propagation docstring promises. Min-label needs
    * O(diameter) rounds (a 10⁶-long chain of near-dup shingles = 10⁶
    * shuffles); star contraction repeatedly rewires every node toward
    * its neighborhood minimum, provably halving potential per
    * alternation, so a path of ANY length converges in O(log n)
    * rounds of the SAME join+aggregate plan shape. (Measured: a
    * 100,001-node chain — min-label's worst case, ~100k rounds —
    * converges in 18 rounds, log₂(10⁵) ≈ 17.)
    *
    * Per round: one symmetrized neighbor frame, one min-per-node hash
    * aggregate, one join back — all on the node key, partial-agg
    * friendly, no window, no driver-side edges. localCheckpoint per
    * round truncates the deepening lineage (the repo's iterative
    * lesson); the convergence probe rides the same job as the
    * checkpoint's count. Returns `(node, label)` with every node
    * labeled by its component minimum — same contract as min-label,
    * so the two implementations cross-check against one oracle.
    *
    * @return (labels, rounds) — rounds exposed so the scale spec can
    *         assert the O(log n) bound actually holds.
    */
  /** Eagerly free a `localCheckpoint`ed frame's storage blocks.
    * `Dataset.unpersist` is a CacheManager call and does NOT touch
    * checkpoint blocks — those live on the internal RDD the checkpoint
    * materialized, exposed as the plan's `LogicalRDD` leaf. Shared by
    * the iterative graph loops here and the per-micro-batch checkpoint
    * in [[graft.streaming.StreamingOps.semDedupStream]]. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => ()
    }

  private[graft] def connectedComponentsStar(
      pairs0: DataFrame): (DataFrame, Int) = {
    // canonical undirected edges, self-loops dropped: (hi, lo)
    var edges = pairs0
      .select(greatest(col("d1"), col("d2")).as("hi"),
        least(col("d1"), col("d2")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint(true)
    // set signature: count + XOR-fold of per-edge hashes — order-free,
    // overflow-free (SUM under ANSI throws on long overflow), collision
    // odds 2⁻⁶⁴ per round
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(hi, lo))")).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var last = sig(edges)
    var rounds = 0
    var converged = false
    val maxRounds = 40 // ~2·log₂(n) + slack; a 2⁴⁰-node component won't fit anyway
    while (!converged && rounds < maxRounds) {
      // large-star: node u gathers N(u)∪{u}, min m; every LARGER
      // neighbor v re-wires to (v, m) — strictly-larger keeps the
      // rewiring acyclic (always toward smaller ids)
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val afterLarge = sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
      // small-star: node u and its SMALLER neighbors all re-wire to
      // the minimum of that set — the contraction step
      val smaller = afterLarge
        .select(col("hi").as("u"), col("lo").as("v")) // v < u by construction
      val mins2 = smaller.groupBy(col("u")).agg(min(col("v")).as("m"))
      val afterSmall = smaller.join(mins2, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .union(mins2.select(col("u").as("hi"), col("m").as("lo")))
        .filter(col("hi") =!= col("lo")).distinct()
        .localCheckpoint(true)
      val cur = sig(afterSmall)
      converged = cur == last
      last = cur
      // new round is materialized (sig ran on the checkpoint) — drop the
      // superseded round's checkpointed blocks now, or up to maxRounds
      // edge RDDs linger in storage memory at web-graph scale.
      // Dataset.unpersist only clears CacheManager entries; a
      // localCheckpoint's blocks belong to its underlying RDD, reachable
      // through the LogicalRDD leaf the checkpoint planted.
      freeCheckpoint(edges)
      edges = afterSmall
      rounds += 1
    }
    require(converged,
      s"star contraction did not converge within $maxRounds rounds")
    // fixpoint is a star forest: every edge is (member, root)
    val labels = edges.select(col("hi").as("node"), col("lo").as("label"))
      .union(edges.select(col("lo").as("node"), col("lo").as("label")))
      .distinct()
    (labels, rounds)
  }

  // ------------------------------- neighborhood function (HyperANF)
  /** Neighborhood function / effective-diameter profile by bottom-k
    * sketch propagation — HyperANF (Boldi, Rosa & Vigna, WWW 2011)
    * with KMV bottom-k sketches in place of HyperLogLog counters:
    * |ball(u, h)| is estimated from the k smallest reachable hashes,
    * and each round every node's sketch becomes the bottom-k of the
    * union of its own and its neighbors' sketches — bounded-size,
    * mergeable, order-free state maintained by ONE equi-join + ONE
    * hash aggregate per round (the star-contraction/LPA round shape;
    * rounds = effective diameter, typically O(log n) on small-world
    * graphs — vs per-source frontier BFS, which pays O(sources ×
    * diameter) and cannot answer "reach of EVERY node" at all at
    * scale). KMV instead of HLL is what makes the operator
    * ORACLE-EXACT: both engines build identical injectively-hashed,
    * deduped, sorted, truncated arrays (the mixBucket parity
    * doctrine), so the whole profile hash-matches with no epsilon
    * gate; the estimate (k−1)·2³² / h_k is an exact integer division.
    *
    * Per hop: node count, how many balls are still EXACT (|sketch| <
    * k — the sketch IS the ball), and the summed reach estimate — the
    * curve whose plateau locates the effective diameter.
    *
    * Memory discipline: per-hop rollups (1 row) are collected
    * EAGERLY (A6 scalars) so each superseded sketch frame's blocks can
    * be freed immediately — only one |V|·(k+1)-long sketch generation
    * is ever live (the round-9 star-CC lesson applied to fan-in
    * state), and no checkpoint blocks outlive the call.
    *
    * Runtime profile (round-10 pass, sf0.1, local[32], 10 back-to-back
    * executions instrumented for GC and storage): steady state is
    * ~3.5 s; the FIRST execution in a JVM pays ~15–20 s of
    * codegen+JIT warmup (the typed-imperative kmv_union path and the
    * co-purchase join pipeline compile on first use — Bench's
    * untimed warmup round absorbs this); occasional executions
    * inflate 2–5× with near-zero GC delta, i.e. the documented roving
    * host windows, not this operator (per-phase timing shows graph
    * build, init, and every round inflating TOGETHER in those
    * windows). Worst observed GC share was 3 s in a 22 s execution.
    * Fixed in the same pass: the old per-hop rollup checkpoints
    * leaked 3 one-row blocks per execution into the shared session
    * (now collected, `getPersistentRDDs` stays empty), and kmv_union
    * gained convergence fast paths (a full buffer absorbing nothing,
    * or an identical input, returns without allocating). Isolated
    * re-measure discipline: REPEAT≥3 min-of-rounds recovers 3.5–9 s
    * depending on host weather.
    */
  /** One HyperANF round, uncheckpointed (PlanSpec pins this exact
    * frame's physical plan): the sketch frame is node-sized
    * (|V|·(k+1) longs) — broadcast it so the edge frame never
    * shuffles for the gather (the hits/pagerank "node-sized score
    * frames broadcast" convention; at web scale where |V|·k outgrows
    * a broadcast, swap to the bucketed-edge co-location the pagerank
    * layout already builds), then fold the per-node union through the
    * bounded typed-imperative `kmv_union` kernel. */
  private[graft] def nfRound(sym: DataFrame, sk: DataFrame, k: Int): DataFrame = {
    graft.functions.SketchExprs.register(sym.sparkSession)
    sym.join(broadcast(sk.select(col("node").as("v"), col("sk"))), Seq("v"))
      .groupBy(col("u").as("node"))
      .agg(expr(s"kmv_union(sk, $k)").as("sk"))
  }

  private[graft] def neighborhoodFunction(spark: SparkSession,
      half: SparkSession => DataFrame, hops: Int = 3, k: Int = 32): DataFrame = {
    // ObjectHashAggregate's sort-based fallback triggers at 128 (!)
    // distinct keys per task by default — with |V| ≫ 128 nodes every
    // round would silently sort the whole |E|-row gather instead of
    // hash-folding it. The rounds run in a scoped session with it
    // raised (|V|·(k+1) longs per task of hash-map state is a few MB),
    // so `half` is built there; the caller's session never changes.
    val rows = graft.Session.scoped(spark,
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "16777216") {
      s => neighborhoodFunctionRounds(half(s), hops, k)
    }
    import spark.implicits._
    rows.toDF("hop", "n_nodes", "n_exact", "nf_est").orderBy(col("hop"))
  }

  private def neighborhoodFunctionRounds(
      half: DataFrame, hops: Int, k: Int): Seq[(Int, Long, Long, Long)] = {
    val est64 = (k - 1).toLong * 4294967296L
    val sym = half.select(col("u"), col("v"))
      .union(half.select(col("v").as("u"), col("u").as("v")))
      .union(half.select(col("u"), col("u").as("v"))) // self-loops: ball includes u
      .union(half.select(col("v").as("u"), col("v")))
      .distinct()
      .localCheckpoint(true)
    var sk = sym.select(col("u").as("node")).distinct()
      .withColumn("sk",
        array(Parity.mixBucket(col("node"), 2654435761L, 4294967296L)))
      .localCheckpoint(true)
    // each hop's rollup is ONE row — collect it driver-side (the A6
    // scalar pattern) instead of checkpointing it: the superseded
    // sketch generation still frees immediately, no per-execution
    // 1-row checkpoint blocks leak into the shared session (profiled
    // in round 10: the old unionByName-of-checkpoints left 3 blocks
    // per execution alive forever), and the caller's frame is a plain
    // 3-row local relation
    val rows = (1 to hops).map { h =>
      val next = nfRound(sym, sk, k).localCheckpoint(true)
      val agg = next
        .select(size(col("sk")).as("m"),
          when(size(col("sk")) < k, size(col("sk")).cast("long"))
            .otherwise(expr(s"$est64 div element_at(sk, $k)")).as("est"))
        .agg(count(lit(1)).as("n_nodes"),
          // coalesce: an EMPTY node set yields count=0 with NULL sums —
          // degrade to a zero row instead of a driver-side NPE on getLong
          coalesce(sum(when(col("m") < k, 1L).otherwise(0L)), lit(0L))
            .as("n_exact"),
          coalesce(sum(col("est")), lit(0L)).as("nf_est"))
        .collect()(0) // 1 row, materialized NOW …
      freeCheckpoint(sk) // … so the superseded sketches free safely
      sk = next
      (h, agg.getLong(0), agg.getLong(1), agg.getLong(2))
    }
    freeCheckpoint(sk)
    freeCheckpoint(sym)
    rows
  }

  /** [[neighborhoodFunction]] over the co-purchase graph — the same
    * graph `q_bfs_hops` walks with per-source frontiers; this answers
    * the all-sources reach profile in `hops` sketch rounds. */
  def hyperAnf(spark: SparkSession, sfDir: String): DataFrame =
    neighborhoodFunction(spark, s => coPurchasePairs(s, sfDir)
      .select(col("p1").as("u"), col("p2").as("v")).distinct())

  private val hyperAnfOracle = {
    val h = graft.ops.Parity.mixBucketSql("u", 2654435761L, 4294967296L)
    def round(prev: String, n: Int): String =
      s"""r$n AS (
         |  SELECT s.u AS node,
         |         (list_sort(list_distinct(flatten(list(p$n.sk)))))[1:32] AS sk
         |  FROM sym s JOIN $prev p$n ON p$n.node = s.v GROUP BY s.u)""".stripMargin
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |sized AS (
       |  SELECT l_orderkey FROM op GROUP BY 1
       |  HAVING COUNT(*) BETWEEN 2 AND 20),
       |e AS (
       |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM op a
       |  JOIN op b ON a.l_orderkey = b.l_orderkey
       |           AND a.l_partkey < b.l_partkey
       |  JOIN sized s ON s.l_orderkey = a.l_orderkey),
       |sym AS (SELECT src AS u, dst AS v FROM e UNION SELECT dst, src FROM e
       |        UNION SELECT src, src FROM e UNION SELECT dst, dst FROM e),
       |s0 AS (SELECT DISTINCT u AS node, [$h] AS sk FROM sym),
       |${round("s0", 1)},
       |${round("r1", 2)},
       |${round("r2", 3)},
       |allhops AS (
       |  SELECT 1 AS hop, len(sk) AS m, sk FROM r1
       |  UNION ALL SELECT 2, len(sk), sk FROM r2
       |  UNION ALL SELECT 3, len(sk), sk FROM r3)
       |SELECT hop, COUNT(*) AS n_nodes,
       |       CAST(SUM(CASE WHEN m < 32 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_exact,
       |       CAST(SUM(CASE WHEN m < 32 THEN m
       |                     ELSE ${31L * 4294967296L} // sk[32] END) AS BIGINT)
       |         AS nf_est
       |FROM allhops GROUP BY hop ORDER BY hop""".stripMargin
  }

  // ---------------------------------------- label propagation (LPA)
  /** Synchronous label propagation (Raghavan et al. 2007, the
    * community-detection workhorse): labels init to node ids; each
    * round EVERY node simultaneously adopts the most frequent label
    * among its neighbors (ties → smallest label — the total order
    * that makes synchronous LPA deterministic, hence cross-engine
    * checkable; classic LPA randomizes, which an oracle cannot
    * follow). A FIXED `rounds` budget rather than
    * convergence-detection: synchronous LPA can 2-cycle on bipartite
    * structure, so "state after R rounds" is the well-defined
    * contract — and exactly R unrolled join+aggregate stages is what
    * the DuckDB oracle replays.
    *
    * Round structure is [[connectedComponentsStar]]'s: per round one
    * equi-join of the symmetrized edge frame to the label table, a
    * (node, label) count hash-aggregate, and a narrow max_by argmax
    * (count desc, label asc) — all partial-agg-friendly triples of
    * longs, no window, no arrays; localCheckpoint truncates lineage
    * and the superseded round's blocks are freed eagerly. At
    * web-graph scale each round costs two narrow exchanges on the
    * node key; R is a constant dial (default 4), so the whole run is
    * O(R) shuffles independent of graph size or diameter.
    */
  private[graft] def labelPropagation(
      pairs0: DataFrame, rounds: Int = 4): DataFrame = {
    val sym = pairs0
      .select(col("d1").as("u"), col("d2").as("v"))
      .union(pairs0.select(col("d2").as("u"), col("d1").as("v")))
      .distinct()
      .localCheckpoint(true)
    var labels = sym.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val next = sym
        .join(labels.select(col("node").as("v"), col("label").as("lbl")),
          Seq("v"))
        .groupBy(col("u"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("u").as("node"))
        .agg(max_by(col("lbl"),
          struct(col("cnt"), (-col("lbl")).as("neg"))).as("label"))
        .localCheckpoint(true)
      freeCheckpoint(labels)
      labels = next
    }
    freeCheckpoint(sym)
    labels
  }

  // ------------------------------------------------------------ bowtie
  /** Broder bowtie decomposition (Broder et al. 2000, "Graph structure
    * in the web" — THE census every web-corpus analysis runs first):
    * from a deterministic pivot, forward reachability F and backward
    * reachability B partition the directed graph into SCC = F∩B,
    * IN = B∖SCC (reaches the core, unreachable from it), OUT = F∖SCC,
    * and OTHER (tendrils/tubes/disconnected) = V∖(F∪B). The directed
    * graph is the within-order part-SEQUENCE graph: line items ordered
    * by (linenumber, partkey, suppkey) — the full-tuple DISTINCT +
    * composite sort because this table has DUPLICATE (orderkey,
    * linenumber) keys, so a bare linenumber window is nondeterministic
    * — give src→dst for consecutive parts; cycles arise exactly when
    * orders disagree on part sequencing. The raw graph is
    * super-critical (avg degree 22 — one total SCC, census trivial),
    * so edges pass an md5-lattice keep gate at 10% — the critical
    * regime where all four bowtie regions are populated (1468/221/259/
    * 26 at sf0.01, 14734/2408/2409/190 at sf0.1), the same
    * shared-lattice fixture-variation discipline the FIM cuts use.
    * Pivot = max out-degree (tie: smallest part) — the published
    * heuristic: a high-degree node is in the giant SCC with
    * overwhelming probability, and F/B from ANY core node yield the
    * same decomposition.
    *
    * Scale shape — two reachability sweeps folded into ONE frontier
    * loop, two round-halving tricks on top of the [[bfsHops]]
    * discipline (per-round localCheckpoint, frontier-drain exit):
    *  - BIDIRECTIONAL TAGGING: F and B advance in the same round over
    *    a direction-tagged edge frame, so rounds = max(ecc_f, ecc_b),
    *    not their sum, and each round is one join + one anti-join;
    *  - HOP-TRIPLING: the tagged frame carries e ∪ e² ∪ e³, so each
    *    round advances THREE levels — rounds = ⌈ecc/3⌉ (7 at sf0.1 vs
    *    the 35 a naive two-sweep loop pays); e^k is degree-bounded
    *    (m·d̄^(k−1) rows), the standard memory/rounds knob, NOT a
    *    closure. Both edge frames are session-materialized (the
    *    coPurchasePairs lifecycle) so repeat invocations scan parquet.
    * The round joins broadcast the frontier/visited sides — bounded by
    * |V| = |part|, the DIMENSION table, not the corpus — so cached eT
    * is scanned map-side, never re-exchanged (drop the hint and AQE
    * falls back to a shuffle join if the node set ever outgrows the
    * broadcast threshold). The census
    * is one grouped aggregate over the tagged visited set; the one
    * collect is the 1-row pivot argmax. */
  /** The sparsified sequence-edge frame, materialized once per
    * session+SF (the coPurchasePairs lifecycle): the window + double
    * distinct + md5 gate are paid once, later invocations scan
    * parquet. */
  private def bowtieEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.etl.Medallion.materializeOnce(spark,
        s"${graft.etl.Medallion.warehouse(sfDir)}/bowtie_edges") {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"))
        .distinct() // exact-duplicate rows would break LEAD determinism
        .withColumn("dst", lead(col("l_partkey"), 1).over(w))
        .filter(col("dst").isNotNull && col("dst") =!= col("l_partkey"))
        .select(col("l_partkey").as("src"), col("dst"))
        .distinct()
        .filter( // md5-lattice sparsifier: keep 10% (see doc comment)
          Parity.md5Key(concat_ws("_", col("src"), col("dst")).cast("binary"))
            % 100 < 10)
    }

  /** The direction-tagged hop-tripled walk frame over [[bowtieEdges]],
    * also materialized once per session+SF — every BFS round scans it
    * map-side, so it must not be re-derived per invocation. */
  private def bowtieWalkFrame(spark: SparkSession, sfDir: String): DataFrame =
    graft.etl.Medallion.materializeOnce(spark,
        s"${graft.etl.Medallion.warehouse(sfDir)}/bowtie_walk") {
      val e1 = bowtieEdges(spark, sfDir)
      val e2 = e1.as("a").join(e1.as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src"), col("b.dst"))
      val e3 = e1.unionByName(e2)
        .unionByName(e2.as("a").join(e1.as("b"),
            col("a.dst") === col("b.src"))
          .select(col("a.src"), col("b.dst")))
        .distinct()
      e3.withColumn("dir", lit("f"))
        .unionByName(e3.select(col("dst").as("src"), col("src").as("dst"))
          .withColumn("dir", lit("b")))
    }

  def bowtie(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e1 = bowtieEdges(spark, sfDir)
    val nEdges = e1.count()
    val nNodes = e1.select(col("src").as("v"))
      .unionByName(e1.select(col("dst").as("v"))).distinct().count()
    val pivot = e1.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("src"))
      .limit(1).select(col("src")).as[Long].head() // 1-row argmax
    // hop-tripled direction-tagged frame (e ∪ e² ∪ e³ both ways):
    // rows are degree-bounded (m·(1+d̄+d̄²)), rounds become ⌈ecc/3⌉
    val eT = bowtieWalkFrame(spark, sfDir)
      .cache() // re-joined every round; released below
    // visited = lazy union of per-round CHECKPOINTED frontiers: each
    // component is materialized, so the plan stays shallow (≤ rounds
    // leaves) without paying a visited-wide re-checkpoint every round
    var frontier = Seq((pivot, "f"), (pivot, "b")).toDF("v", "dir")
      .localCheckpoint(eager = true)
    var visited = frontier
    var frontierSize = 1L
    while (frontierSize > 0L) {
      // frontier and visited are |V|-bounded narrow rows — broadcast
      // them so the round scans cached eT ONCE map-side instead of
      // re-exchanging it every round (the reuse-a-partitioning
      // lesson); the only shuffle left is the distinct on the
      // frontier-sized join output
      val next = broadcast(frontier).as("fr").join(eT.as("et"),
          col("fr.v") === col("et.src") && col("fr.dir") === col("et.dir"))
        .select(col("et.dst").as("v"), col("et.dir").as("dir")).distinct()
        .join(broadcast(visited), Seq("v", "dir"), "left_anti")
        .localCheckpoint(eager = true)
      visited = visited.unionByName(next)
      frontier = next
      frontierSize = next.count()
    }
    // census in ONE grouped aggregate over the tagged visited set
    val census = visited
      .groupBy(col("v"))
      .agg(max(when(col("dir") === "f", 1).otherwise(0)).as("in_f"),
        max(when(col("dir") === "b", 1).otherwise(0)).as("in_b"))
      .agg(sum(col("in_f") * col("in_b")).as("n_scc"),
        sum(col("in_b") * (lit(1) - col("in_f"))).as("n_in"),
        sum(col("in_f") * (lit(1) - col("in_b"))).as("n_out"),
        count(lit(1)).as("n_fb"))
      .select(lit(pivot).as("pivot_node"), lit(nNodes).as("n_nodes"),
        lit(nEdges).as("n_edges"), col("n_scc"), col("n_in"),
        col("n_out"), (lit(nNodes) - col("n_fb")).as("n_other"))
    // 1 row, collected: eT and every frontier checkpoint release
    try localTo(spark, census)
    finally { eT.unpersist(); freeCheckpoint(visited) }
  }

  private val bowtieOracle =
    s"""WITH RECURSIVE
      |e AS MATERIALIZED (
      |  SELECT src, dst FROM (
      |    SELECT DISTINCT src, dst FROM (
      |      SELECT l_partkey AS src,
      |             LEAD(l_partkey) OVER (PARTITION BY l_orderkey
      |               ORDER BY l_linenumber, l_partkey, l_suppkey) AS dst
      |      FROM (SELECT DISTINCT l_orderkey, l_linenumber, l_partkey,
      |                   l_suppkey FROM lineitem))
      |    WHERE dst IS NOT NULL AND dst <> src)
      |  WHERE ${Parity.md5KeySql("src || '_' || dst")} % 100 < 10),
      |p AS (SELECT src AS v FROM e GROUP BY src
      |      ORDER BY COUNT(*) DESC, src LIMIT 1),
      |f AS (SELECT v FROM p
      |      UNION
      |      SELECT e.dst FROM e, f WHERE e.src = f.v),
      |b AS (SELECT v FROM p
      |      UNION
      |      SELECT e.src FROM e, b WHERE e.dst = b.v),
      |-- UNION ALL + outer DISTINCT: inside a WITH RECURSIVE list,
      |-- DuckDB does not de-duplicate a non-recursive bare UNION CTE
      |nodes AS (SELECT DISTINCT v FROM
      |  (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)),
      |c AS (SELECT
      |  (SELECT v FROM p) AS pivot_node,
      |  (SELECT COUNT(*) FROM nodes) AS n_nodes,
      |  (SELECT COUNT(*) FROM e) AS n_edges,
      |  (SELECT COUNT(*) FROM f JOIN b USING (v)) AS n_scc,
      |  (SELECT COUNT(*) FROM b) AS n_b,
      |  (SELECT COUNT(*) FROM f) AS n_f,
      |  (SELECT COUNT(*) FROM (SELECT DISTINCT v FROM
      |     (SELECT v FROM f UNION ALL SELECT v FROM b))) AS n_fb)
      |SELECT pivot_node, n_nodes, n_edges, n_scc,
      |       n_b - n_scc AS n_in, n_f - n_scc AS n_out,
      |       n_nodes - n_fb AS n_other
      |FROM c""".stripMargin

  // ------------------------------------------------ Katz centrality
  /** Katz centrality (Katz '53) over the co-purchase graph — the
    * path-counting cousin of [[pagerank]] (no normalization by
    * out-degree: a node is central if MANY short walks end there,
    * attenuated by length). With α = 1/10 and T = 4 the series is
    * exactly representable on an integer lattice: katz_e9(v) =
    * Σ_{k=1..4} W_k(v)·10^{9−k}, where W_k(v) — the number of
    * length-k walks ending at v — is a pure integer recurrence
    * W_k = Aᵀ W_{k−1} starting from the all-ones vector. No damping
    * division, no float: the whole ranking hashes exactly. Walk
    * counts ride DECIMAL(38) (they overflow a long on high-degree
    * graphs long before 100 TB). Top-20 ship with the per-length
    * walk counts so the attenuation is auditable.
    *
    * Scale shape: T joins of the node-sized walk frame against the
    * edge list, each shuffling on the same src key (bucket once) with
    * per-round localCheckpoint; state is one DECIMAL per node. */
  def katz(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = coPurchaseAdj(spark, sfDir).cache()
    val nodes = edges.select(col("src").as("v")).distinct()
    var wk = nodes.withColumn("w", lit(1L).cast("decimal(38,0)"))
    // fixed depth 4: CACHE the per-length frames and let ONE action at
    // the end materialize the whole chain (an eager checkpoint per
    // round costs 4 blocking jobs; measured 12 s → the cache chain
    // shares each wk between the next round and the output join)
    val cached = Seq.newBuilder[DataFrame]
    val perK = (1 to 4).map { k =>
      wk = edges.join(wk.withColumnRenamed("v", "src"), Seq("src"))
        .groupBy(col("dst").as("v")).agg(sum(col("w")).as("w"))
        .cache()
      cached += wk
      wk.withColumnRenamed("w", s"w$k")
    }
    var acc = nodes
    perK.foreach(p => acc = acc.join(p, Seq("v"), "left_outer"))
    val filled = (1 to 4).foldLeft(acc)((d, k) =>
      d.withColumn(s"w$k",
        coalesce(col(s"w$k"), lit(0L).cast("decimal(38,0)"))))
    val out = filled
      .withColumn("katz_e9",
        (col("w1") * lit(100000000L) + col("w2") * lit(10000000L) +
          col("w3") * lit(1000000L) + col("w4") * lit(100000L))
          .cast("long"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("katz_e9").desc, col("v"))))
      .filter(col("rk") <= 20)
      .select(col("rk"), col("v").as("part"), col("katz_e9"),
        col("w1").cast("long").as("w1"), col("w2").cast("long").as("w2"),
        col("w3").cast("long").as("w3"), col("w4").cast("long").as("w4"))
      .orderBy(col("rk"))
      .localCheckpoint(eager = true)
    cached.result().foreach(_.unpersist())
    edges.unpersist()
    out
  }

  private val katzOracle =
    """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |sized AS (SELECT l_orderkey FROM op GROUP BY 1
      |          HAVING COUNT(*) BETWEEN 2 AND 20),
      |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
      |                         AND a.l_partkey <> b.l_partkey
      |      JOIN sized s ON s.l_orderkey = a.l_orderkey),
      |n AS (SELECT DISTINCT src AS v FROM e),
      |w1 AS (SELECT dst AS v, CAST(COUNT(*) AS HUGEINT) AS w
      |       FROM e GROUP BY 1),
      |w2 AS (SELECT e.dst AS v, SUM(w1.w) AS w
      |       FROM e JOIN w1 ON w1.v = e.src GROUP BY 1),
      |w3 AS (SELECT e.dst AS v, SUM(w2.w) AS w
      |       FROM e JOIN w2 ON w2.v = e.src GROUP BY 1),
      |w4 AS (SELECT e.dst AS v, SUM(w3.w) AS w
      |       FROM e JOIN w3 ON w3.v = e.src GROUP BY 1),
      |k AS (
      |  SELECT n.v,
      |    COALESCE(w1.w, 0) AS w1, COALESCE(w2.w, 0) AS w2,
      |    COALESCE(w3.w, 0) AS w3, COALESCE(w4.w, 0) AS w4
      |  FROM n LEFT JOIN w1 ON w1.v = n.v LEFT JOIN w2 ON w2.v = n.v
      |         LEFT JOIN w3 ON w3.v = n.v LEFT JOIN w4 ON w4.v = n.v)
      |SELECT CAST(rk AS INTEGER) AS rk, v AS part,
      |       CAST(katz_e9 AS BIGINT) AS katz_e9,
      |       CAST(w1 AS BIGINT) AS w1, CAST(w2 AS BIGINT) AS w2,
      |       CAST(w3 AS BIGINT) AS w3, CAST(w4 AS BIGINT) AS w4
      |FROM (SELECT *,
      |        w1 * 100000000 + w2 * 10000000 + w3 * 1000000 + w4 * 100000
      |          AS katz_e9,
      |        ROW_NUMBER() OVER (ORDER BY w1 * 100000000 + w2 * 10000000
      |          + w3 * 1000000 + w4 * 100000 DESC, v) AS rk
      |      FROM k)
      |WHERE rk <= 20 ORDER BY rk""".stripMargin

  // -------------------------------------------- deterministic walks
  /** Deterministic random-walk corpus over the co-purchase graph —
    * the node2vec/DeepWalk sampling stage (Grover–Leskovec '16) that
    * turns a graph into walk "sentences" for embedding training,
    * made REPRODUCIBLE: at each step the walk picks the neighbor
    * minimizing md5(seed|walk|step|cur|neighbor) — a keyed PRF both
    * engines evaluate identically (the md5-prefix primitive from
    * SKILL lore), with a fixed-width printf tie-break key so even a
    * hash collision can't diverge. 5 seeds × 8 walks × 6 steps; the
    * output is the visit census (visits, distinct walks) per node —
    * the quantity negative-sampling tables and embedding frequency
    * cutoffs are built from.
    *
    * Scale shape: the frontier is walks-sized, each step one equi-join
    * against the src-keyed edge list + one min_by hash aggregate per
    * walk (no sort); per-step localCheckpoint. At corpus scale walks
    * shard by walk_id and the edge side is bucketed by src, so every
    * step reuses one co-partitioning. */
  def randomWalk(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = coPurchaseAdj(spark, sfDir).cache()
    var cur = Tables.part(spark, sfDir).filter(col("p_partkey") <= 5)
      .crossJoin(spark.range(8).select(col("id").as("wid")))
      .select((col("p_partkey") * 10 + col("wid")).as("walk_id"),
        col("p_partkey").as("cur"))
      .localCheckpoint(eager = true)
    var trail = cur.withColumn("t", lit(0))
    // fixed depth 6 over a walks-sized frontier: cache-chain the steps
    // and let the final census action materialize the whole walk in
    // one job (per-step eager checkpoints measured 5 s of pure
    // scheduling overhead on a 40-row frontier)
    val steps = Seq.newBuilder[DataFrame]
    for (t <- 1 to 6) {
      // the frontier is walks-sized; without the checkpoint's exact
      // stats Spark would shuffle the edge frame per step — hint it
      cur = edges.join(broadcast(cur), col("cur") === col("src"))
        .withColumn("hkey",
          Parity.md5Key(concat_ws("|", col("walk_id"), lit(t), col("cur"),
            col("dst"))))
        .groupBy(col("walk_id"))
        .agg(min_by(col("dst"),
          format_string("%020d|%010d", col("hkey"), col("dst"))).as("cur"))
        .cache()
      steps += cur
      trail = trail.unionByName(cur.withColumn("t", lit(t)))
    }
    val out = trail.filter(col("t") >= 1)
      .groupBy(col("cur").as("part"))
      .agg(count(lit(1)).as("visits"),
        count_distinct(col("walk_id")).as("n_walks"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("visits").desc, col("part"))))
      .filter(col("rk") <= 20)
      .select(col("rk"), col("part"), col("visits"), col("n_walks"))
      .orderBy(col("rk"))
      .localCheckpoint(eager = true)
    steps.result().foreach(_.unpersist())
    edges.unpersist()
    out
  }

  private val randomWalkOracle = {
    val step = (t: Int) => {
      val key = s"CAST(walk_id AS VARCHAR) || '|' || $t || '|' || " +
        "CAST(cur AS VARCHAR) || '|' || CAST(e.dst AS VARCHAR)"
      s"""s$t AS (
         |  SELECT walk_id,
         |    arg_min(e.dst, printf('%020d|%010d',
         |      ${Parity.md5KeySql(key)}, e.dst)) AS cur
         |  FROM s${t - 1} JOIN e ON e.src = s${t - 1}.cur
         |  GROUP BY walk_id)""".stripMargin
    }
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |sized AS (SELECT l_orderkey FROM op GROUP BY 1
       |          HAVING COUNT(*) BETWEEN 2 AND 20),
       |e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
       |                         AND a.l_partkey <> b.l_partkey
       |      JOIN sized s ON s.l_orderkey = a.l_orderkey),
       |s0 AS (SELECT p_partkey * 10 + wid AS walk_id, p_partkey AS cur
       |       FROM part
       |       CROSS JOIN (SELECT UNNEST(generate_series(0, 7)) AS wid)
       |       WHERE p_partkey <= 5),
       |${(1 to 6).map(step).mkString(",\n")},
       |trail AS (${(1 to 6).map(t => s"SELECT * FROM s$t")
          .mkString(" UNION ALL ")}),
       |census AS (
       |  SELECT cur AS part, CAST(COUNT(*) AS BIGINT) AS visits,
       |         CAST(COUNT(DISTINCT walk_id) AS BIGINT) AS n_walks
       |  FROM trail GROUP BY 1)
       |SELECT CAST(rk AS INTEGER) AS rk, part, visits, n_walks
       |FROM (SELECT *, ROW_NUMBER() OVER
       |        (ORDER BY visits DESC, part) AS rk
       |      FROM census)
       |WHERE rk <= 20 ORDER BY rk""".stripMargin
  }

  // ------------------------------------------------------ Luby MIS
  /** Luby's maximal-independent-set algorithm ('86) over the
    * co-purchase graph — THE textbook parallel-graph primitive (the
    * basis of parallel coloring, scheduling, and symmetry breaking),
    * made reproducible with the [[randomWalk]] keyed-PRF trick: in
    * round r every undecided node draws priority md5(v|r) and joins
    * the MIS iff its (priority, id) key is strictly smaller than
    * every undecided neighbor's — a pure local minimum test, so a
    * round is one edge join + one min aggregate, no coordination.
    * Winners and their neighbors leave the graph; whp a constant
    * fraction of edges dies per round. Both engines run EXACTLY 8
    * rounds and ship the per-round census (winners, removed
    * neighbors, undecided after) — convergence is visible in the
    * output rather than assumed, and the spec asserts the fixture
    * drains plus independence/maximality by replay.
    *
    * Scale shape: per round one equi-join of the shrinking edge frame
    * against the undecided set + one min-by-key hash aggregate;
    * per-round localCheckpoint; adjacent winners are impossible under
    * a strict total order, so no conflict-resolution pass exists. */
  def lubyMis(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val edges = coPurchaseAdj(spark, sfDir).cache()
    var und = edges.select(col("src").as("v")).distinct()
      .localCheckpoint(eager = true)
    var undCount = und.count()
    val census = Seq.newBuilder[(Long, Long, Long, Long)]
    for (r <- 1 to 8) {
      // drained graph: the remaining rounds are structurally empty in
      // both engines — emit the zero census without scheduling jobs
      // (the oracle's empty CTEs cost nothing; 8 Spark job rounds on
      // an empty frame cost ~2 s of pure scheduling)
      if (undCount == 0L) census += ((r.toLong, 0L, 0L, 0L))
      else {
        val pri = und.withColumn("k", format_string("%020d|%010d",
          expr(Parity.md5KeyExpr(s"concat(CAST(v AS STRING), '|$r')")),
          col("v")))
          .cache()
        // the undecided set shrinks geometrically — broadcast it into
        // the edge restriction so no round shuffles the edge frame
        val er = edges
          .join(broadcast(pri.select(col("v").as("src"))), Seq("src"))
          .join(broadcast(pri.select(col("v").as("dst"),
            col("k").as("nk"))), Seq("dst"))
        val nbrMin = er.groupBy(col("src").as("v"))
          .agg(min(col("nk")).as("nmin"))
        val winners = pri.join(nbrMin, Seq("v"), "left_outer")
          .filter(col("nmin").isNull || col("k") < col("nmin"))
          .select(col("v"))
          .cache()
        val removed = er
          .join(broadcast(winners.withColumnRenamed("v", "src")),
            Seq("src"))
          .select(col("dst").as("v")).distinct()
          .cache()
        val prev = und
        und = und.join(broadcast(winners), Seq("v"), "left_anti")
          .join(broadcast(removed), Seq("v"), "left_anti")
          .localCheckpoint(eager = true)
        undCount = und.count()
        census += ((r.toLong, winners.count(), removed.count(), undCount))
        pri.unpersist(); winners.unpersist(); removed.unpersist()
        freeCheckpoint(prev) // nothing left reads the superseded set
      }
    }
    freeCheckpoint(und)
    edges.unpersist()
    census.result()
      .toDF("round", "n_winners", "n_removed", "n_undecided_after")
      .orderBy(col("round"))
  }

  private val lubyMisOracle = {
    val round = (r: Int) =>
      s"""p$r AS MATERIALIZED (
         |  SELECT v, printf('%020d|%010d',
         |    ${Parity.md5KeySql(s"CAST(v AS VARCHAR) || '|$r'")}, v) AS k
         |  FROM u${r - 1}),
         |m$r AS MATERIALIZED (
         |  SELECT e.src AS v, MIN(pd.k) AS nmin
         |  FROM e JOIN p$r pv ON pv.v = e.src
         |       JOIN p$r pd ON pd.v = e.dst
         |  GROUP BY e.src),
         |w$r AS MATERIALIZED (
         |  SELECT p$r.v FROM p$r LEFT JOIN m$r ON m$r.v = p$r.v
         |  WHERE m$r.v IS NULL OR p$r.k < m$r.nmin),
         |rm$r AS MATERIALIZED (
         |  SELECT DISTINCT e.dst AS v
         |  FROM e JOIN w$r ON w$r.v = e.src
         |       JOIN p$r pd ON pd.v = e.dst),
         |u$r AS MATERIALIZED (
         |  SELECT v FROM u${r - 1}
         |  EXCEPT SELECT v FROM w$r
         |  EXCEPT SELECT v FROM rm$r)""".stripMargin
    s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |sized AS (SELECT l_orderkey FROM op GROUP BY 1
       |          HAVING COUNT(*) BETWEEN 2 AND 20),
       |e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |      FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
       |                         AND a.l_partkey <> b.l_partkey
       |      JOIN sized s ON s.l_orderkey = a.l_orderkey),
       |u0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
       |${(1 to 8).map(round).mkString(",\n")}
       |${(1 to 8).map(r =>
          s"""SELECT CAST($r AS BIGINT) AS round,
             |  (SELECT COUNT(*) FROM w$r) AS n_winners,
             |  (SELECT COUNT(*) FROM rm$r) AS n_removed,
             |  (SELECT COUNT(*) FROM u$r) AS n_undecided_after"""
            .stripMargin).mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_luby_mis" -> (lubyMis _),
    "q_katz" -> (katz _),
    "q_random_walk" -> (randomWalk _),
    "q_bowtie" -> (bowtie _),
    "q_hyperanf" -> (hyperAnf _),
    "q_modularity" -> (modularity _),
    "q_kcore" -> (kcore _),
    "q_hits" -> (hits _),
    "q_shortest_path" -> (shortestPath _),
    "q_widest_path" -> (widestPath _),
    "q_bfs_hops" -> (bfsHops _),
    "q_stress_centrality" -> (stressCentrality _),
    "q_assortativity" -> (assortativity _),
    "q_rich_club" -> (richClub _),
    "q_harmonic_centrality" -> (harmonicCentrality _),
    "q_square_count" -> (squareCount _),
    "q_square_count_capped" -> (squareCountCapped _),
    "q_ktruss" -> (ktruss _),
    "q_pagerank" -> (pagerank _),
    "q_ppr" -> (ppr _),
    "q_triangle_count" -> (triangleCount _),
    "q_clustering_coeff" -> (clusteringCoeff _)
  )

  def oracles: Map[String, String] = Map(
    "q_katz" -> katzOracle,
    "q_luby_mis" -> lubyMisOracle,
    "q_random_walk" -> randomWalkOracle,
    "q_bowtie" -> bowtieOracle,
    "q_hyperanf" -> hyperAnfOracle,
    "q_modularity" -> modularityOracle,
    "q_kcore" -> kcoreOracle,
    "q_hits" -> hitsOracle,
    "q_shortest_path" -> shortestPathOracle,
    "q_widest_path" -> widestPathOracle,
    "q_bfs_hops" -> bfsHopsOracle,
    "q_stress_centrality" -> stressCentralityOracle,
    "q_assortativity" -> assortativityOracle,
    "q_rich_club" -> richClubOracle,
    "q_harmonic_centrality" -> harmonicCentralityOracle,
    "q_square_count" -> squareCountOracle,
    "q_square_count_capped" -> squareCountCappedOracle,
    "q_ktruss" -> ktrussOracle,
    "q_pagerank" -> pagerankOracle,
    "q_ppr" -> pprOracle,
    "q_triangle_count" -> triangleCountOracle,
    "q_clustering_coeff" -> clusteringCoeffOracle
  )
}
