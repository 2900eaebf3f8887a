package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.ops.GraphOps

/** Driver-side ground truth for the unrolled bipartite PageRank: the
  * two propagation hops recomputed with plain Scala maps over the
  * collected edge list, compared at 1e-9 (well below the query's 6 dp
  * rounding, well above double summation-order noise).
  */
class GraphOpsSpec extends SparkSpec {

  test("bfs hops == driver-side breadth-first search") {
    val got = GraphOps.bfsHops(spark, sfTiny).collect()
      .map(r => r.getAs[Int]("dist") -> r.getAs[Long]("n_parts")).toMap
    // rebuild the undirected co-purchase graph driver-side
    val op = Tables.lineitem(spark, sfTiny)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    op.groupBy(_._1).values.foreach { g =>
      val parts = g.map(_._2).distinct
      if (parts.length >= 2 && parts.length <= 20)
        for (a <- parts; b <- parts if a != b)
          adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
    }
    val seeds = Tables.part(spark, sfTiny)
      .filter(col("p_partkey") <= 5).select(col("p_partkey")).collect()
      .map(_.getLong(0))
    val dist = collection.mutable.Map(seeds.map(_ -> 0): _*)
    var frontier = seeds.toSet
    for (h <- 1 to 4) {
      frontier = frontier.flatMap(p => adj.getOrElse(p, Set.empty))
        .filterNot(dist.contains)
      frontier.foreach(p => dist(p) = h)
    }
    val want = dist.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    assert(got == want, s"got $got want $want")
  }

  test("pagerank == driver-side recompute of the two unrolled hops") {
    val edges = Tables.lineitem(spark, sfTiny)
      .select(col("l_orderkey").as("lo"), col("l_suppkey").as("s"))
      .join(Tables.orders(spark, sfTiny)
        .select(col("o_orderkey").as("lo"), col("o_custkey").as("c")), "lo")
      .select("c", "s").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val degC = edges.groupBy(_._1).view.mapValues(_.length).toMap
    val degS = edges.groupBy(_._2).view.mapValues(_.length).toMap
    val nC = degC.size
    val nS = degS.size
    val s1 = edges.groupBy(_._2).view.mapValues(_.map { case (c, _) =>
      (1.0 / nC) / degC(c)
    }.sum).toMap.map { case (s, m) => s -> (0.15 / nS + 0.85 * m) }
    val c1 = edges.groupBy(_._1).view.mapValues(_.map { case (_, s) =>
      s1(s) / degS(s)
    }.sum).toMap.map { case (c, m) => c -> (0.15 / nC + 0.85 * m) }
    val s2 = edges.groupBy(_._2).view.mapValues(_.map { case (c, _) =>
      c1(c) / degC(c)
    }.sum).toMap.map { case (s, m) => s -> (0.15 / nS + 0.85 * m) }

    val got = GraphOps.pagerank(spark, sfTiny).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == s2.keySet)
    got.foreach { case (s, score) =>
      val want = BigDecimal(s2(s))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(score - want) <= 1e-9, s"supplier $s: $score vs $want")
    }
    // rank mass sanity: total supplier mass stays in (0, 1]
    val total = s2.values.sum
    assert(total > 0.0 && total <= 1.0 + 1e-9)
  }

  test("triangle count == driver-side brute force over the pair graph") {
    val edges = ops.DedupOps.dedupSimhash(spark, sfTiny)
      .select(col("d1"), col("d2")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val eset = edges.toSet
    // brute-force closure: for every wedge a<b<c, check the (a,c) edge
    val byLow = edges.groupBy(_._1)
    val triPerNode = collection.mutable.Map.empty[Long, Long]
    for {
      (a, b) <- edges
      (_, c) <- byLow.getOrElse(b, Array.empty[(Long, Long)])
      if eset.contains((a, c))
    } Seq(a, b, c).foreach(n =>
      triPerNode(n) = triPerNode.getOrElse(n, 0L) + 1L)
    val expected = triPerNode.toSeq
      .sortBy { case (id, n) => (-n, id) }.take(20)
    val got = GraphOps.triangleCount(spark, sfTiny).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected,
      s"triangle top-20 differs: got ${got.take(5)} want ${expected.take(5)}")
    // 3 node slots per triangle: participation mass is divisible by 3
    assert(triPerNode.values.sum % 3 == 0)

    // clustering coefficient: same edge list, ratio to wedge capacity
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val gotCc = GraphOps.clusteringCoeff(spark, sfTiny).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(gotCc.keySet == deg.filter(_._2 >= 2).keySet, "node set differs")
    gotCc.foreach { case (n, (d, t, c)) =>
      assert(d == deg(n), s"node $n degree $d != ${deg(n)}")
      assert(t == triPerNode.getOrElse(n, 0L), s"node $n triangles")
      val want = BigDecimal(t.toDouble * 2.0 / (d * (d - 1)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(c - want) <= 1e-9, s"node $n coeff $c != $want")
      assert(c >= 0.0 && c <= 1.0 + 1e-9, s"node $n coeff out of range")
    }
  }

  test("shortest path == driver-side Bellman-Ford on the collected subgraph") {
    val op = Tables.lineitem(spark, sfTiny)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val sized = op.groupBy(col("l_orderkey")).agg(count(lit(1)).as("sz"))
      .filter(col("sz").between(2, 20))
      .select(col("l_orderkey").as("ok"), col("sz"))
    val pairs = op.as("a")
      .join(op.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .join(sized, col("a.l_orderkey") === col("ok"))
      .filter(col("a.l_partkey") <= 400 && col("b.l_partkey") <= 400)
      .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .agg(min(col("sz")).as("w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val adj = (pairs.map(p => (p._1, p._2, p._3)) ++
      pairs.map(p => (p._2, p._1, p._3))).groupBy(_._1)
    var dist = Tables.part(spark, sfTiny).filter(col("p_partkey") <= 3)
      .select(col("p_partkey")).collect().map(_.getLong(0) -> 0L).toMap
    (1 to 3).foreach { _ =>
      val relaxed = dist.toSeq.flatMap { case (u, c) =>
        adj.getOrElse(u, Array.empty).map(e => e._2 -> (c + e._3)) }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, cs) => n -> cs.map(_._2).min }
    }
    val got = GraphOps.shortestPath(spark, sfTiny).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == dist, "distances differ from driver Bellman-Ford")
    assert(got(1L) == 0L && got(2L) == 0L && got(3L) == 0L)
    // non-seed distances are sums of 1..3 order-size weights (2..20 each)
    got.filterNot(p => dist.contains(p._1) && dist(p._1) == 0L && p._2 == 0L)
      .filter(_._2 > 0L)
      .foreach { case (n, c) => assert(c >= 2L && c <= 60L, s"node $n cost $c") }
  }

  test("widest path == driver-side (max, min) semiring relaxation") {
    val op = Tables.lineitem(spark, sfTiny)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val sized = op.groupBy(col("l_orderkey")).agg(count(lit(1)).as("sz"))
      .filter(col("sz").between(2, 20))
      .select(col("l_orderkey").as("ok"))
    val pairs = op.as("a")
      .join(op.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .join(sized, col("a.l_orderkey") === col("ok"))
      .filter(col("a.l_partkey") <= 400 && col("b.l_partkey") <= 400)
      .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .agg(count(lit(1)).as("w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val adj = (pairs ++ pairs.map(p => (p._2, p._1, p._3))).groupBy(_._1)
    var width = Tables.part(spark, sfTiny).filter(col("p_partkey") <= 3)
      .select(col("p_partkey")).collect().map(_.getLong(0) -> 999999L).toMap
    (1 to 3).foreach { _ =>
      val relaxed = width.toSeq.flatMap { case (u, wd) =>
        adj.getOrElse(u, Array.empty).map(e => e._2 -> math.min(wd, e._3)) }
      width = (width.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, ws) => n -> ws.map(_._2).max }
    }
    val got = GraphOps.widestPath(spark, sfTiny).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == width, "widths differ from driver (max, min) relaxation")
    // seeds stay at the infinite sentinel; every reached node's width is
    // a genuine edge capacity (1..#orders) — never the sentinel leaked
    assert(got(1L) == 999999L && got(2L) == 999999L && got(3L) == 999999L)
    got.filterNot { case (n, _) => n <= 3L }.foreach { case (n, wd) =>
      assert(wd >= 1L && wd < 999999L, s"node $n width $wd")
    }
    // semiring sanity vs the (min, +) twin: both reach exactly the
    // 3-hop ball of the same seeds
    val sp = GraphOps.shortestPath(spark, sfTiny).collect()
      .map(_.getLong(0)).toSet
    assert(got.keySet == sp, "the two semirings must reach the same ball")
  }

  /** The names of the SQL actions `body` runs, in order. */
  private def actionsOf[T](body: => T): (T, Seq[String]) = {
    val (out, ran) = Explain.actions(spark)(body)
    (out, ran.map(_.description.takeWhile(_ != ' ')))
  }

  test("relaxation kernel stops after the first idle round, both semirings") {
    import spark.implicits._
    // path 1 -2- 2 -5- 3, both orientations
    val arcs = Seq((1L, 2L, 2L), (2L, 3L, 5L))
      .flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val edges = arcs.toDF("src", "dst", "w").cache()
    def driver(seed: Long, merge: (Long, Long) => Long,
        extend: (Long, Long) => Long): (Map[Long, Long], Int) = {
      var cost = Map(1L -> seed)
      var fresh = cost.keySet
      var rounds = 0
      while (rounds < 4 && fresh.nonEmpty) {
        val next = arcs.filter(e => fresh.contains(e._1))
          .foldLeft(cost) { case (m, (a, b, w)) =>
            val c = extend(cost(a), w)
            m.updated(b, m.get(b).fold(c)(merge(_, c)))
          }
        fresh = next.keySet.filter(n => !cost.get(n).contains(next(n)))
        cost = next
        rounds += 1
      }
      (cost, rounds)
    }
    val lo = (a: Long, b: Long) => math.min(a, b)
    val hi = (a: Long, b: Long) => math.max(a, b)
    for ((semiring, seed, merge, extend) <- Seq(
        (GraphOps.MinPlus, 0L, lo, (c: Long, w: Long) => c + w),
        (GraphOps.MaxMin, 100L, hi, lo))) {
      val seeds = Seq((1L, seed)).toDF("part", "cost")
      val (got, actions) = actionsOf(
        GraphOps.relaxRounds(seeds, edges, 4, semiring)
          .select("part", "cost").as[(Long, Long)].collect().toMap)
      val (want, rounds) = driver(seed, merge, extend)
      assert(got == want)
      // rounds 1-2 reach nodes 2 and 3, round 3 improves nothing
      assert(rounds == 3)
      assert(actions == Seq.fill(rounds)("localCheckpoint") :+ "collect",
        s"actions $actions")
    }
    edges.unpersist()
  }

  test("path queries construct with one localCheckpoint per round, nothing else") {
    GraphOps.bfsHops(spark, sfTiny).collect() // pair frames materialized
    for ((q, maxRounds) <- Seq[(() => Any, Int)](
        (() => GraphOps.bfsHops(spark, sfTiny), 4),
        (() => GraphOps.shortestPath(spark, sfTiny), 3))) {
      val (_, actions) = actionsOf(q())
      assert(actions.nonEmpty && actions.size <= maxRounds + 1, s"$actions")
      assert(actions.forall(_ == "localCheckpoint"), s"$actions")
    }
  }

  test("iterative queries leave no persisted blocks behind") {
    // Dataset.unpersist (and clearCache) cannot free a localCheckpoint:
    // each loop frees its own checkpoints once its result is collected
    // (ids, not a count: the context cleaner may free an earlier test's
    // unreachable blocks meanwhile)
    for (q <- Seq("q_luby_mis", "q_stress_centrality", "q_bowtie")) {
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      SparkEntry.queries(q)(spark, sfTiny).collect()
      spark.catalog.clearCache()
      val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(left.isEmpty, s"$q left ${left.size} persisted RDDs: " +
        left.values.mkString(", "))
    }
  }

  test("a warm bfs hops run compiles no generated class") {
    def run(): Unit = { GraphOps.bfsHops(spark, sfTiny).collect(); () }
    run()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
  }

  test("star contraction: O(log n) rounds on a path where min-label is O(n)") {
    import spark.implicits._
    // one 400-long path (diameter 400 — min-label propagation would
    // need ~400 shuffle rounds), one 3-ring, one 2-clique, shuffled ids
    val path = (0L until 400L).map(i => (i * 7 % 1000 + 2000, (i + 1) * 7 % 1000 + 2000))
      .filter { case (a, b) => a != b }
    val extra = Seq((9001L, 9002L), (9002L, 9003L), (9003L, 9001L), (9101L, 9102L))
    val pairs = (path ++ extra).toDF("d1", "d2")
    val (labels, rounds) = GraphOps.connectedComponentsStar(pairs)
    // the whole point: a 400-diameter component in ≤ 2·log₂(n)+slack
    // alternations, not ~400
    assert(rounds <= 22, s"star contraction took $rounds rounds — lost the log bound")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ground truth: driver-side union-find over the same edges
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (path ++ extra).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb
    }
    val want = parent.keys.map(n => n -> find(n)).toMap
    assert(got.keySet == want.keySet, "node sets differ")
    // same component partition with the same min-id labels
    assert(got == want.map { case (n, r) =>
      n -> want.collect { case (m, rr) if rr == r => m }.min
    }, "star labels differ from union-find components")
    // (agreement with the min-label implementation is pinned by the
    // oracle: q_cc_star and q_dedup_clusters share one recursive-CTE
    // oracle over the real pair graph. Min-label can't run HERE — this
    // path's diameter exceeds its iteration cap by design; that gap is
    // exactly what this test demonstrates.)
  }

  test("star contraction matches union-find on seeded random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(20260813L)
    for (trial <- 1 to 3) {
      val n = 40 + rng.nextInt(60)
      val m = n + rng.nextInt(2 * n)
      val edges = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val (labels, rounds) = GraphOps.connectedComponentsStar(
        edges.toDF("d1", "d2"))
      assert(rounds <= 22, s"trial $trial: $rounds rounds on |V|<=$n")
      val parent = collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb
      }
      val roots = parent.keys.map(k => k -> find(k)).toMap
      val minOfRoot = roots.groupBy(_._2).map { case (r, ms) => r -> ms.keys.min }
      val want = roots.map { case (k, r) => k -> minOfRoot(r) }
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial (n=$n m=$m): labels differ")
    }
  }

  test("hyperanf: sketch profile tracks exact reach within KMV error") {
    val got = GraphOps.hyperAnf(spark, sfTiny).collect()
      .map(r => r.getAs[Int]("hop") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Long]("n_exact"),
          r.getAs[Long]("nf_est")))).toMap
    assert(got.keySet == Set(1, 2, 3))
    // exact balls by driver-side BFS over the same co-purchase graph
    // (distinct order-part membership, order size 2..20)
    val op = Tables.lineitem(spark, sfTiny)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = op.groupBy(_._1).values
      .map(_.map(_._2).distinct).filter(ps => ps.size >= 2 && ps.size <= 20)
    val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    byOrder.foreach { ps =>
      for (a <- ps; b <- ps if a != b)
        adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
    }
    val nodes = adj.keySet
    val exactSum = (1 to 3).map { h =>
      h -> nodes.toSeq.map { s =>
        var ball = Set(s)
        var frontier = Set(s)
        for (_ <- 1 to h) {
          frontier = frontier.flatMap(adj(_).toSet) -- ball
          ball ++= frontier
        }
        ball.size.toLong
      }.sum
    }.toMap
    (1 to 3).foreach { h =>
      val (n, _, est) = got(h)
      assert(n == nodes.size.toLong, s"hop $h node count")
      // k=32 KMV per-ball std error ≈ 1/sqrt(k-2) ≈ 18%; summing over
      // ~|V| balls averages it far down — 10% is generous headroom
      val rel = math.abs(est - exactSum(h)).toDouble / exactSum(h)
      assert(rel <= 0.10, s"hop $h: est $est vs exact ${exactSum(h)} ($rel)")
    }
    // the profile is nondecreasing — balls only grow with hops
    assert(got(1)._3 <= got(2)._3 && got(2)._3 <= got(3)._3)
  }

  test("label propagation: majority rule splits a bridged pair of cliques") {
    import spark.implicits._
    // two 4-cliques {0..3} and {10..13} joined by the single bridge
    // 3–10: connected components glue them into ONE component, but
    // LPA's majority vote keeps two communities — each clique member
    // hears 3 clique votes vs at most 1 bridge vote
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = clique(0L to 3L) ++ clique(10L to 13L) ++ Seq((3L, 10L))
    val pairs = edges.toDF("d1", "d2")
    val lpa = GraphOps.labelPropagation(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa.keySet == (0L to 3L).toSet ++ (10L to 13L).toSet)
    assert((0L to 3L).map(lpa).toSet.size == 1, "left clique must agree")
    assert((10L to 13L).map(lpa).toSet.size == 1, "right clique must agree")
    assert(lpa(0L) != lpa(10L), "bridge must NOT merge the communities")
    val (ccLabels, _) = GraphOps.connectedComponentsStar(pairs)
    assert(ccLabels.collect().map(_.getLong(1)).toSet.size == 1,
      "CC must see one component — the contrast LPA exists for")
    // driver-side synchronous recompute: 4 rounds, (count desc, label
    // asc) tiebreak, neighbors only
    val sym = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    var lab = sym.keys.map(k => k -> k).toMap
    for (_ <- 1 to 4)
      lab = sym.map { case (u, vs) =>
        u -> vs.groupBy(lab).toSeq
          .maxBy { case (l, ms) => (ms.length, -l) }._1
      }
    assert(lpa == lab, s"$lpa != driver recompute $lab")
  }

  test("ppr: localized to the seed 3-hop ball, recompute-exact, mass bounded") {
    val edges = Tables.lineitem(spark, sfTiny)
      .select(col("l_orderkey").as("lo"), col("l_suppkey").as("s"))
      .join(Tables.orders(spark, sfTiny)
        .select(col("o_orderkey").as("lo"), col("o_custkey").as("c")), "lo")
      .select("c", "s").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val degC = edges.groupBy(_._1).view.mapValues(_.length).toMap
    val degS = edges.groupBy(_._2).view.mapValues(_.length).toMap
    val seeds = degC.keySet.filter(_ % 97 == 0)
    assert(seeds.nonEmpty, "fixture must contain at least one seed customer")
    val nSeeds = seeds.size
    val s1 = edges.filter(e => seeds(e._1)).groupBy(_._2).view.mapValues(
      _.map { case (c, _) => (1.0 / nSeeds) / degC(c) }.sum)
      .toMap.map { case (s, m) => s -> 0.85 * m }
    val c1 = edges.filter(e => s1.contains(e._2)).groupBy(_._1).view.mapValues(
      _.map { case (_, s) => s1(s) / degS(s) }.sum)
      .toMap.map { case (c, m) =>
        c -> ((if (seeds(c)) 0.15 / nSeeds else 0.0) + 0.85 * m)
      }
    val s2 = edges.filter(e => c1.contains(e._1)).groupBy(_._2).view.mapValues(
      _.map { case (c, _) => c1(c) / degC(c) }.sum)
      .toMap.map { case (s, m) => s -> 0.85 * m }

    val got = GraphOps.ppr(spark, sfTiny).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // support == exactly the suppliers adjacent to the seeds' 2-hop
    // customer ball — the localization that makes PPR per-user-feasible
    assert(got.keySet == s2.keySet,
      s"ppr support differs from the seed ball: ${got.keySet.size} vs ${s2.keySet.size}")
    got.foreach { case (s, score) =>
      val want = BigDecimal(s2(s))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(score - want) <= 1e-9, s"supplier $s: $score vs $want")
    }
    val total = s2.values.sum
    assert(total > 0.0 && total <= 1.0 + 1e-9, s"ppr mass $total out of range")
  }

  test("stress centrality equals the driver two-pass recompute") {
    // rebuild the co-purchase graph and run Brandes' two passes in
    // plain Scala (exact integers), then compare the top-20 table
    val op = spark.read.parquet(s"$sfTiny/lineitem.parquet")
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sized = op.groupBy(_._1).filter { case (_, xs) =>
      xs.length >= 2 && xs.length <= 20 }.keySet
    val adj = op.filter(p => sized(p._1)).groupBy(_._1).values
      .flatMap { g =>
        for (a <- g.toVector; b <- g.toVector if a._2 != b._2)
          yield (a._2, b._2)
      }
      .toSet.groupBy((e: (Long, Long)) => e._1).view
      .mapValues(_.map(_._2).toVector).toMap
    val stress = scala.collection.mutable.Map.empty[Long, Long]
    // the seed predicate is p_partkey <= 5 over the part TABLE — this
    // testdata's partkeys start at 0, so that is six pivots, not five
    val seeds = spark.read.parquet(s"$sfTiny/part.parquet")
      .filter("p_partkey <= 5").collect().map(_.getLong(0)).sorted
    seeds.foreach { s =>
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      var frontier = Vector(s)
      (1 to 4).foreach { d =>
        val nxt = scala.collection.mutable.Map.empty[Long, Long]
        frontier.foreach { u =>
          adj.getOrElse(u, Vector.empty).foreach { w =>
            if (!dist.contains(w))
              nxt(w) = nxt.getOrElse(w, 0L) + sigma(u)
          }
        }
        nxt.keys.foreach(w => dist(w) = d)
        nxt.foreach { case (w, sg) => sigma(w) = sg }
        frontier = nxt.keys.toVector
      }
      val r = scala.collection.mutable.Map.empty[Long, Long]
      (3 to 0 by -1).foreach { d =>
        dist.filter(_._2 == d).keys.foreach { v =>
          r(v) = adj.getOrElse(v, Vector.empty)
            .filter(w => dist.get(w).contains(d + 1))
            .map(w => 1L + r(w)).sum
        }
      }
      dist.keys.filter(_ != s).foreach { v =>
        val c = sigma(v) * r.getOrElse(v, 0L)
        if (c != 0) stress(v) = stress.getOrElse(v, 0L) + c
      }
    }
    val want = stress.toSeq.filter(_._2 > 0)
      .sortBy { case (p, st) => (-st, p) }.take(20)
    val got = GraphOps.stressCentrality(spark, sfTiny).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, s"got ${got.take(5)}.. want ${want.take(5)}..")
  }

  test("bowtie census == driver-side double reachability sweep") {
    // rebuild the sparsified sequence graph driver-side: full-tuple
    // distinct, (linenumber, partkey, suppkey) sort, consecutive
    // pairs, md5 keep-gate at 10% — then plain BFS both directions
    val rows = Tables.lineitem(spark, sfTiny)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    def gate(s: Long, d: Long): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${s}_$d".getBytes("UTF-8"))
      val hex = md.map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % 100 < 10
    }
    val edges = rows.groupBy(_._1).values.flatMap { g =>
      val seq = g.sortBy(t => (t._2, t._3, t._4)).map(_._3)
      seq.zip(seq.tail).filter(p => p._1 != p._2)
    }.toSet.filter(p => gate(p._1, p._2))
    val nodes = edges.flatMap(p => Set(p._1, p._2))
    val outDeg = edges.groupBy(_._1).view.mapValues(_.size).toMap
    val pivot = nodes.filter(outDeg.contains)
      .minBy(v => (-outDeg(v), v))
    def reach(adj: Map[Long, Set[Long]]): Set[Long] = {
      var vis = Set(pivot); var fr = Set(pivot)
      while (fr.nonEmpty) {
        fr = fr.flatMap(v => adj.getOrElse(v, Set.empty)) -- vis
        vis ++= fr
      }
      vis
    }
    val fwd = reach(edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap)
    val bwd = reach(edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap)
    val scc = fwd intersect bwd
    val got = GraphOps.bowtie(spark, sfTiny).collect().head
    assert(got.getLong(0) == pivot && got.getLong(1) == nodes.size &&
      got.getLong(2) == edges.size && got.getLong(3) == scc.size &&
      got.getLong(4) == (bwd.size - scc.size) &&
      got.getLong(5) == (fwd.size - scc.size) &&
      got.getLong(6) == (nodes.size - (fwd ++ bwd).size),
      s"got $got want pivot=$pivot nodes=${nodes.size} " +
        s"edges=${edges.size} scc=${scc.size}")
  }

  /** Undirected co-purchase half-edges (p1 < p2) rebuilt driver-side —
    * the [[GraphOps.coPurchasePairs]] fixture for the rich-club and
    * square-census replays. */
  private def coPurchaseHalf(): Set[(Long, Long)] = {
    val op = Tables.lineitem(spark, sfTiny)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    op.groupBy(_._1).values.flatMap { g =>
      val parts = g.map(_._2).distinct.sorted
      if (parts.length >= 2 && parts.length <= 20)
        for (i <- parts.indices; j <- (i + 1) until parts.length)
          yield (parts(i), parts(j))
      else Seq.empty
    }.toSet
  }

  test("rich club: curve equals driver-side threshold sweep") {
    val half = coPurchaseHalf()
    val deg = half.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ks = deg.values.toSet ++
      half.map(p => math.min(deg(p._1), deg(p._2)))
    val want = ks.toSeq.sorted.flatMap { k =>
      val nk = deg.values.count(_ > k).toLong
      val ek = half.count(p => deg(p._1) > k && deg(p._2) > k).toLong
      if (nk >= 2)
        Some((k, nk, ek,
          BigDecimal(2.0 * ek / (nk.toDouble * (nk - 1)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      else None
    }
    val got = GraphOps.richClub(spark, sfTiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // the query's threshold grid is the distinct histogram values that
    // survive the N_k >= 2 gate — compare on the intersection of grids
    // plus monotone-N sanity
    val gotMap = got.map(t => t._1 -> t).toMap
    assert(got.map(_._1).toSet == want.map(_._1).toSet,
      "threshold grids diverge")
    want.foreach { w =>
      assert(gotMap(w._1) == w, s"mismatch at k=${w._1}: ${gotMap(w._1)} vs $w")
    }
    assert(got.nonEmpty && got.map(_._2).sliding(2).forall(s =>
      s.length < 2 || s(0) >= s(1)), "N_k must be non-increasing in k")
  }

  test("square count: census equals driver-side common-neighbor fold") {
    val half = coPurchaseHalf()
    val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    half.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, collection.mutable.Set.empty) += a
    }
    // λ_uv over all pairs sharing ≥1 neighbor: fold over wedge centers
    val lam = collection.mutable.Map.empty[(Long, Long), Long]
    adj.foreach { case (_, nbrs) =>
      val s = nbrs.toSeq.sorted
      for (i <- s.indices; j <- (i + 1) until s.length)
        lam((s(i), s(j))) = lam.getOrElse((s(i), s(j)), 0L) + 1L
    }
    val sumC2 = lam.values.map(c => c * (c - 1) / 2).sum
    val rows = GraphOps.squareCount(spark, sfTiny).collect()
    val census = rows.filter(_.getInt(0) == -1).head
    assert(census.getLong(1) == lam.size.toLong, "diagonal pair count")
    assert(census.getLong(2) == sumC2, "sum C(cn,2)")
    assert(census.getLong(3) == lam.values.max, "max common neighbors")
    assert(census.getLong(4) == sumC2 / 2, "square census")
    val top = rows.filter(_.getInt(0) > 0)
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val wantTop = lam.toSeq.map { case ((u, v), c) => (u, v, c) }
      .sortBy(t => (-t._3, t._1, t._2)).take(10).zipWithIndex
      .map { case ((u, v, c), i) => (i + 1, u, v, c) }
    assert(top.toSeq == wantTop, s"top pairs: ${top.take(3).toSeq} vs " +
      s"${wantTop.take(3)}")
  }

  test("harmonic centrality: driver multi-source BFS replay") {
    val got = GraphOps.harmonicCentrality(spark, sfTiny).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val half = coPurchaseHalf()
    val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    half.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, collection.mutable.Set.empty) += a
    }
    val seeds = Tables.part(spark, sfTiny)
      .filter(col("p_partkey") <= 5).collect().map(_.getLong(0))
    val acc = collection.mutable.Map.empty[Long, (Long, Long)]
    seeds.foreach { s =>
      var dist = Map(s -> 0)
      var frontier = Set(s)
      var h = 1
      while (h <= 4 && frontier.nonEmpty) {
        val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
          .filterNot(dist.contains)
        next.foreach(v => dist += v -> h)
        frontier = next; h += 1
      }
      dist.filter(_._2 >= 1).foreach { case (v, d) =>
        val (c, hsum) = acc.getOrElse(v, (0L, 0L))
        acc(v) = (c + 1, hsum + (2000000000L + d) / (2L * d))
      }
    }
    val want = acc.toSeq.map { case (v, (c, hsum)) =>
      (v, c, hsum, adj.get(v).map(_.size.toLong).getOrElse(0L))
    }.sortBy(t => (-t._3, t._1)).take(20).zipWithIndex
      .map { case ((v, c, hsum, dg), i) => (i + 1, v, c, hsum, dg) }
    assert(got.toSeq == want, s"got ${got.take(3).toSeq} want ${want.take(3)}")
  }

  test("katz: walk-count recompute; attenuation ordering holds") {
    val got = GraphOps.katz(spark, sfTiny).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val half = coPurchaseHalf()
    val adjIn = collection.mutable.Map.empty[Long, List[Long]]
    half.foreach { case (a, b) =>
      adjIn(a) = b :: adjIn.getOrElse(a, Nil)
      adjIn(b) = a :: adjIn.getOrElse(b, Nil)
    }
    val nodes = adjIn.keySet
    var wk: Map[Long, BigInt] = nodes.map(_ -> BigInt(1)).toMap
    val perK = (1 to 4).map { _ =>
      // undirected: walks INTO v sum the counts at v's neighbors
      wk = nodes.map(v =>
        v -> adjIn(v).map(u => wk.getOrElse(u, BigInt(0))).sum).toMap
      wk
    }
    val want = nodes.toSeq.map { v =>
      val ws = perK.map(_.getOrElse(v, BigInt(0)))
      val katz = ws(0) * 100000000L + ws(1) * 10000000L +
        ws(2) * 1000000L + ws(3) * 100000L
      (v, katz.toLong, ws(0).toLong, ws(1).toLong, ws(2).toLong,
        ws(3).toLong)
    }.sortBy(t => (-t._2, t._1)).take(20).zipWithIndex
      .map { case ((v, k, w1, w2, w3, w4), i) =>
        (i + 1, v, k, w1, w2, w3, w4) }
    assert(got.toSeq == want, s"got ${got.take(3).toSeq} want ${want.take(3)}")
  }

  test("luby MIS: replay census; independence and maximality hold") {
    val got = GraphOps.lubyMis(spark, sfTiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val half = coPurchaseHalf()
    val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    half.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, collection.mutable.Set.empty) += a
    }
    def hkey(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 15), 16)
    }
    var und = adj.keySet.toSet
    val mis = collection.mutable.Set.empty[Long]
    val want = (1 to 8).map { r =>
      val key = und.map(v => v -> f"${hkey(s"$v|$r")}%020d|$v%010d").toMap
      val winners = und.filter { v =>
        val nbrs = adj(v).filter(und)
        nbrs.isEmpty || nbrs.forall(u => key(v) < key(u))
      }
      val removed = winners.flatMap(v => adj(v).filter(und)) -- winners
      mis ++= winners
      und = und -- winners -- removed
      (r.toLong, winners.size.toLong, removed.size.toLong,
        und.size.toLong)
    }
    assert(got.toSeq == want, s"census got ${got.toSeq} want $want")
    // the fixture must drain within 8 rounds, the result must be
    // independent (no edge inside MIS) and maximal (every non-MIS
    // node has a MIS neighbor)
    assert(und.isEmpty, "undecided nodes remain after 8 rounds")
    half.foreach { case (a, b) =>
      assert(!(mis(a) && mis(b)), s"adjacent MIS pair $a-$b") }
    adj.keys.foreach { v =>
      assert(mis(v) || adj(v).exists(mis), s"non-maximal at $v") }
  }

  test("random walk: deterministic md5 replay reproduces the census") {
    val got = GraphOps.randomWalk(spark, sfTiny).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val half = coPurchaseHalf()
    val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    half.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, collection.mutable.Set.empty) += a
    }
    def hkey(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 15), 16)
    }
    val seeds = Tables.part(spark, sfTiny)
      .filter(col("p_partkey") <= 5).collect().map(_.getLong(0))
    val visits = collection.mutable.Map.empty[Long, (Long, Set[Long])]
    for (s <- seeds; wid <- 0 until 8) {
      val walkId = s * 10 + wid
      var cur = s
      for (t <- 1 to 6) {
        cur = adj(cur).toSeq.map { nb =>
          (f"${hkey(s"$walkId|$t|$cur|$nb")}%020d|$nb%010d", nb)
        }.min._2
        val (c, ws) = visits.getOrElse(cur, (0L, Set.empty[Long]))
        visits(cur) = (c + 1, ws + walkId)
      }
    }
    val want = visits.toSeq
      .map { case (v, (c, ws)) => (v, c, ws.size.toLong) }
      .sortBy(t => (-t._2, t._1)).take(20).zipWithIndex
      .map { case ((v, c, w), i) => (i + 1, v, c, w) }
    assert(got.toSeq == want, s"got ${got.take(3).toSeq} want ${want.take(3)}")
  }
}
