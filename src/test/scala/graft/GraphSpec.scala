package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphBridge
import graft.ops.GraphOps

class GraphSpec extends SparkSpec {

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def df(pairs: Seq[(Long, Long)], names: (String, String)): DataFrame = {
    import spark.implicits._
    pairs.toDF(names._1, names._2)
  }

  // --- golden fixtures (SURVEY.md §5.2): path 1-2-3, pair 5-6, singleton 9 ---
  private val fixtureV = Seq(1L, 2L, 3L, 5L, 6L, 9L)
  private val fixtureE = Seq((1L, 2L), (2L, 3L), (5L, 6L))

  /** The co-purchase graph as directed (a, b) rows, both directions. */
  private def cpBoth: DataFrame = {
    import spark.implicits._
    val cp = GraphOps.copurchase(spark, sf).select($"a", $"b")
    cp.unionAll(cp.select($"b".as("a"), $"a".as("b")))
  }

  /** The two regimes of every GraphAlgebra loop: the CSR kernel at the
    * default broadcast gate, the DataFrame loop with the gate at 0.
    */
  private val gates = Seq(api.GraphAlgebra.BroadcastMaxRows, 0L)

  /** The landmark frame the registry ops build: the n smallest part ids. */
  private def landmarks(n: Int): DataFrame = {
    import spark.implicits._
    Tables.part(spark, sf).orderBy($"p_partkey").limit(n)
      .select($"p_partkey".as("src"))
  }

  test("GraphBridge.connectedComponents: min-label components on fixture") {
    import spark.implicits._
    val v = fixtureV.toDF("id")
    val comps = GraphBridge.connectedComponents(spark, v, df(fixtureE, ("a", "b")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("GraphBridge.shortestHops: BFS depths on fixture (undirected)") {
    import spark.implicits._
    val v = fixtureV.toDF("id")
    val both = fixtureE ++ fixtureE.map(_.swap)
    val d = GraphBridge.shortestHops(spark, v, df(both, ("a", "b")), src = 1L, maxHops = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("graph_cc: labels are min ids and constant across every edge") {
    import spark.implicits._
    val comps = q("graph_cc").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    comps.foreach { case (part, comp) => assert(comp <= part) }
    GraphOps.copurchase(spark, sf).filter($"w" >= 2).select($"a", $"b")
      .collect().foreach { r =>
        assert(comps(r.getLong(0)) === comps(r.getLong(1)),
          s"edge ${r.getLong(0)}-${r.getLong(1)} crosses components")
      }
  }

  test("graph_sssp: source at 0, neighbors of source at 1, dist <= 6") {
    import spark.implicits._
    val d = q("graph_sssp").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d(1L) === 0L)
    val nbrs = GraphOps.copurchase(spark, sf)
      .filter($"a" === 1 || $"b" === 1).collect()
      .map(r => if (r.getLong(0) == 1L) r.getLong(1) else r.getLong(0))
    nbrs.foreach(n => assert(d(n) === 1L, s"neighbor $n of source not at dist 1"))
    d.values.foreach(v => assert(v >= 0 && v <= 6))
  }

  test("graph_triangles: matches GraphX TriangleCount on the same graph") {
    import spark.implicits._
    import org.apache.spark.graphx.{Edge, Graph}
    val ours = q("graph_triangles").collect().head.getLong(0)
    val cp = GraphOps.copurchase(spark, sf).select($"a", $"b")
    val eRDD = cp.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val g = Graph.fromEdges(eRDD, 1)
    val gx = g.triangleCount().vertices.map(_._2.toLong).sum() / 3
    assert(ours === gx.toLong, s"ours=$ours graphx=$gx")
  }

  test("graph_sssp_df: DataFrame frontier BFS equals GraphX ShortestPaths") {
    val graphx = q("graph_sssp").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val df = q("graph_sssp_df").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(df === graphx)
  }

  test("graph_pagerank: integer power iteration tracks GraphX staticPageRank") {
    import spark.implicits._
    val rows = q("graph_pagerank").collect()
    val ours = rows.map(_.getLong(0)).toSeq
    // independent float path: the GraphX Pregel implementation (the library
    // surface for graphs too big for a 10-deep DataFrame lineage)
    val cp = GraphOps.copurchase(spark, sf).select($"a", $"b")
    val both = cp.unionAll(cp.select($"b".as("a"), $"a".as("b")))
    val graphx = graph.GraphBridge.pageRank(
        spark, Tables.part(spark, sf).select($"p_partkey"), both, iters = 10)
      .orderBy($"rank".desc, $"id").limit(10).collect().map(_.getLong(0)).toSet
    val overlap = ours.take(5).count(graphx.contains)
    assert(overlap >= 3, s"top-5 integer ranks $ours vs GraphX top-10 $graphx")
    // rank mass is conserved up to integer-truncation loss: top rank must
    // stay a sane fraction of the 1e12 total
    val top = rows.map(_.getLong(1))
    assert(top.head > 0L && top.head < PrTotalMass)
    assert(top.zip(top.tail).forall { case (a, b) => a >= b })
  }

  private val PrTotalMass = 1000000000000L

  test("graph_ppr: the personalization source tops its own ranking") {
    val rows = q("graph_ppr").collect()
    assert(rows.nonEmpty)
    assert(rows.head.getLong(0) === 1L, s"source should rank first, got ${rows.head}")
    val ranks = rows.map(r => r.getLong(r.fieldIndex("rank_scaled")))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b })
  }

  test("GraphAlgebra.labelPropagation: hand-computed 4-round labels on the fixture") {
    import spark.implicits._
    val v = fixtureV.toDF("part")
    val labels = graft.api.GraphAlgebra
      .labelPropagation(v, df(fixtureE, ("a", "b")), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // synchronous LPA oscillates with period 2 on bipartite structures; at
    // the even round the path 1-2-3 sits at {1:1, 2:2, 3:1} (endpoints took
    // the middle's label and gave it theirs twice over), the pair and the
    // singleton hold their own labels
    assert(labels === Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 5L -> 5L, 6L -> 6L, 9L -> 9L))
  }

  test("graph_lpa: every community label is an existing part id") {
    import spark.implicits._
    val rows = q("graph_lpa")
    assert(rows.count() > 0)
    val orphans = rows.join(
      graft.Tables.part(spark, sf).select($"p_partkey".as("community")),
      Seq("community"), "left_anti").count()
    assert(orphans === 0L, s"$orphans labels are not vertex ids")
  }

  test("graph_ppr_batch: each source tops its own ranking, 5 rows per source") {
    val rows = q("graph_ppr_batch").collect()
    val bySrc = rows.groupBy(_.getLong(0))
    assert(bySrc.keySet === Set(1L, 2L, 3L, 4L, 5L))
    bySrc.foreach { case (src, rs) =>
      assert(rs.length === 5, s"source $src: ${rs.length} rows")
      assert(rs.head.getLong(1) === src, s"source $src should top its own ranking")
    }
  }

  test("graph_jaccard_nodes: jaccard bounded by 1 and consistent with counts") {
    q("graph_jaccard_nodes").collect().foreach { r =>
      val j = r.getDouble(r.fieldIndex("jac"))
      assert(j > 0 && j <= 1.0)
    }
  }

  test("graph_khop_2: hops are 1 or 2 and hop-1 set equals cohort purchases") {
    import spark.implicits._
    val rows = q("graph_khop_2").collect()
    rows.foreach(r => assert(Set(1L, 2L).contains(r.getLong(1))))
    val adj = GraphOps.edges(spark, sf)
    val p1 = adj.join(
        Tables.customer(spark, sf).filter($"c_mktsegment" === "BUILDING")
          .select($"c_custkey".as("src")), "src")
      .select($"dst").distinct().collect().map(_.getLong(0)).toSet
    val got1 = rows.filter(_.getLong(1) == 1L).map(_.getLong(0)).toSet
    assert(got1 === p1)
  }

  test("graph_degree: customer-side degrees sum to edge count") {
    val rows = q("graph_degree").collect()
    val cDeg = rows.filter(_.getString(0) == "c").map(r => r.getLong(r.fieldIndex("degree"))).sum
    val pDeg = rows.filter(_.getString(0) == "p").map(r => r.getLong(r.fieldIndex("degree"))).sum
    val edges = GraphOps.edges(spark, sf).count()
    assert(cDeg === edges)
    assert(pDeg === edges)
  }

  test("graph_trending: scores are positive and descending") {
    val scores = q("graph_trending").collect().map(r => r.getDouble(r.fieldIndex("score")))
    assert(scores.nonEmpty)
    assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
  }

  test("graph_trending: exp quantization sits far from its floor boundary (cross-libm margin pin)") {
    import spark.implicits._
    // qexp = floor(exp(Δ/7)·1e8 + 0.5): deterministic across libms only
    // if each distinct Δ's scaled value is far from an integer boundary
    // (drift ≤ ~5e-8 scaled). Measured at the driver gate's sf0.01.
    def margin(x: Double): Double = { val f = x - math.floor(x); math.min(f, 1.0 - f) }
    val gate = "/root/testdata/sf0.01"
    val days = Tables.events(spark, gate)
      .select(expr("unix_millis(ts) div 86400000").as("day"))
    val maxDay = days.agg(max($"day")).collect()(0).getLong(0)
    val deltas = days.select(($"day" - maxDay).as("d")).distinct().collect().map(_.getLong(0))
    val m = deltas.map(d => margin(math.exp(d / 7.0) * 1e8 + 0.5)).min
    assert(m > 1e-4, s"qexp margin $m")
    // the value centi-quantization is a basic-op floor (zero cross-libm
    // risk) — assert the data really is 2-decimal so it stays EXACT
    val vals = Tables.events(spark, gate).select($"value").distinct().collect().map(_.getDouble(0))
    val mv = vals.map(v => margin(v * 100.0 + 0.5)).min
    assert(mv > 0.49, s"value not 2-decimal currency: margin $mv")
  }

  test("graph_kcore: fixed-round peel is converged, members verified by induced degree") {
    // registry k=68: at sf0.001 the peel cascades 188→183→178→177→176 and
    // membership is stable from round 5 on (verified against DuckDB). The
    // emitted degree is recomputed over the FINAL survivor set (r7: the
    // post-loop pass added per r6 ADVICE), so (id, deg) is exact at any
    // converged rounds — the fixpoint pin rounds=6 ≡ rounds=7 covers both
    // membership and degree.
    val r7 = GraphOps.kcoreFixed(spark, sf, k = 68, rounds = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r6 = q("graph_kcore").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r6 === r7, "peel must reach its fixpoint within the fixed rounds")
    assert(r6.nonEmpty)
    // independent verification: recompute each member's degree within the
    // member set from the raw pair list
    val members = r6.map(_._1)
    val cp = GraphOps.copurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val induced = cp.filter(e => members(e._1) && members(e._2))
    val deg = induced.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (v, xs) => (v, xs.length.toLong) }
    assert(r6.forall { case (v, d) => deg.getOrElse(v, 0L) == d && d >= 68L })
  }

  test("graph_core_number: levels are the true nested fixpoints, verified by a JVM peel") {
    import spark.implicits._
    val got = q("graph_core_number").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    val cp = GraphOps.copurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // JVM reference: peel each level to its TRUE fixpoint (nested, like
    // the op) — also pins that 6 fixed rounds per level converged
    var pairs = cp
    var expect = cp.flatMap(e => Seq(e._1, e._2)).distinct
      .map(_ -> 0L).toMap
    for (k <- Seq(16, 48, 64, 72)) {
      var alive = pairs.flatMap(e => Seq(e._1, e._2)).toSet
      var changed = true
      while (changed) {
        val deg = pairs.filter(e => alive(e._1) && alive(e._2))
          .flatMap(e => Seq(e._1, e._2)).groupBy(identity)
          .map { case (v, xs) => (v, xs.length) }
        val next = alive.filter(v => deg.getOrElse(v, 0) >= k)
        changed = next != alive
        alive = next
      }
      pairs = pairs.filter(e => alive(e._1) && alive(e._2))
      alive.foreach(v => expect += v -> k.toLong)
    }
    assert(got === expect, "core levels must match the nested JVM fixpoints")
    // the profile found real stratification on this graph
    assert(got.values.toSet.size > 1, "all nodes at one level — degenerate")
  }

  test("kcorePeel equals a JVM brute-force peel on random graphs (3 seeds)") {
    import spark.implicits._
    for (seed <- Seq(7L, 42L, 1234L)) {
      val rnd = new scala.util.Random(seed)
      val n = 10 + rnd.nextInt(5)
      val pairs = (for {
        a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.35
      } yield (a.toLong, b.toLong)).distinct
      val k = 2 + rnd.nextInt(2)
      // JVM reference: peel to the true fixpoint
      var alive = pairs.flatMap(e => Seq(e._1, e._2)).toSet
      var changed = true
      while (changed) {
        val deg = pairs.filter(e => alive(e._1) && alive(e._2))
          .flatMap(e => Seq(e._1, e._2)).groupBy(identity)
          .map { case (v, xs) => (v, xs.length) }
        val next = alive.filter(v => deg.getOrElse(v, 0) >= k)
        changed = next != alive
        alive = next
      }
      val expect = pairs.filter(e => alive(e._1) && alive(e._2))
        .flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (v, xs) => (v, xs.length.toLong) }.toSet
      // n rounds always suffice: each non-converged round removes >= 1 vertex
      val got = GraphOps.kcorePeel(pairs.toDF("a", "b"), k, rounds = n).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expect, s"seed=$seed n=$n k=$k")
    }
  }

  /** A random canonical (a < b) edge list over vertices 0 until n, and the
    * vertex count: the 4 graphs of the shared-neighbour and k-truss tests.
    */
  private def randomPairs(seed: Long): (Seq[(Long, Long)], Int) = {
    val rnd = new scala.util.Random(seed)
    val n = 12 + rnd.nextInt(5)
    val pairs = for {
      a <- 0 until n; b <- (a + 1) until n if rnd.nextDouble() < 0.45
    } yield (a.toLong, b.toLong)
    (pairs, n)
  }

  private val kernelSeeds = Seq(3L, 17L, 99L, 2024L)

  test("sharedNeighbors equals a plain-Scala set intersection on random graphs (4 seeds)") {
    import spark.implicits._
    import api.GraphAlgebra.{mirrored, sharedNeighbors}
    for (seed <- kernelSeeds) {
      val (pairs, n) = randomPairs(seed)
      val rnd = new scala.util.Random(seed + 1)
      // queried pairs: every edge, plus random pairs over n + 3 ids, so
      // some endpoints are isolated (absent from every nbrs frame) and
      // some pairs are not edges
      val queried = (pairs ++ Seq.fill(40)(
        (rnd.nextInt(n + 3).toLong, rnd.nextInt(n + 3).toLong))).distinct
      val oriented = pairs.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
      val full = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
        .map { case (v, xs) => v -> xs.map(_._2).toSet }
      val e = pairs.toDF("a", "b")
      for ((name, nbrs, nbrMap) <- Seq(
          ("oriented", e, oriented), ("full", mirrored(e), full))) {
        val expect = queried.collect {
          case (a, b) if nbrMap.contains(a) && nbrMap.contains(b) =>
            (a, b, (nbrMap(a) & nbrMap(b)).size.toLong,
              nbrMap(a).size.toLong, nbrMap(b).size.toLong)
        }.toSet
        assert(expect.exists(_._3 > 0), s"seed=$seed $name: no shared neighbour at all")
        assert(expect.size < queried.size, s"seed=$seed $name: no pair was dropped")
        val nbrRows = nbrMap.values.map(_.size.toLong).sum
        // the true row count broadcasts the arrays; a count above the
        // gate keeps both attaches on the shuffle path
        for (rows <- Seq(nbrRows, Long.MaxValue)) {
          val got = sharedNeighbors(queried.toDF("a", "b"), nbrs, rows).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          assert(got.length === expect.size, s"seed=$seed $name rows=$rows")
          assert(got.toSet === expect, s"seed=$seed $name rows=$rows")
        }
      }
    }
  }

  test("ktruss equals a plain-Scala peel to the fixpoint on random graphs (k = 3, 4)") {
    import spark.implicits._
    val shapes = for (seed <- kernelSeeds; k <- Seq(3, 4)) yield {
      val (pairs, _) = randomPairs(seed)
      def supports(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
        val nb = es.toSeq.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
          .map { case (v, xs) => v -> xs.map(_._2).toSet }
        es.map(e => e -> (nb(e._1) & nb(e._2)).size.toLong).toMap
      }
      var alive = pairs.toSet
      var rounds = 0
      var changed = true
      while (changed) {
        val next = supports(alive).filter(_._2 >= k - 2).keySet
        changed = next != alive
        if (changed) rounds += 1
        alive = next
      }
      val expect = supports(alive).map { case ((a, b), s) => (a, b, s) }.toSet
      // the peel is at its fixpoint after `rounds` rounds, so one more
      // round changes nothing
      for (r <- Seq(rounds, rounds + 1).filter(_ >= 1)) {
        val got = api.GraphAlgebra.ktruss(pairs.toDF("a", "b"), k, r).collect()
          .map(row => (row.getLong(0), row.getLong(1), row.getLong(2))).toSet
        assert(got === expect, s"seed=$seed k=$k rounds=$r")
      }
      (rounds, expect.size)
    }
    assert(shapes.exists { case (r, n) => r >= 1 && n > 0 },
      s"vacuous: no graph both peels and keeps edges ($shapes)")
  }

  /** The co-purchase graph's full neighbour sets, from its raw pairs. */
  private def copurchaseNbrs(): (Seq[(Long, Long)], Map[Long, Set[Long]]) = {
    val cp = GraphOps.copurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    (cp, (cp ++ cp.map(_.swap)).groupBy(_._1)
      .map { case (v, xs) => v -> xs.map(_._2).toSet })
  }

  test("graph_local_cc: degree, triangles and ppm coefficient recompute from the raw adjacency") {
    val (_, nbrs) = copurchaseNbrs()
    val all = nbrs.toSeq.collect { case (v, ns) if ns.size >= 2 =>
      val d = ns.size.toLong
      val tri = ns.toSeq.map(u => (ns & nbrs(u)).size.toLong).sum / 2
      (v, d, tri, 2 * tri * 1000000L / (d * (d - 1)))
    }
    val expect = all.sortBy(t => (-t._4, t._1)).take(20)
    val got = q("graph_local_cc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.nonEmpty)
    assert(got.exists(_._3 > 0), "vacuous: no triangle at any reported vertex")
    assert(got === expect)
  }

  test("graph_local_bridges: edge count, bridge count and share recompute from the raw adjacency") {
    val (cp, nbrs) = copurchaseNbrs()
    val bridges = cp.count { case (a, b) => (nbrs(a) & nbrs(b)).isEmpty }.toLong
    val r = q("graph_local_bridges").collect()
    assert(r.length === 1)
    assert(r.head.getLong(0) === cp.length.toLong)
    // every co-purchase edge at the suite's scale closes a triangle, so
    // the bridge count is 0 here; the kernel test covers 0-support pairs
    assert(r.head.getLong(1) === bridges)
    assert(r.head.getDouble(2) ===
      math.floor(bridges.toDouble / cp.length * 10000.0 + 0.5) / 10000.0)
  }

  test("graph_edge_embeddedness: ppm jaccard recomputes from the raw adjacency") {
    import spark.implicits._
    val cp = graft.ops.GraphOps.copurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nbrs = (cp ++ cp.map(_.swap)).groupBy(_._1)
      .map { case (v, xs) => v -> xs.map(_._2).toSet }
    val got = q("graph_edge_embeddedness").collect()
    assert(got.length > 0)
    got.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val common = (nbrs(a) intersect nbrs(b)).size.toLong
      val (da, db) = (nbrs(a).size.toLong, nbrs(b).size.toLong)
      assert(r.getLong(2) === common, s"common of $a-$b")
      assert(r.getLong(3) === da && r.getLong(4) === db, s"deg of $a-$b")
      val denom = da + db - 2 - common
      val ppm = if (denom > 0) common * 1000000L / denom else 1000000L
      assert(r.getLong(5) === ppm, s"ppm of $a-$b")
    }
  }

  test("graph_hits: fixture scores recompute exactly via JVM integer arithmetic") {
    val S = 1000000000000L
    val rows = q("graph_hits").collect()
    assert(rows.length === 40)
    // pure-JVM mirror of the 6-iteration integer recurrence
    val e = GraphOps.edges(spark, sf).collect().map(r => (r.getLong(0), r.getLong(1)))
    var h = e.map(_._1).distinct.map(c => c -> S).toMap
    var a = Map.empty[Long, Long]
    def norm(m: Map[Long, Long]): Map[Long, Long] = {
      val qd = math.max(1L, m.values.max / S)
      m.map { case (k, v) => k -> v / qd }
    }
    for (_ <- 1 to 6) {
      a = norm(e.groupBy(_._2).map { case (p, es) => p -> es.map(x => h(x._1)).sum })
      h = norm(e.groupBy(_._1).map { case (c, es) => c -> es.map(x => a(x._2)).sum })
    }
    rows.foreach { r =>
      val ref = if (r.getString(0) == "p") a else h
      assert(ref(r.getLong(1)) === r.getLong(2),
        s"${r.getString(0)}/${r.getLong(1)}")
    }
    // and the top-20 cut is the true ordering of the reference scores
    val topP = a.toSeq.sortBy { case (id, x) => (-x, id) }.take(20).map(_._1)
    assert(rows.filter(_.getString(0) == "p").map(_.getLong(1)).toSeq === topP
      .sortBy(id => (-a(id), id)))
  }

  test("graph_eigencentrality: fixture scores recompute via JVM integer arithmetic") {
    val S = 1000000000000L
    val rows = q("graph_eigencentrality").collect()
    assert(rows.length === 20)
    val cp = GraphOps.copurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val e2 = cp ++ cp.map(e => (e._2, e._1))
    var x = e2.map(_._1).distinct.map(_ -> S).toMap
    for (_ <- 1 to 6) {
      val raw = e2.groupBy(_._1).map { case (a, es) => a -> es.map(e => x(e._2)).sum }
      val qd = math.max(1L, raw.values.max / S)
      x = raw.map { case (k, v) => k -> v / qd }
    }
    rows.foreach { r => assert(x(r.getLong(0)) === r.getLong(1)) }
    val top = x.toSeq.sortBy { case (id, v) => (-v, id) }.take(20).map(_._1)
    assert(rows.map(_.getLong(0)).toSeq === top)
  }

  test("graph_ego_net: exactly the induced edges of the seed's 1-hop ball") {
    val rows = q("graph_ego_net").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.nonEmpty)
    val cp = GraphOps.copurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ball = cp.collect {
      case (a, b, _) if a == 1L => b
      case (a, b, _) if b == 1L => a
    }.toSet + 1L
    val induced = cp.filter(e => ball(e._1) && ball(e._2)).toSet
    assert(rows === induced)
    // the seed's own edges are a subset (seed is in the ball)
    assert(cp.filter(e => e._1 == 1L || e._2 == 1L).toSet.subsetOf(rows))
  }

  /** GraphX ShortestPaths from one source over the co-purchase graph:
    * (src, id, dist) for every part within `maxHops`, the source at 0.
    * The witness for the landmark ops, independent of GraphAlgebra's
    * frontier loop.
    */
  private def graphxHops(src: Long, maxHops: Int): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    GraphBridge.shortestHops(spark, Tables.part(spark, sf).select($"p_partkey"),
        cpBoth, src, maxHops)
      .collect().map(r => (src, r.getLong(0), r.getLong(1))).toSeq
  }

  test("graph_eccentricity: max-fold over the same landmark distances as closeness") {
    val ecc = q("graph_eccentricity").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ecc.nonEmpty)
    val lm = Tables.part(spark, sf).select("p_partkey").collect()
      .map(_.getLong(0)).sorted.take(8)
    val perSource = lm.flatMap(src => graphxHops(src, 6))
    val exp = perSource.groupBy(_._2).map { case (id, xs) =>
      id -> (xs.length.toLong, xs.map(_._3).max)
    }
    assert(ecc === exp)
    // landmarks themselves appear with their self-distance 0 counted
    lm.foreach(l => assert(ecc.contains(l)))
  }

  test("graph_closeness: one multi-source pass equals 8 single-source BFS runs") {
    val got = q("graph_closeness").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.nonEmpty)
    // landmark set = 8 smallest part ids
    val lm = Tables.part(spark, sf).select("p_partkey").collect()
      .map(_.getLong(0)).sorted.take(8)
    // per-landmark single-source BFS through GraphX ShortestPaths
    val perSource = lm.flatMap(src => graphxHops(src, 6))
    val exp = perSource.filter(_._3 > 0).groupBy(_._2).map { case (id, xs) =>
      id -> (xs.length.toLong,
        xs.map(x => (2000000000L + x._3) / (2L * x._3)).sum)
    }
    assert(got === exp)
    // a landmark's own row (if present) counts only OTHER landmarks
    got.foreach { case (_, (n, _)) => assert(n >= 1L && n <= 8L) }
  }

  test("graph_hop_histogram: pair counts reconcile with closeness/eccentricity reach") {
    import spark.implicits._
    val rows = q("graph_hop_histogram").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.nonEmpty && rows.forall(r => r._1 >= 1 && r._1 <= 6))
    // total pairs equal the closeness op's reach (same traversal, d > 0)
    val reach = q("graph_closeness").collect().map(_.getLong(1)).sum
    assert(rows.map(_._2).sum === reach)
    // cum_share monotone to 1.0; quantization recomputes
    var cum = 0L
    val tot = rows.map(_._2).sum
    rows.foreach { case (_, n, share) =>
      cum += n
      assert(share === math.floor(cum.toDouble / tot * 10000.0 + 0.5) / 10000.0)
    }
    assert(rows.last._3 === 1.0)
  }

  test("graph_bfs_tree: parents are valid previous-level neighbors; levels partition reachability") {
    import spark.implicits._
    val rows = q("graph_bfs_tree").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(rows.nonEmpty)
    val edges = graft.ops.GraphOps.copurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(e => (e._2, e._1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val seeds = Tables.part(spark, sf).select($"p_partkey").collect()
      .map(_.getLong(0)).filter(_ < 5).toSet
    // JVM BFS with min-parent rule
    val l0 = seeds
    val l1 = l0.flatMap(adj.getOrElse(_, Set.empty)) -- l0
    val l2 = l1.flatMap(adj.getOrElse(_, Set.empty)) -- l0 -- l1
    val byHop = rows.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byHop.getOrElse(0L, Set.empty) === l0)
    assert(byHop.getOrElse(1L, Set.empty) === l1)
    assert(byHop.getOrElse(2L, Set.empty) === l2)
    rows.foreach { case (node, hop, parent) =>
      if (hop == 0L) assert(parent.isEmpty)
      else {
        val prev = if (hop == 1L) l0 else l1
        val expParent = adj(node).intersect(prev).min
        assert(parent === Some(expParent), s"node $node parent")
      }
    }
  }

  test("graph_triangle_sample: deterministic sample recomputes; estimate scales by 64") {
    import spark.implicits._
    val r = q("graph_triangle_sample").collect().head
    val (ne, ns, ts0, est, exact) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(est === ts0 * 64)
    assert(exact === q("graph_triangles").collect().head.getLong(0))
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val edges = graft.ops.GraphOps.copurchase(spark, sf).collect()
      .map(row => (row.getLong(0), row.getLong(1)))
    assert(ne === edges.length.toLong)
    val sampled = edges.filter { case (a, b) =>
      java.lang.Long.parseLong(md5hex(s"${a}_$b").substring(0, 4), 16) % 4 == 0
    }
    assert(ns === sampled.length.toLong, "sampled edge count")
    // sampled triangle count recomputes on the sampled simple graph
    val sset = sampled.toSet
    val adj = sampled.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expTs = sampled.map { case (a, b) =>
      (adj.getOrElse(a, Set.empty) & adj.getOrElse(b, Set.empty)).size.toLong
    }.sum
    assert(ts0 === expTs, "sampled triangles")
    assert(r.getDouble(5) ===
      math.floor((est - exact).toDouble / exact * 10000.0 + 0.5) / 10000.0)
  }

  test("graph_transitivity: closed-wedge ratio reconciles with graph_triangles and degrees") {
    import spark.implicits._
    val r = q("graph_transitivity").collect()
    assert(r.length === 1)
    val (wedges, tris) = (r.head.getLong(0), r.head.getLong(1))
    // triangles agree with the standalone graph_triangles op
    val triOp = q("graph_triangles").collect().head.getLong(0)
    assert(tris === triOp)
    // wedges recompute from degrees
    val edges = graft.ops.GraphOps.copurchase(spark, sf).collect()
      .map(row => (row.getLong(0), row.getLong(1)))
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.length.toLong)
    val expWed = deg.values.map(d => d * (d - 1) / 2).sum
    assert(wedges === expWed)
    if (wedges > 0) {
      val t = r.head.getDouble(2)
      assert(t === math.floor(tris * 3.0 / wedges * 10000.0 + 0.5) / 10000.0)
      assert(t >= 0.0 && t <= 1.0)
    }
  }

  test("graph_knn_degree: average neighbor degree per class recomputes exactly") {
    import spark.implicits._
    val rows = q("graph_knn_degree").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.nonEmpty)
    val edges = graft.ops.GraphOps.copurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(e => (e._2, e._1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSeq).toMap
    val deg = adj.view.mapValues(_.length.toLong).toMap
    val byK = adj.toSeq.map { case (u, nbrs) =>
      (deg(u), nbrs.map(deg).sum)
    }.groupBy(_._1)
    assert(rows.keySet === byK.keySet)
    byK.foreach { case (k, xs) =>
      val (gn, gknn) = rows(k)
      assert(gn === xs.length.toLong, s"k=$k n_nodes")
      val snd = xs.map(_._2).sum
      assert(gknn === math.floor(snd.toDouble / (k * xs.length).toDouble
        * 10000.0 + 0.5) / 10000.0, s"k=$k knn")
    }
  }

  test("graph_rich_club: phi(k) recomputes from degrees; curve covers all four k") {
    import spark.implicits._
    val rows = q("graph_rich_club").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(rows.keySet === Set(2L, 4L, 8L, 16L))
    val edges = graft.ops.GraphOps.copurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    Seq(2L, 4L, 8L, 16L).foreach { k =>
      val club = deg.filter(_._2 >= k).keySet
      val e = edges.count(p => club(p._1) && club(p._2)).toLong
      val (gn, ge, gp) = rows(k)
      assert(gn === club.size.toLong, s"k=$k n_club")
      assert(ge === e, s"k=$k e_club")
      val expPhi = if (club.size >= 2)
        Some(math.floor((e * 2).toDouble /
          (club.size.toDouble * (club.size - 1).toDouble) * 10000.0 + 0.5) / 10000.0)
      else None
      assert(gp === expPhi, s"k=$k phi")
    }
    // a rich club is at least as dense as the graph at large (weak check:
    // phi is a valid density)
    rows.values.flatMap(_._3).foreach(p => assert(p >= 0.0 && p <= 1.0))
  }

  test("graph_modularity: per-community contributions recompute from LPA labels and edges") {
    import spark.implicits._
    val rows = q("graph_modularity").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(rows.nonEmpty)
    val lbl = q("graph_lpa").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = graft.ops.GraphOps.copurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val m2 = edges.map(_._3).sum * 2
    val deg = (edges.map(e => e._1 -> e._3) ++ edges.map(e => e._2 -> e._3))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val degC = deg.toSeq.map { case (v, d) => lbl(v) -> d }.groupBy(_._1)
      .view.mapValues(xs => (xs.length.toLong, xs.map(_._2).sum)).toMap
    val inC = edges.filter(e => lbl(e._1) == lbl(e._2))
      .groupBy(e => lbl(e._1)).view.mapValues(_.map(_._3).sum).toMap
    assert(rows.keySet === degC.keySet)
    rows.foreach { case (c, (nNodes, inW, degW, qc)) =>
      val (en, ed) = degC(c)
      assert(nNodes === en, s"community $c n_nodes")
      assert(degW === ed, s"community $c deg_w")
      assert(inW === inC.getOrElse(c, 0L), s"community $c in_w")
      val tree = ((inW * 2).toDouble / m2.toDouble -
        (degW.toDouble / m2.toDouble) * (degW.toDouble / m2.toDouble))
      assert(qc === math.floor(tree * 1.0e9 + 0.5) / 1.0e9, s"community $c q")
    }
    // degrees across communities account for every edge end; Q is sane
    assert(rows.values.map(_._3).sum === m2)
    val q0 = rows.values.map(_._4).sum
    assert(q0 >= -0.5 && q0 <= 1.0, s"modularity $q0")
  }

  test("graph_louvain: optimizer beats (or ties) the LPA vote on modularity, and Q recomputes") {
    import spark.implicits._
    val rows = q("graph_louvain").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(rows.nonEmpty)
    // the decomposition must recompute from the louvainMoves labels —
    // same replay as the graph_modularity spec, different partition
    val lbl = graft.api.GraphAlgebra.louvainMoves(
        spark.read.parquet(s"$sf/part.parquet").select($"p_partkey".as("part")),
        graft.ops.GraphOps.copurchase(spark, sf), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = graft.ops.GraphOps.copurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val m2 = edges.map(_._3).sum * 2
    val deg = (edges.map(e => e._1 -> e._3) ++ edges.map(e => e._2 -> e._3))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val degC = deg.toSeq.map { case (v, d) => lbl(v) -> d }.groupBy(_._1)
      .view.mapValues(xs => (xs.length.toLong, xs.map(_._2).sum)).toMap
    val inC = edges.filter(e => lbl(e._1) == lbl(e._2))
      .groupBy(e => lbl(e._1)).view.mapValues(_.map(_._3).sum).toMap
    assert(rows.keySet === degC.keySet)
    rows.foreach { case (c, (nNodes, inW, degW, qc)) =>
      val (en, ed) = degC(c)
      assert(nNodes === en, s"community $c n_nodes")
      assert(degW === ed, s"community $c deg_w")
      assert(inW === inC.getOrElse(c, 0L), s"community $c in_w")
      val tree = ((inW * 2).toDouble / m2.toDouble -
        (degW.toDouble / m2.toDouble) * (degW.toDouble / m2.toDouble))
      assert(qc === math.floor(tree * 1.0e9 + 0.5) / 1.0e9, s"community $c q")
    }
    // the point of the op: the gain-driven moves reach at least the Q of
    // the LPA frequency vote on the identical graph
    val qLouvain = rows.values.map(_._4).sum
    val qLpa = q("graph_modularity").collect().map(_.getDouble(4)).sum
    assert(qLouvain >= qLpa,
      s"louvain Q $qLouvain < LPA Q $qLpa — the optimizer lost to the vote")
    // and it found real structure, not one blob / all singletons
    assert(rows.size > 1 && rows.size < lbl.size)
  }

  test("graph_louvain_multi: level 2 improves (or ties) level 1's Q and compresses") {
    val rows = q("graph_louvain_multi").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.keySet === Set(1L, 2L))
    val (n1, q1) = rows(1L)
    val (n2, q2) = rows(2L)
    // the aggregation phase's point: coarse-graph moves may only merge
    // communities whose union raises Q — never lose ground
    assert(q2 >= q1, s"level-2 Q $q2 < level-1 Q $q1")
    assert(n2 <= n1, s"level 2 has MORE communities ($n2) than level 1 ($n1)")
    // level 1 must agree with the one-level op's decomposition exactly
    val oneLevel = q("graph_louvain").collect()
    assert(n1 === oneLevel.length.toLong)
    val q1FromOp = oneLevel.map(_.getDouble(4)).sum
    assert(math.abs(q1 - q1FromOp) < 1e-6,
      s"level-1 Q $q1 != one-level op's decomposition sum $q1FromOp")
    // and the second level actually found structure on this graph
    assert(q2 > -0.5 && q2 <= 1.0)
  }

  test("graph_louvain_dendro: valid hierarchy, monotone per-level Q, multi-agreement") {
    val rows = q("graph_louvain_dendro").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // a DENDROGRAM: each level refines the next — c1 determines c2, c2
    // determines c3 (one parent per child, no crossing)
    assert(rows.groupBy(_._2).values.forall(_.map(_._3).distinct.length == 1))
    assert(rows.groupBy(_._3).values.forall(_.map(_._4).distinct.length == 1))
    // level 1 and 2 agree with graph_louvain_multi's machinery: same
    // community counts as the 2-level op reports
    val multi = q("graph_louvain_multi").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(_._2).distinct.length.toLong === multi(1L))
    assert(rows.map(_._3).distinct.length.toLong === multi(2L))
    // per-level modularity is MONOTONE non-decreasing up the hierarchy
    // (coarse-graph moves only take strictly-positive exact-integer gains)
    val edges = graft.ops.GraphOps.copurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val m2 = edges.map(_._3).sum * 2
    val deg = (edges.map(e => e._1 -> e._3) ++ edges.map(e => e._2 -> e._3))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    def qOf(lbl: Map[Long, Long]): Double = {
      val degC = deg.toSeq.map { case (v, d) => lbl(v) -> d }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      val inC = edges.filter(e => lbl(e._1) == lbl(e._2))
        .groupBy(e => lbl(e._1)).view.mapValues(_.map(_._3).sum).toMap
      degC.map { case (c, dc) =>
        (inC.getOrElse(c, 0L) * 2).toDouble / m2.toDouble -
          (dc.toDouble / m2.toDouble) * (dc.toDouble / m2.toDouble)
      }.sum
    }
    val q1 = qOf(rows.map(t => t._1 -> t._2).toMap)
    val q2 = qOf(rows.map(t => t._1 -> t._3).toMap)
    val q3 = qOf(rows.map(t => t._1 -> t._4).toMap)
    assert(q2 >= q1 - 1e-12, s"level-2 Q $q2 < level-1 Q $q1")
    assert(q3 >= q2 - 1e-12, s"level-3 Q $q3 < level-2 Q $q2")
  }

  test("louvainDendrogram early-stop is output-identical and schema-stable on a fixture") {
    import spark.implicits._
    // two disconnected 3-cliques: each collapses to one community in the
    // level-1 sweeps, then level 2 has no inter edges and no positive
    // gain — the move FIXPOINT, so levels 3-4 are copy-forward
    val e = Seq((1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 5L),
      (4L, 5L, 5L), (4L, 6L, 5L), (5L, 6L, 5L))
      .toDF("a", "b", "w")
    val v = (1L to 6L).toDF("part")
    val d = graft.api.GraphAlgebra.louvainDendrogram(v, e, levels = 4,
        rounds = 3)
      .orderBy($"id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(d.length === 6)
    // two communities, stable through all four levels (fixpoint copy-
    // forward keeps the declared schema and the converged labels)
    val byC1 = d.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byC1.values.toSet === Set(Set(1L, 2L, 3L), Set(4L, 5L, 6L)))
    assert(d.forall(t => t._3 == t._2 && t._4 == t._2 && t._5 == t._2))
  }

  /** In-JVM reference Brandes with the op's EXACT quantized arithmetic:
    * level-synchronous BFS σ counts, then backward micro-quantized δ via
    * the identical double tree floor(σv/σw·(1e6+δw)+0.5). Returns per
    * non-source vertex (dist, σ, δ) and per shortest-path-DAG edge v→w
    * its credit.
    */
  private def refBrandes(adj: Map[Long, Seq[Long]], src: Long, maxHops: Int)
      : (Map[Long, (Long, Long, Long)], Map[(Long, Long), Long]) = {
    val dist = scala.collection.mutable.Map(src -> 0L)
    val sigma = scala.collection.mutable.Map(src -> 1L)
    val levels = scala.collection.mutable.Map(0L -> Seq(src))
    var frontier = Seq(src)
    var h = 1L
    while (frontier.nonEmpty && h <= maxHops) {
      val next = scala.collection.mutable.Map[Long, Long]()
      for (v <- frontier; w <- adj.getOrElse(v, Nil) if !dist.contains(w))
        next(w) = next.getOrElse(w, 0L) + sigma(v)
      for ((w, sg) <- next) { dist(w) = h; sigma(w) = sg }
      frontier = next.keys.toSeq
      if (frontier.nonEmpty) levels(h) = frontier
      h += 1
    }
    val delta = scala.collection.mutable.Map[Long, Long]()
    def dagOut(v: Long): Seq[Long] =
      adj.getOrElse(v, Nil).filter(w => dist.get(w).contains(dist(v) + 1))
    def credit(v: Long, w: Long): Long =
      math.floor(sigma(v).toDouble / sigma(w).toDouble *
        (1000000L + delta(w)).toDouble + 0.5).toLong
    val hmax = levels.keys.max
    levels(hmax).foreach(v => delta(v) = 0L)
    for (lev <- (hmax - 1) to 1L by -1L; v <- levels(lev))
      delta(v) = dagOut(v).map(credit(v, _)).sum
    val nodes = dist.keys.filter(_ != src)
      .map(v => v -> ((dist(v), sigma(v), delta(v)))).toMap
    val credits = (for (v <- dist.keys.toSeq; w <- dagOut(v))
      yield (v, w) -> credit(v, w)).toMap
    (nodes, credits)
  }

  /** Deterministic sparse Brandes fixture: a 24-ring plus chords, so
    * equal-length shortest paths give σ > 1 and fractional dependencies
    * exercise the quantization. Returns the both-direction (a, b) frame
    * and its adjacency map.
    */
  private def ringChords: (DataFrame, Map[Long, Seq[Long]]) = {
    import spark.implicits._
    val n = 24
    val ring = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
    val chords = (0 until n by 3).map(i => (i.toLong, ((i + 7) % n).toLong))
    val pairs = (ring ++ chords).map { case (a, b) =>
      if (a < b) (a, b) else (b, a)
    }.distinct
    val both = pairs.toDF("a", "b")
      .unionAll(pairs.map(_.swap).toDF("a", "b"))
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2) }
    (both, adj)
  }

  test("graph_betweenness machinery equals in-JVM Brandes on a fixture graph") {
    import spark.implicits._
    val (both, adj) = ringChords
    val sources = Seq(0L, 5L, 11L).toDF("src")
    val (deltas, _) = api.GraphAlgebra.brandes(both, sources, maxHops = 6)
    val got = deltas.select($"src", $"id", $"dist", $"sigma", $"delta")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val want = (for {
      s <- Seq(0L, 5L, 11L)
      (v, t) <- refBrandes(adj, s, 6)._1
    } yield (s, v) -> t).toMap
    assert(got === want)
    // and the registry op runs with a sane shape on the sf fixture
    val op = q("graph_betweenness").collect()
    assert(op.nonEmpty)
    assert(op.forall(_.getLong(2) >= 0L), "negative betweenness credit")
  }

  test("graph_edge_betweenness machinery equals in-JVM edge Brandes on a fixture") {
    import spark.implicits._
    val (both, adj) = ringChords
    val srcs = Seq(0L, 5L, 11L)
    // every source's DAG-edge credits, folded to canonical undirected edges
    val want = srcs.flatMap(refBrandes(adj, _, 6)._2)
      .groupMapReduce { case ((v, w), _) => (math.min(v, w), math.max(v, w)) }(
        _._2)(_ + _)
    val (_, credits) = api.GraphAlgebra.brandes(both, srcs.toDF("src"),
      maxHops = 6)
    val got = credits
      .groupBy(least($"va", $"wb").as("a"), greatest($"va", $"wb").as("b"))
      .agg(sum($"c").as("eb"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === want)
    // the registry op: sane top-20 shape on the sf fixture
    val op = q("graph_edge_betweenness").collect()
    assert(op.nonEmpty && op.length <= 20)
    assert(op.forall(_.getLong(3) > 0L), "non-positive edge credit in top-20")
    val creds = op.map(_.getLong(3))
    assert(creds.zip(creds.tail).forall { case (x, y) => x >= y })
  }

  /** The collected co-purchase graph as a neighbor map, both directions. */
  private def cpNbrs: Map[Long, Seq[Long]] =
    cpBoth.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }

  /** JVM replay of multi-source BFS over the collected co-purchase edge
    * list: the expected multiBfsHops rows, sorted. One (s, s, 0) row per
    * RAW source row, then every (s, id, dist) with 0 < dist <= maxHops per
    * distinct source.
    */
  private def jvmMultiBfs(raw: Seq[Long], maxHops: Int): Seq[(Long, Long, Long)] = {
    val nbrs = cpNbrs
    val reached = raw.distinct.flatMap { s =>
      val dist = scala.collection.mutable.Map(s -> 0L)
      var frontier = Seq(s)
      var h = 1L
      while (h <= maxHops && frontier.nonEmpty) {
        frontier = frontier.flatMap(nbrs.getOrElse(_, Nil)).distinct
          .filterNot(dist.contains)
        frontier.foreach(dist(_) = h)
        h += 1
      }
      dist.collect { case (id, d) if d > 0 => (s, id, d) }
    }
    (raw.map(s => (s, s, 0L)) ++ reached).sorted
  }

  private def multiBfsRows(sources: DataFrame, maxHops: Int,
                           gate: Long = api.GraphAlgebra.BroadcastMaxRows): Seq[(Long, Long, Long)] =
    api.GraphAlgebra.multiBfsHops(cpBoth, sources, maxHops, gate).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  test("multiBfsHops: 8 landmarks (one pass) equal a JVM BFS replay") {
    val lm = landmarks(8)
    val want = jvmMultiBfs(lm.collect().map(_.getLong(0)).toSeq, 6)
    for (gate <- gates) {
      val got = multiBfsRows(lm, 6, gate)
      assert(got === want, s"gate=$gate")
      assert(got.exists(_._3 > 0))
    }
  }

  test("multiBfsHops: 70 sources (two 64-lane passes, sign-bit lane) equal a JVM BFS replay") {
    import spark.implicits._
    // the 70 smallest ids with an edge, so lane 63 (the sign bit) of the
    // first pass and the second pass both have vertices to reach
    val ids = cpBoth.select($"a").distinct().collect().map(_.getLong(0))
      .sorted.take(70).toSeq
    assert(ids.size === 70)
    val want = jvmMultiBfs(ids, 3)
    for (gate <- gates) {
      val got = multiBfsRows(ids.toDF("src"), 3, gate)
      assert(got === want, s"gate=$gate")
      assert(got.exists(r => r._1 == ids(63) && r._3 > 0), "lane 63 reached nothing")
      assert(got.exists(r => r._1 == ids(64) && r._3 > 0), "second pass reached nothing")
    }
  }

  test("multiBfsHops: a duplicated source row duplicates only its dist-0 row") {
    import spark.implicits._
    val lm = landmarks(8).collect().map(_.getLong(0)).toSeq
    val raw = lm :+ lm(2)
    val got = multiBfsRows(raw.toDF("src"), 6)
    assert(got === jvmMultiBfs(raw, 6))
    assert(got.count(_ == ((lm(2), lm(2), 0L))) === 2)
  }

  test("copurchaseFlow: its distinct (a, b) rows are copurchaseBoth's, and it repeats pairs") {
    val flow = GraphOps.copurchaseFlow(spark, sf)
    val both = GraphOps.copurchaseBoth(spark, sf)
    val rows = both.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.distinct.size === rows.size)
    assert(flow.distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted ===
      rows.sorted)
    assert(flow.count() > rows.size, "no pair is shared by two orders at this scale")
  }

  test("multiBfsHops and bfsHops over a flow with repeated rows equal a JVM BFS replay in both regimes") {
    val flow = GraphOps.copurchaseFlow(spark, sf)
    val lm = landmarks(8)
    val raw = lm.collect().map(_.getLong(0)).toSeq
    val want = jvmMultiBfs(raw, 6)
    for (gate <- gates) {
      val got = api.GraphAlgebra.multiBfsHops(flow, lm, 6, gate).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(got === want, s"gate=$gate")
      val one = api.GraphAlgebra.bfsHops(flow, raw.head, 6, gate).collect()
        .map(r => (raw.head, r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(one === jvmMultiBfs(raw.take(1), 6), s"gate=$gate")
      assert(one.size > 1, s"gate=$gate: the source reached nothing")
    }
  }

  test("reachClosure equals a JVM closure on random digraphs with cycles and isolated seeds") {
    import spark.implicits._
    for (seed <- 1 to 5; gate <- gates) {
      val rnd = new scala.util.Random(seed)
      val n = 10 + rnd.nextInt(6)
      // a random digraph plus one forced cycle 0 -> 1 -> 2 -> 0
      val edges = (Seq((0L, 1L), (1L, 2L), (2L, 0L)) ++
        Seq.fill(2 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))).distinct
      // two vertex seeds (one repeated) and one id that appears in no edge
      val s1 = rnd.nextInt(n).toLong
      val seeds = Seq(s1, rnd.nextInt(n).toLong, s1, 1000L + seed)
      val out = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val exp = scala.collection.mutable.Set[Long]()
      def dfs(v: Long): Unit = if (exp.add(v)) out.getOrElse(v, Nil).foreach(dfs)
      seeds.foreach(dfs)
      val got = api.GraphAlgebra.reachClosure(seeds.toDF("id"),
          edges.toDF("from", "to"), gate)
        .collect().map(_.getLong(0)).toSeq.sorted
      assert(got === exp.toSeq.sorted, s"random digraph seed $seed gate $gate")
    }
  }

  test("brandes: 8 landmarks' δ rows and per-edge credits equal a JVM replay") {
    val lm = landmarks(8).collect().map(_.getLong(0)).toSeq
    val nbrs = cpNbrs
    val refs = lm.map(s => s -> refBrandes(nbrs, s, 6))
    val (deltas, credits) = api.GraphAlgebra.brandes(cpBoth, landmarks(8),
      maxHops = 6)
    val gotD = deltas.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sorted
    val wantD = (for ((s, (nodes, _)) <- refs; (v, (d, sg, dl)) <- nodes)
      yield (s, v, d, dl, sg)).sorted
    assert(gotD === wantD)
    val gotC = credits.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    val wantC = (for ((s, (_, cr)) <- refs; ((v, w), c) <- cr)
      yield (s, v, w, c)).sorted
    assert(gotC === wantC)
    assert(gotD.exists(_._3 > 1), "no landmark reached past hop 1")
  }

  test("brandes: a source in no edge returns two empty frames") {
    import spark.implicits._
    val (both, _) = ringChords
    val (deltas, credits) = api.GraphAlgebra.brandes(both,
      Seq(1000L).toDF("src"), maxHops = 6)
    assert(deltas.columns.toSeq === Seq("src", "id", "dist", "delta", "sigma"))
    assert(credits.columns.toSeq === Seq("src", "va", "wb", "c"))
    assert(deltas.collect().isEmpty)
    assert(credits.collect().isEmpty)
  }

  test("temporal_reach week-band pre-key is pair-lossless (matches the unbanded join)") {
    import spark.implicits._
    // the unbanded reference pair stream, folded to the op's output shape
    val tx = Tables.events(spark, sf)
      .select($"user_id".as("u"),
        get_json_object($"props", "$.k").cast("long").as("item"),
        unix_millis($"ts").as("ms"))
      .filter($"item".isNotNull)
      .groupBy($"item", $"u").agg(min($"ms").as("ms"))
    val ref = tx.as("a")
      .join(tx.as("b"), $"a.item" === $"b.item" &&
        $"b.ms" > $"a.ms" && $"b.ms" <= $"a.ms" + 604800000L &&
        $"a.u" =!= $"b.u")
      .groupBy($"a.u".as("user_id"), $"b.u".as("bu"))
      .agg(count(lit(1)).as("np"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("reach"), sum($"np").as("n_paths"))
      .orderBy($"reach".desc, $"n_paths".desc, $"user_id")
      .limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = SparkEntry.queries("graph_temporal_reach")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === ref)
  }

  test("pageRankBatch lazy anti-join teleport: batch slice still equals single-source PPR") {
    import spark.implicits._
    // re-pin the ApiSpec contract on the rewritten iteration: per source,
    // the batch op's nonzero ranks are bit-identical to pageRankExact
    val both = cpBoth
    val verts = Tables.part(spark, sf).select($"p_partkey".as("part"))
    val batch = api.GraphAlgebra.pageRankBatch(verts, both, Seq(3L), iters = 4)
      .filter($"s" === 3L).select($"part", $"r")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val single = api.GraphAlgebra
      .pageRankExact(verts, both, iters = 4, personalized = Some(3L))
      .filter($"r" =!= 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // batch state is support-sparse: compare on the nonzero support
    single.foreach { case (p, r) =>
      assert(batch.getOrElse(p, 0L) === r, s"part $p")
    }
  }

  /** JVM replay of the transition backbone + Kosaraju SCC, shared by the
    * graph_scc / graph_bowtie / graph_condensation cross-checks:
    * (edges, sorted vertex list, scc label per vertex with min-id labels).
    */
  private lazy val sccReplay: (Seq[(Long, Long)], Seq[Long], Map[Long, Long]) = {
    val edges = GraphSpec.backboneEdges(spark, sf)
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    (edges, verts, GraphSpec.kosaraju(verts, edges))
  }

  test("graph_scc equals a JVM Kosaraju SCC over the collected backbone") {
    val (_, verts, label) = sccReplay
    val got = q("graph_scc").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.map(_._1).toSeq === verts, "vertex set")
    got.foreach { case (v, s) => assert(s === label(v), s"scc of $v") }
  }

  test("graph_bowtie classes match a JVM reachability replay") {
    val (edges, verts, label) = sccReplay
    val sizes = label.groupBy(_._2).map { case (l, m) => l -> m.size }
    val coreLbl = sizes.toSeq.map { case (l, n) => (n, -l) }.max match {
      case (_, negL) => -negL
    }
    val coreMembers = verts.filter(label(_) == coreLbl).toSet
    def closure(seeds: Set[Long], adj: Map[Long, Seq[Long]]): Set[Long] = {
      var vis = seeds; var frontier = seeds
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(adj.getOrElse(_, Nil)) -- vis
        vis ++= next; frontier = next
      }
      vis
    }
    val fwd = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val rev = edges.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val reachesCore = closure(coreMembers, rev)
    val fromCore = closure(coreMembers, fwd)
    val expect = verts.map { v =>
      if (label(v) == coreLbl) "core"
      else if (reachesCore(v)) "in"
      else if (fromCore(v)) "out"
      else "other"
    }.zip(verts).groupBy(_._1).map { case (c, vs) =>
      c -> (vs.size.toLong, vs.map(_._2).min)
    }
    val got = q("graph_bowtie").collect()
    assert(got.map(_.getString(0)).toSet === expect.keySet, "class set")
    got.foreach { r =>
      val (n, mn) = expect(r.getString(0))
      assert(r.getLong(1) === n, s"n_cells of ${r.getString(0)}")
      assert(r.getLong(2) === mn, s"min_cell of ${r.getString(0)}")
    }
  }

  test("graph_condensation matches JVM longest-path levels on the SCC DAG") {
    val (edges, verts, label) = sccReplay
    val ce = edges.map { case (s, d) => (label(s), label(d)) }
      .filter { case (a, b) => a != b }.distinct
    val nodes = verts.map(label).distinct.sorted
    val preds = ce.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val memo = scala.collection.mutable.Map[Long, Long]()
    def lvl(v: Long): Long = memo.getOrElseUpdate(v,
      preds.get(v).map(_.map(lvl).max + 1L).getOrElse(0L))
    val outDeg = ce.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val members = verts.groupBy(label).map { case (l, vs) => l -> vs.size.toLong }
    val got = q("graph_condensation").collect()
    assert(got.map(_.getLong(0)).toSeq === nodes, "scc node set")
    got.foreach { r =>
      val n = r.getLong(0)
      assert(r.getLong(1) === members(n), s"n_members of $n")
      assert(r.getLong(2) === lvl(n), s"level of $n")
      assert(r.getLong(3) === outDeg.getOrElse(n, 0L), s"n_succ of $n")
    }
  }

  test("graph_attack_tolerance equals a plain-Scala hub-removal replay") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val und = li.groupBy(_._1).values.flatMap { rs =>
      val ps = rs.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        yield (ps(i), ps(j))
    }.toSeq.groupBy(identity).iterator
      .collect { case (e, os) if os.size >= 2 => e }.toSeq
    val verts = und.flatMap(e => Seq(e._1, e._2)).distinct
    val deg = und.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (v, os) => v -> os.size }
    val hubs = deg.toSeq.sortBy { case (v, d) => (-d, v) }.take(8)
      .map(_._1).toSet
    def giant(vs: Seq[Long], es: Seq[(Long, Long)]): Long = {
      val adj = (es ++ es.map(_.swap)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2) }
      val seen = scala.collection.mutable.Set[Long]()
      var g = 0L
      vs.foreach { v =>
        if (!seen(v)) {
          var frontier = Set(v); seen += v; var sz = 1L
          while (frontier.nonEmpty) {
            val nxt = frontier.flatMap(adj.getOrElse(_, Nil))
              .filterNot(seen)
            seen ++= nxt; sz += nxt.size; frontier = nxt
          }
          g = math.max(g, sz)
        }
      }
      g
    }
    val gb = giant(verts, und)
    val v2 = verts.filterNot(hubs)
    val e2 = und.filterNot(e => hubs(e._1) || hubs(e._2))
    val ga = giant(v2, e2)
    val got = q("graph_attack_tolerance").collect().head
    assert(got.getLong(0) === verts.length.toLong, "n_vertices")
    assert(got.getLong(1) === und.length.toLong, "n_edges")
    assert(got.getLong(2) === gb, "giant_before")
    assert(got.getLong(3) === ga, "giant_after")
    assert(got.getDouble(4) === p4(ga.toDouble / gb.toDouble), "share")
  }

  private def p4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0

  test("stronglyConnectedComponents equals a JVM Kosaraju on random digraphs with cycles and isolated vertices") {
    import spark.implicits._
    for (seed <- 1 to 3; gate <- gates) {
      val rnd = new scala.util.Random(seed)
      val n = 10 + rnd.nextInt(6)
      // a random digraph plus one forced cycle 0 -> 1 -> 2 -> 0; the ids n
      // and n + 1 are vertices that no edge touches
      val edges = (Seq((0L, 1L), (1L, 2L), (2L, 0L)) ++
        Seq.fill(n + n / 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))).distinct
      val verts = 0L until n + 2L
      val got = api.GraphAlgebra.stronglyConnectedComponents(verts.toDF("id"),
          edges.toDF("src", "dst"), gate)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === GraphSpec.kosaraju(verts, edges), s"random digraph seed $seed gate $gate")
    }
  }

  test("dagLevels equals JVM longest-path levels on random DAGs") {
    import spark.implicits._
    for (seed <- 1 to 3; gate <- gates) {
      val rnd = new scala.util.Random(seed)
      val n = 12 + rnd.nextInt(6)
      // every edge runs from a lower to a higher id, so the graph is
      // acyclic; the chain 0 -> 1 -> ... -> 5 forces a depth of at least 5
      val edges = ((0L until 5L).map(i => (i, i + 1)) ++
        Seq.fill(2 * n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
          .collect { case (x, y) if x != y => (math.min(x, y), math.max(x, y)) })
        .distinct
      val verts = 0L until n.toLong
      val preds = edges.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
      val memo = scala.collection.mutable.Map[Long, Long]()
      def lvl(v: Long): Long = memo.getOrElseUpdate(v,
        preds.get(v).map(_.map(lvl).max + 1L).getOrElse(0L))
      val got = api.GraphAlgebra.dagLevels(verts.toDF("id"), edges.toDF("src", "dst"), gate)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === verts.map(v => v -> lvl(v)).toMap, s"random DAG seed $seed gate $gate")
    }
  }

  test("dagLevels throws on a 3-cycle") {
    import spark.implicits._
    for (gate <- gates) {
      val e = intercept[IllegalArgumentException] {
        api.GraphAlgebra.dagLevels(Seq(1L, 2L, 3L).toDF("id"),
          Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"), gate).collect()
      }
      assert(e.getMessage.contains("did not converge in 4 rounds"), s"gate=$gate")
    }
  }

  test("connectedComponentsDf equals GraphX on a 48-vertex path with the minimum id at one end") {
    import spark.implicits._
    // shuffled ids along the path, the smallest at position 0: the
    // component's label has to travel all 47 hops; 100 is a singleton
    val path = 0L +: new scala.util.Random(7).shuffle((1L until 48L).toList)
    val verts = path :+ 100L
    val edges = path.zip(path.tail)
    val graphx = GraphBridge.connectedComponents(spark, verts.toDF("id"),
        edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = api.GraphAlgebra.connectedComponentsDf(verts.toDF("part"),
        edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === graphx)
    assert(got.values.toSet === Set(0L, 100L))
  }

  test("connectedComponentsDf below the gate runs one job per round plus the build") {
    import spark.implicits._
    // a 40-vertex path with the minimum id at one end: 40 rounds. The
    // DataFrame loop pays a checkpoint and a count per round (~3 jobs)
    val n = 40
    val verts = 0L until n.toLong
    val (jobs, _) = sparkEventsDuring(api.GraphAlgebra.connectedComponentsDf(
      verts.toDF("part"), verts.init.map(i => (i, i + 1)).toDF("a", "b")).collect())
    assert(jobs.size <= n + 6, s"${jobs.size} jobs for $n rounds")
  }

  test("driverArrays: one job while every partition is within its share of the gate") {
    import spark.implicits._
    // two partitions of 9 and 1 rows: at gate 20 each is within its share
    // of 10; at gate 10 the first is over its share of 5, so a second job
    // collects; at gate 9 the total is over the gate
    def frame(parts: Seq[(Long, Long)]*) =
      spark.sparkContext.parallelize(parts, parts.size).flatMap(identity).toDF("id", "x")
    val rows = frame((0L until 9L).map(i => (9L - i, 10 * i)), Seq((100L, -1L)))
    val want = (Array(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 100L),
      Array(80L, 70L, 60L, 50L, 40L, 30L, 20L, 10L, 0L, -1L))
    def run(gate: Long) = {
      var got: Either[Long, (Array[Long], Array[Long])] = null
      val (jobs, _) = sparkEventsDuring { got = api.GraphAlgebra.driverArrays(rows, gate) }
      (got.map { case (ids, x) => (ids.toSeq, x.toSeq) }, jobs.size)
    }
    val ok = Right((want._1.toSeq, want._2.toSeq))
    assert(run(20L) === (ok, 1))
    assert(run(10L) === (ok, 2))
    assert(run(9L) === (Left(10L), 1))
    val dup = frame((0L until 9L).map(i => (9L - i, 10 * i)), Seq((100L, -1L)), Seq((5L, 0L)))
    assert(api.GraphAlgebra.driverArrays(dup, 20L) === Left(11L))
  }

  /** Seeded random directed edges over ids 0 until n with duplicate rows,
    * self-loops and edges from and to ids the vertex set lacks; the ids n
    * and n + 1 are vertices that no edge touches.
    */
  private def messyDigraph(seed: Int): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val n = 15 + rnd.nextInt(10)
    val base = Seq.fill(n + n / 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val edges = base ++ base.take(5) ++ (0L until 3L).map(i => (i, i)) ++
      Seq((100L + seed, 0L), (1L, 200L + seed), (300L, 301L))
    (0L until n + 2L, rnd.shuffle(edges))
  }

  test("connectedComponentsDf and stronglyConnectedComponents equal JVM replays on messy random graphs in both regimes") {
    import spark.implicits._
    for (seed <- 1 to 4; gate <- gates) {
      val msg = s"seed=$seed gate=$gate"
      val (verts, edges) = messyDigraph(seed)
      val inV = edges.filter { case (a, b) => verts.contains(a) && verts.contains(b) }
      // union-find whose roots are the minimum ids
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = parent.get(x).filter(_ != x).fold(x)(find)
      for ((a, b) <- inV) {
        val (ra, rb) = (find(a), find(b))
        parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val cc = api.GraphAlgebra.connectedComponentsDf(verts.toDF("part"), edges.toDF("a", "b"), gate)
      assert(cc.count() === verts.size, msg)
      assert(xs(cc) === verts.map(v => v -> find(v)).toMap, msg)
      val scc = api.GraphAlgebra.stronglyConnectedComponents(verts.toDF("id"),
        edges.toDF("src", "dst"), gate)
      assert(scc.count() === verts.size, msg)
      assert(xs(scc) === GraphSpec.kosaraju(verts, inV), msg)
    }
  }

  test("SCC, reachClosure and dagLevels on a digraph with several non-trivial SCCs equal JVM replays in both regimes") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // units in topological order: four cycles (3, 5, 4, 6 vertices) and
    // eight singletons; cross edges only run from an earlier unit to a
    // later one and never touch the last three singletons, so the cycles
    // are exactly the non-trivial SCCs. A chain
    // through the cycles into the first singleton makes the 6-cycle the
    // core with an IN side, an OUT side and untouched OTHER singletons
    val cycles = Seq(3, 5, 4, 6).scanLeft(0)(_ + _).sliding(2)
      .map { case Seq(a, b) => (a.toLong until b.toLong) }.toSeq
    val units = cycles ++ (18L until 26L).map(v => v until v + 1)
    val cross = (0 until 4).map(u => (units(u).last, units(u + 1).head)) ++
      Seq.fill(25)((rnd.nextInt(units.size), rnd.nextInt(units.size))).collect {
        case (u, w) if u < w && w <= 8 => (units(u)(rnd.nextInt(units(u).size)),
          units(w)(rnd.nextInt(units(w).size)))
      }
    // shuffled ids, so an SCC's minimum sits anywhere on its cycle
    val id = rnd.shuffle((0L until 26L).toList).toIndexedSeq
    val edges = (cycles.flatMap(c => c.zip(c.tail :+ c.head)) ++ cross)
      .map { case (a, b) => (id(a.toInt), id(b.toInt)) }.distinct
    val verts = 0L until 26L
    val want = GraphSpec.kosaraju(verts, edges)
    val bySize = want.groupBy(_._2).map { case (c, m) => c -> m.size }
    assert(bySize.count(_._2 > 1) === 4)
    val core = bySize.maxBy { case (c, sz) => (sz, -c) }._1
    def closure(es: Seq[(Long, Long)]): Seq[Long] = {
      val out = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val seen = scala.collection.mutable.Set[Long]()
      def dfs(v: Long): Unit = if (seen.add(v)) out.getOrElse(v, Nil).foreach(dfs)
      want.collect { case (v, c) if c == core => v }.foreach(dfs)
      seen.toSeq.sorted
    }
    val (fromCore, toCore) = (closure(edges), closure(edges.map(_.swap)))
    val ce = edges.map { case (a, b) => (want(a), want(b)) }.filter { case (a, b) => a != b }.distinct
    val preds = ce.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val memo = scala.collection.mutable.Map[Long, Long]()
    def lvl(v: Long): Long = memo.getOrElseUpdate(v,
      preds.get(v).map(_.map(lvl).max + 1L).getOrElse(0L))
    val comps = want.values.toSeq.distinct
    assert(comps.map(lvl).max >= 4)
    assert(toCore.size > bySize(core) && fromCore.size > bySize(core))
    assert(toCore.size + fromCore.size - bySize(core) < verts.size, "no OTHER vertex")
    for (gate <- gates) {
      val scc = api.GraphAlgebra.stronglyConnectedComponents(verts.toDF("id"),
        edges.toDF("src", "dst"), gate)
      assert(xs(scc) === want, s"gate=$gate")
      val members = scc.filter($"scc" === core).select($"id")
      def reach(flow: Seq[(Long, Long)]) = api.GraphAlgebra.reachClosure(members,
        flow.toDF("from", "to"), gate).collect().map(_.getLong(0)).toSeq.sorted
      assert(reach(edges) === fromCore, s"gate=$gate")
      assert(reach(edges.map(_.swap)) === toCore, s"gate=$gate")
      val lv = api.GraphAlgebra.dagLevels(comps.toDF("id"), ce.toDF("src", "dst"), gate)
      assert(xs(lv) === comps.map(c => c -> lvl(c)).toMap, s"gate=$gate")
    }
  }

  /** Seeded random undirected graph on ids 1..30 plus a degree-1 chain
    * 31-32-33-34 and isolated ids 35..40: (vertices, directed edge rows).
    */
  private def randomUndirected(seed: Long): (Seq[Long], Seq[(Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val und = (Seq.fill(70)((1L + rnd.nextInt(30), 1L + rnd.nextInt(30)))
      .filter { case (a, b) => a != b }.map { case (a, b) => (a min b, a max b) } ++
      Seq((31L, 32L), (32L, 33L), (33L, 34L))).distinct
    ((1L to 40L), und ++ und.map(_.swap))
  }

  /** Plain-Scala integer PageRank replay (d = 85/100, scale 1e12). */
  private def refPageRank(vs: Seq[Long], e: Seq[(Long, Long)], iters: Int,
                          src: Option[Long]): Map[Long, Long] = {
    val S = 1000000000000L
    val deg = e.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
    def reset(v: Long) = src.fold(S * 15 / (vs.size * 100L))(s => if (v == s) S * 15 / 100 else 0L)
    var r = deg.keys.map(v => v -> src.fold(S / vs.size)(s => if (v == s) S else 0L)).toMap
    for (_ <- 1 to iters) {
      val c = e.groupBy(_._2).map { case (v, in) => v -> in.map(x => r(x._1) / deg(x._1)).sum }
      r = r.keys.map(v => v -> (reset(v) + c.getOrElse(v, 0L) * 85 / 100)).toMap
    }
    vs.map(v => v -> r.getOrElse(v, reset(v))).toMap
  }

  private def xs(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `rows` with about half of them (and the first three) repeated, in a
    * seeded random order: a flow the kernel must read as `rows.distinct`.
    */
  private def withRepeats[T](rows: Seq[T], seed: Long): Seq[T] = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle(rows ++ rows.filter(_ => rnd.nextBoolean()) ++ rows.take(3))
  }

  test("powerIterate: PageRank, PPR, HITS and Katz equal plain-Scala replays in both regimes") {
    // every flow repeats rows in shuffled order; the replays run on the
    // distinct edge set
    import spark.implicits._
    import graft.api.GraphAlgebra.{PowerStep, powerIterate}
    val S = 1000000000000L
    for (seed <- 1L to 3L; gate <- Seq(graft.api.GraphAlgebra.BroadcastMaxRows, 0L)) {
      val (vs, e) = randomUndirected(seed)
      val msg = s"seed=$seed gate=$gate"
      val both = withRepeats(e, seed).toDF("a", "b")
      for (src <- Seq(None, Some(32L), Some(1L + seed)))
        assert(xs(graft.api.GraphAlgebra.pageRankExact(vs.toDF("part"), both, 10, src,
          broadcastMaxRows = gate)) === refPageRank(vs, e, 10, src), s"$msg src=$src")
      // Katz in Horner form: y4 = 256 + 64 p1 + 16 p2 + 4 p3 + p4
      var p = e.map(_._1).distinct.map(_ -> 1L).toMap
      var katz = p.map { case (v, _) => v -> 256L }
      for (w <- Seq(64L, 16L, 4L, 1L)) {
        p = e.groupBy(_._2).map { case (v, in) => v -> in.map(x => p(x._1)).sum }
        katz = katz.map { case (v, k) => v -> (k + w * p(v)) }
      }
      val Seq(y) = powerIterate(Seq(withRepeats(e, seed + 10).toDF("src", "dst")), 4,
        PowerStep.Katz(4L), gate)
      assert(xs(y) === katz, msg)
      // HITS on a directed bipartite graph whose two id spaces overlap
      val rnd = new scala.util.Random(seed)
      val flow = Seq.fill(60)((1L + rnd.nextInt(15), 1L + rnd.nextInt(20)))
      val bi = flow.distinct
      def norm(m: Map[Long, Long]) = {
        val q = math.max(1L, m.values.max / S)
        m.map { case (k, v) => k -> v / q }
      }
      var h = bi.map(_._1).distinct.map(_ -> S).toMap
      var a = Map.empty[Long, Long]
      for (_ <- 1 to 6) {
        a = norm(bi.groupBy(_._2).map { case (v, in) => v -> in.map(x => h(x._1)).sum })
        h = norm(bi.groupBy(_._1).map { case (v, out) => v -> out.map(x => a(x._2)).sum })
      }
      val fwd = withRepeats(flow, seed).toDF("src", "dst")
      val Seq(ga, gh) = powerIterate(Seq(fwd, fwd.select($"dst".as("src"), $"src".as("dst"))),
        12, PowerStep.MaxNormalized(S), gate)
      assert(xs(ga) === a, msg)
      assert(xs(gh) === h, msg)
    }
  }

  test("powerIterate: a BIGINT overflow in the sums throws in both regimes") {
    import spark.implicits._
    import graft.api.GraphAlgebra.{PowerStep, powerIterate}
    // two in-neighbours of Long.MaxValue each: the first sum overflows
    val e = Seq((1L, 3L), (2L, 3L), (3L, 1L), (3L, 2L)).toDF("src", "dst")
    for (gate <- Seq(graft.api.GraphAlgebra.BroadcastMaxRows, 0L)) {
      val err = intercept[Exception](
        powerIterate(Seq(e), 1, PowerStep.MaxNormalized(Long.MaxValue), gate).foreach(_.collect()))
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), s"gate=$gate: $err")
    }
  }

  test("graph_pagerank runs no localCheckpoint job and scans lineitem once per call") {
    // the per-order pairs flow straight into the kernel's blocks: no pair
    // aggregate, no edge checkpoint, and the degrees come from the blocks
    val nLineitem = Tables.lineitem(spark, sf).count()
    val read = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          read.merge(e.stageId, e.taskMetrics.inputMetrics.recordsRead, (a, b) => a + b)
    }
    spark.sparkContext.addSparkListener(listener)
    val (_, stages) = try sparkEventsDuring(q("graph_pagerank").collect())
      finally spark.sparkContext.removeSparkListener(listener)
    val ckpt = stages.map(_.name).filter(_.startsWith("localCheckpoint"))
    assert(ckpt.isEmpty, ckpt.mkString(", "))
    val scans = stages.filter(_.rddInfos.exists(_.name == "FileScanRDD"))
      .count(st => read.getOrDefault(st.stageId, 0L) == nLineitem)
    assert(scans === 1, s"$scans lineitem scan stages")
  }

  test("graph_scc scans the transition backbone's lineitem once per call") {
    // the backbone is checkpointed once and both SCC inputs read it; each
    // unmaterialized read would rerun the lineitem scan and its window
    val (_, stages) = sparkEventsDuring(q("graph_scc").collect())
    val scans = stages.count(_.rddInfos.exists(_.name == "FileScanRDD"))
    assert(scans === 1, s"$scans lineitem scan stages")
  }
}

object GraphSpec {

  /** JVM replay of the transition backbone behind graph_scc: within each
    * order, consecutive lineitems (by l_linenumber) emit a
    * (partkey % 512) transition, and transitions seen at least twice
    * survive.
    */
  def backboneEdges(spark: SparkSession, sf: String): Seq[(Long, Long)] = {
    import spark.implicits._
    val lp = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey" % 512)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    lp.groupBy(_._1).values.flatMap { lines =>
      val s = lines.sortBy(l => (l._2, l._3))
      s.zip(s.tail).collect { case (a, b) if a._3 != b._3 => (a._3, b._3) }
    }.toSeq.groupBy(identity).iterator // iterator: a Map.collect of pairs
      .collect { case (e, os) if os.size >= 2 => e } // would dedup by src
      .toSeq
  }

  /** Kosaraju SCC over `verts` and the directed `edges`: every vertex is
    * labeled with the minimum id of its SCC.
    */
  def kosaraju(verts: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val fwd = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val rev = edges.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    // forward finish order, then reverse-graph sweeps
    val visited = scala.collection.mutable.Set[Long]()
    val order = scala.collection.mutable.ArrayBuffer[Long]()
    def dfs1(v: Long): Unit = if (visited.add(v)) {
      fwd.getOrElse(v, Nil).foreach(dfs1); order += v
    }
    verts.foreach(dfs1)
    val label = scala.collection.mutable.Map[Long, Long]()
    def dfs2(v: Long, members: scala.collection.mutable.ArrayBuffer[Long]): Unit =
      if (!label.contains(v)) {
        label(v) = -1L; members += v
        rev.getOrElse(v, Nil).foreach(dfs2(_, members))
      }
    order.reverseIterator.foreach { v =>
      if (!label.contains(v)) {
        val members = scala.collection.mutable.ArrayBuffer[Long]()
        dfs2(v, members)
        val m = members.min
        members.foreach(label(_) = m)
      }
    }
    label.toMap
  }

}
