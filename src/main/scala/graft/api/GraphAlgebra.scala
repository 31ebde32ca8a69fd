package graft.api

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable.ArrayBuffer

import graft.graph.GraphBridge
import Ckpt._

/** The engine's public graph API, parameterized over caller DataFrames —
  * the reference's query surface (adjacency, hop-limited traversal,
  * co-occurrence similarity, ranking, trending) as composable library
  * functions. The driver-facing registry ops in `ops.GraphOps` are thin
  * instantiations of these over the TPC-H-derived purchase graph.
  *
  * Conventions: a *bipartite incidence* is any DataFrame with a context
  * column and an item column (customer→part, order→part, doc→shingle); a
  * *pair graph* is (a, b, w) with a < b canonical undirected edges.
  */
object GraphAlgebra {

  /** Weighted adjacency from an incidence: (src, dst, w = multiplicity). */
  def adjacency(incidence: DataFrame, src: String, dst: String): DataFrame =
    incidence.groupBy(col(src).as("src"), col(dst).as("dst"))
      .agg(count(lit(1)).as("w"))

  /** Co-occurrence projection: canonical (a < b) item pairs sharing a
    * context, w = number of shared contexts. The self-join is keyed on the
    * context (bounded per-context fan-out ⇒ scalable), never on the item.
    */
  def project(incidence: DataFrame, ctx: String, item: String): DataFrame = {
    val lp = incidence.select(col(ctx).as("ok"), col(item).as("p")).distinct()
    lp.as("x").join(lp.as("y"),
        col("x.ok") === col("y.ok") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("w"))
  }

  /** Out/in degree and strength per vertex of a (src, dst, w) adjacency. */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("vertex"))
      .agg(count(lit(1)).as("degree"), sum(col("w")).as("strength"))
      .select(lit("out").as("side"), col("vertex"), col("degree"), col("strength"))
    val in = edges.groupBy(col("dst").as("vertex"))
      .agg(count(lit(1)).as("degree"), sum(col("w")).as("strength"))
      .select(lit("in").as("side"), col("vertex"), col("degree"), col("strength"))
    out.unionAll(in)
  }

  /** Point adjacency query: the neighborhood of one vertex. */
  def neighbors(edges: DataFrame, vertex: Long): DataFrame =
    edges.filter(col("src") === vertex).select(col("dst"), col("w"))

  /** Bipartite 2-hop traversal with visited-set semantics: items reachable
    * from a cohort of src vertices at hop 1 (direct) and hop 2 (through
    * co-occurring src vertices). Fixed hop budget ⇒ iterated joins, fully
    * Catalyst-planned.
    */
  def khop2(edges: DataFrame, cohort: DataFrame): DataFrame = {
    val adj = edges.select(col("src"), col("dst"))
    val c = cohort.toDF("src")
    val p1 = adj.join(c, "src").select(col("dst")).distinct()
    val c2 = adj.join(p1, "dst").select(col("src")).distinct()
    val p2 = adj.join(c2, "src").select(col("dst")).distinct()
    p2.join(p1.withColumn("h1", lit(1L)), Seq("dst"), "left")
      .select(col("dst").as("part"), coalesce(col("h1"), lit(2L)).as("hop"))
  }

  /** Hop-budget traversal with min-hop labels and k a RUNTIME parameter —
    * the reference's k-hop message semantics ([[khop2]] and the registry's
    * khop_2/khop_3 are the fixed-k SQL-expressible instances; this loops in
    * Scala like [[bfsHops]]). Bipartite: each hop is context→item, then the
    * NEWLY-reached items' contexts seed the next hop — true frontier
    * expansion, so per-hop work is proportional to the frontier, while the
    * min-hop labeling is provably identical to the full re-expansion the
    * fixed-k ops do (a context adjacent to a hop-h item is explored at
    * round h+1 either way). ApiSpec pins khopK(2)/khopK(3) row-identical to
    * the registry ops.
    */
  def khopK(edges: DataFrame, cohort: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"khopK needs k >= 1 (got $k): hop 0 is the cohort itself")
    val adj = edges.select(col("src"), col("dst")).cp()
    var custs = cohort.toDF("src").distinct()
    var seen: DataFrame = null // (dst, hop = first round reached)
    for (h <- 1 to k) {
      val items = adj.join(custs, "src").select(col("dst")).distinct()
      val fresh = (if (seen == null) items
        else items.join(seen.select(col("dst")), Seq("dst"), "left_anti"))
        .cp()
      val labeled = fresh.select(col("dst"), lit(h.toLong).as("hop"))
      seen = (if (seen == null) labeled else seen.unionAll(labeled)).cp()
      if (h < k) custs = adj.join(fresh, "dst").select(col("src")).distinct()
    }
    seen.select(col("dst").as("part"), col("hop"))
  }

  /** Triangle count of a canonical (a < b) pair graph, with its edge
    * count: (n_triangles, n_edges). Node-iterator formulation — the sum of
    * |N⁺(a) ∩ N⁺(b)| over edges ([[orientedTriangles]]), never the Σdeg²
    * wedge shuffle. The pairs are checkpointed and counted first.
    */
  def triangles(pairs: DataFrame): DataFrame = {
    val (e, nE) = cpCounted(pairs.select(col("a"), col("b")))
    orientedTriangles(e, nE).select(col("n_triangles"), lit(nE).as("n_edges"))
  }

  /** Top-k item pairs by shared contexts (related-items query). */
  def commonNeighbors(edges: DataFrame, k: Int): DataFrame =
    edges.select(col("src"), col("dst")).as("e1")
      .join(edges.select(col("src"), col("dst")).as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .groupBy(col("e1.dst").as("p1"), col("e2.dst").as("p2"))
      .agg(count(lit(1)).as("common"))
      .orderBy(col("common").desc, col("p1"), col("p2"))
      .limit(k)

  /** Connected components of a pair graph (GraphX Pregel; labels = min
    * vertex id in component). `vertices` is a single-column id frame and
    * may include isolated vertices.
    */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame): DataFrame =
    GraphBridge.connectedComponents(vertices.sparkSession, vertices,
      pairs.select(col("a"), col("b")))

  /** BFS hop distances from `src` over an undirected pair graph, ≤ maxHops. */
  def shortestHops(vertices: DataFrame, pairs: DataFrame, src: Long, maxHops: Int): DataFrame = {
    val cp = pairs.select(col("a"), col("b"))
    val both = cp.unionAll(cp.select(col("b").as("a"), col("a").as("b")))
    GraphBridge.shortestHops(vertices.sparkSession, vertices, both, src, maxHops)
  }

  /** Static PageRank over an undirected pair graph, fixed iterations. */
  def pageRank(vertices: DataFrame, pairs: DataFrame, iters: Int): DataFrame = {
    val cp = pairs.select(col("a"), col("b"))
    val both = cp.unionAll(cp.select(col("b").as("a"), col("a").as("b")))
    GraphBridge.pageRank(vertices.sparkSession, vertices, both, iters)
  }

  /** Rank mass carried as a scaled BIGINT (1e12 = total mass 1.0). */
  val PrScale: Long = 1000000000000L

  /** Row ceiling under which iterative-state frames (ranks, labels,
    * frontiers — two bigint columns, ~16 B/row + hash-relation overhead)
    * still broadcast comfortably: 2e7 rows ≈ 320 MB payload. Above it the
    * hint would OOM executors long before 100× scale, so the gated joins
    * below fall back to a plain (AQE-planned, usually sort-merge) join.
    * The gate costs nothing extra: |V| is invariant across iterations and
    * is already materialized for the reset term / convergence check.
    */
  val BroadcastMaxRows: Long = 20000000L

  private def hinted(df: DataFrame, rows: Long, maxRows: Long): DataFrame =
    if (rows <= maxRows) broadcast(df) else df

  /** [[hinted]] with the shared default ceiling, for iterative callers
    * outside this object (e.g. the k-core peel) whose loop already holds
    * the row count ([[Ckpt.cpCounted]]).
    */
  def hintedFrame(df: DataFrame, rows: Long): DataFrame =
    hinted(df, rows, BroadcastMaxRows)

  /** (a, b) pairs with each row also mirrored as (b, a): one `explode`, so
    * the plan below runs once (a self-union would run it twice).
    */
  private[graft] def mirrored(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a"), col("e.b"))

  /** Broadcast gate of [[sharedNeighbors]]' adjacency-array frame (one row
    * per vertex, a sorted neighbour array per row). The payload is Σdeg =
    * the `nbrs` row count, not the vertex count, so the thin-frame
    * `BroadcastMaxRows` gate is the wrong measure: 1e7 neighbour rows ≈
    * 160 MB of longs — comfortably a broadcast — while the same frame at a
    * 100 TB corpus is terabytes and must stay on the shuffle path. A
    * BROADCAST adjacency keeps the per-pair array attach map-side; the
    * ungated alternative is a sort-merge join that shuffles and SORTS
    * kilobyte-array rows per pair (measured 2-3× the whole query at sf0.1).
    */
  private val AdjacencyBroadcastMaxEdges: Long = 10000000L

  /** The one shared-neighbour count behind the triangle and edge-support
    * family: for every (a, b) row of `pairs`, `common` = |N(a) ∩ N(b)|,
    * `da` = |N(a)| and `db` = |N(b)|, where N(v) is the b's of the
    * (a = v, b) rows of `nbrs` (`nbrRows` of them — a count the caller's
    * checkpoint already took). Each vertex's sorted neighbour array is
    * built once and checkpointed (both endpoint joins read it), then
    * attached to both endpoints broadcast-gated on `nbrRows`, and a
    * codegen'd `array_intersect` counts the overlap — work ∝ Σdeg per
    * pair, never the Σdeg² wedge shuffle. A pair with an endpoint that has
    * no `nbrs` row is dropped. `nbrs = pairs` over oriented (a < b) edges
    * gives the triangles through each edge ([[orientedTriangles]]);
    * `nbrs = mirrored(pairs)` gives full-neighbourhood supports
    * ([[edgeSupports]]).
    */
  private[graft] def sharedNeighbors(pairs: DataFrame, nbrs: DataFrame,
                                     nbrRows: Long): DataFrame = {
    val adj = nbrs.groupBy(col("a").as("v"))
      .agg(sort_array(collect_list(col("b"))).as("ns")).cp()
    def attach(end: String) = hinted(adj.select(col("v").as(end), col("ns").as(s"n$end")),
      nbrRows, AdjacencyBroadcastMaxEdges)
    pairs.select(col("a"), col("b")).join(attach("a"), "a").join(attach("b"), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("na"), col("nb"))).cast("long").as("common"),
        size(col("na")).cast("long").as("da"), size(col("nb")).cast("long").as("db"))
  }

  /** Triangle count (one row, `n_triangles`) of a checkpointed oriented
    * (a < b) pair frame of `nE` rows: each triangle a < b < c is counted
    * once, at its edge (a, b), as c ∈ N⁺(a) ∩ N⁺(b).
    */
  private[graft] def orientedTriangles(e: DataFrame, nE: Long): DataFrame =
    sharedNeighbors(e, e, nE)
      .agg(coalesce(sum(col("common")), lit(0L)).as("n_triangles"))

  /** [[sharedNeighbors]] over full neighbourhoods: every edge of a
    * checkpointed canonical pair frame of `nE` rows with its triangle
    * support (`common`) and endpoint degrees (`da`, `db`).
    */
  private[graft] def edgeSupports(e: DataFrame, nE: Long): DataFrame =
    sharedNeighbors(e, mirrored(e), 2L * nE)

  /** Public k-core over a caller-supplied canonical (a < b) pair list:
    * fixed-round peel (see `graph_kcore`'s docstring for why fixed rounds
    * — determinism), returning members with their TRUE induced degree
    * within the final survivor set (a dedicated post-loop degree pass —
    * so the degree column is exact even when `rounds` stops short of the
    * fixpoint). `rounds ≥ |V|` always reaches the true fixpoint (each
    * non-converged round removes ≥ 1 vertex); the fixture op uses 6 with
    * convergence spec-pinned.
    */
  def kcore(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"kcore needs k >= 1 (got $k)")
    require(rounds >= 1, s"kcore needs rounds >= 1 (got $rounds)")
    graft.ops.GraphOps.kcorePeel(pairs, k, rounds)
  }

  /** k-TRUSS peel over a caller (a, b) pair list (canonical a < b, one row
    * per undirected edge): `rounds` rounds of "keep edges with triangle
    * support ≥ k−2 over the current survivor set", then a final support
    * report (support-0 survivors kept). Support is [[edgeSupports]] —
    * work ∝ Σdeg per edge, never the Σdeg² wedge shuffle. Output
    * (a, b, support). Registry op `graph_ktruss` is this
    * at (k = 12, rounds = 3) on the co-purchase graph, oracle-checked
    * against unrolled wedge-join CTE rounds.
    */
  def ktruss(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"ktruss needs k >= 3 (got $k)")
    require(rounds >= 1, s"ktruss needs rounds >= 1 (got $rounds)")
    // each round's survivor count comes back from its own checkpoint job
    // and gates the next round's adjacency broadcast
    val (e, nE) = (1 to rounds).foldLeft(cpCounted(pairs.select(col("a"), col("b")))) {
      case ((e, nE), _) => cpCounted(
        edgeSupports(e, nE).filter(col("common") >= k - 2).select(col("a"), col("b")))
    }
    edgeSupports(e, nE).select(col("a"), col("b"), col("common").as("support"))
  }

  /** EXACT PageRank / personalized PageRank by integer power iteration —
    * every step is truncating-integer arithmetic on scaled BIGINT mass, so
    * the fixed-point chain is bit-identical across engines, partitionings
    * and runs (float iteration drifts with summation order). This is what
    * makes whole-graph ranking oracle-checkable (`graph_pagerank`,
    * `graph_ppr`).
    *
    * `vertices`: one column `part` (bigint ids). `edgesBoth`: (a, b) with
    * BOTH directions present for undirected semantics, in any order; a
    * repeated row is one edge, so per-context pairs can be passed
    * unaggregated. `personalized = Some(src)` teleports all reset mass to
    * the source.
    *
    * [[powerIterate]] with [[PowerStep.PageRank]] runs over the ACTIVE
    * (deg ≥ 1) vertices, each of which the symmetric graph feeds every
    * step; isolated vertices rejoin with the rank of a vertex fed nothing,
    * the reset term. The edges are read once, by the kernel's block build;
    * |V| is counted only for the uniform reset.
    */
  def pageRankExact(vertices: DataFrame, edgesBoth: DataFrame, iters: Int,
                    personalized: Option[Long],
                    broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val parts = vertices.select(col("part"))
    val op = PowerStep.PageRank(
      if (personalized.isEmpty) parts.count() else 0L, personalized)
    val Seq(ranks) = powerIterate(
      Seq(edgesBoth.select(col("a").as("src"), col("b").as("dst"))),
      iters, op, broadcastMaxRows)
    val reset = udf((v: Long) => op.update(iters, v, 0L, 0L))
    ranks.select(col("id").as("part"), col("x").as("r")).unionAll(
      parts.join(ranks, col("part") === col("id"), "left_anti")
        .select(col("part"), reset(col("part")).as("r")))
  }

  /** Per-vertex BIGINT arithmetic of a [[powerIterate]] loop: each src
    * vertex sends `send(x, deg)` along its `deg` edges, and each dst vertex
    * becomes `update(step, id, sum, max)` (`max`: the step's largest sum).
    * Plain Scala with `Math.*Exact` and floor division, run on the driver
    * below the broadcast gate and as a UDF above it: each op's arithmetic
    * is written once, and an overflow throws in both regimes.
    */
  sealed abstract class PowerStep extends Serializable {
    def init(id: Long): Long
    def send(x: Long, deg: Long): Long = x
    def update(step: Int, id: Long, sum: Long, max: Long): Long
    /** `update` reads `max` (an aggregate per step above the gate). */
    def usesMax: Boolean = false
  }

  object PowerStep {

    /** Mass scaled by [[PrScale]], damping 85/100, `x div deg` sent; the
      * reset is uniform over `n` vertices, or all at `source`.
      */
    final case class PageRank(n: Long, source: Option[Long]) extends PowerStep {
      def init(id: Long): Long =
        source.fold(Math.floorDiv(PrScale, n))(s => if (id == s) PrScale else 0L)
      override def send(x: Long, deg: Long): Long = Math.floorDiv(x, deg)
      def update(step: Int, id: Long, sum: Long, max: Long): Long = Math.addExact(
        source.fold(Math.floorDiv(PrScale * 15, Math.multiplyExact(n, 100L)))(
          s => if (id == s) PrScale * 15 / 100 else 0L),
        Math.floorDiv(Math.multiplyExact(sum, 85L), 100L))
    }

    /** HITS / eigenvector step: the sum over `greatest(1, max div scale)`. */
    final case class MaxNormalized(scale: Long) extends PowerStep {
      def init(id: Long): Long = scale
      def update(step: Int, id: Long, sum: Long, max: Long): Long =
        Math.floorDiv(sum, math.max(1L, Math.floorDiv(max, scale)))
      override def usesMax: Boolean = true
    }

    /** Katz walk counts, attenuation 1/`invAlpha`, in Horner form: 1, then
      * sum + invAlphaᵏ at step k, i.e. invAlphaᵏ · Σ_{j ≤ k} invAlpha⁻ʲ ·
      * (walks of length j into the vertex) — no division.
      */
    final case class Katz(invAlpha: Long) extends PowerStep {
      def init(id: Long): Long = 1L
      def update(step: Int, id: Long, sum: Long, max: Long): Long =
        Math.addExact(sum, (1 to step).foldLeft(1L)((w, _) => Math.multiplyExact(w, invAlpha)))
    }
  }

  /** Exact sparse power iteration, the one loop behind PageRank, HITS,
    * eigenvector centrality and Katz: each step, every dst vertex sums what
    * its src in-neighbours send and applies `op`'s update. `phases` are
    * (src, dst) flows run in turn — one for a symmetric graph, two for
    * HITS's orientations; phase k's dst vertices must be the next phase's
    * src vertices, and the state starts as `op.init` over phase 0's. A
    * phase's rows may repeat and arrive in any order: its graph is its
    * distinct (src, dst) set. Returns, per phase, the last (id, x) state
    * over its dst vertices (the initial state for the last phase until it
    * runs).
    *
    * Each phase is read ONCE, shuffled by dst into the blocks of a [[Csr]];
    * the src ids and out-degrees come from one aggregate over the blocks'
    * per-block (src, out-count) rows, so a repeated row is counted once.
    * Regimes: with every phase's src count ≤ `broadcastMaxRows`, the sorted
    * ids and degrees are collected once and each phase's blocks become a
    * [[Csr]] (the shared superstep kernel): a step is ONE job, an exact
    * `Math.addExact` sum per dst row over the broadcast `long[]` state,
    * with the update on the driver. Above the gate a step is a plain
    * join + sum (ANSI) over the blocks' edges clustered by dst, with the
    * same update as a UDF.
    */
  def powerIterate(phases: Seq[DataFrame], steps: Int, op: PowerStep,
                   broadcastMaxRows: Long = BroadcastMaxRows): Seq[DataFrame] = {
    val nP = phases.size
    require(nP >= 1 && steps >= nP - 1, s"powerIterate: $nP phases, $steps steps")
    val sess = phases.head.sparkSession
    val blocks = phases.map(p => Csr.blocks(Csr.byDst(p))._1)
    val degs = blocks.map(b => GraftSqlBridge.ofInternalRows(sess, b.flatMap(_.outDegrees),
        StructType.fromDDL("id BIGINT, n BIGINT"))
      .groupBy(col("id")).agg(sum(col("n")).as("deg")))
    // state(k): the latest values over phase k's dst = phase k + 1's src
    def next(k: Int) = (k + 1) % nP
    def prev(k: Int) = (k + nP - 1) % nP
    val arrays = degs.map(driverArrays(_, broadcastMaxRows))
    if (arrays.forall(_.isRight)) {
      val (ids, deg) = arrays.map(_.toOption.get).unzip
      val csrs = (0 until nP).map(k => new Csr(blocks(k), ids(k), ids(next(k))))
      val state = new Array[Array[Long]](nP)
      state(nP - 1) = ids(0).map(op.init)
      try for (step <- 1 to steps; k = (step - 1) % nP) {
        val (x, d) = (state(prev(k)), deg(k))
        val sum = csrs(k).fold(Array.tabulate(x.length)(i => op.send(x(i), d(i))), 0L,
          (a, b) => Math.addExact(a, b))
        if (step <= nP) require(csrs(k).unmatched == 0,
          s"powerIterate: phase $k has a dst that is not a src vertex of the next phase")
        val mx = if (sum.isEmpty) 0L else sum.max
        state(k) = Array.tabulate(sum.length)(i => op.update(step, ids(next(k))(i), sum(i), mx))
      } finally csrs.foreach(_.release())
      import sess.implicits._
      (0 until nP).map(k => ids(next(k)).zip(state(k)).toSeq.toDF("id", "x"))
    } else try {
      val degF = degs.map(_.cp())
      val eds = (0 until nP).map(k => Ckpt.cpCounted(Csr.edges(sess, blocks(k))
          .join(degF(k), col("src") === col("id")).select(col("src"), col("dst"), col("deg")),
        col("dst"))._1)
      val send = udf((x: Long, d: Long) => op.send(x, d))
      val state = new Array[DataFrame](nP)
      val init = udf((v: Long) => op.init(v))
      state(nP - 1) = degF(0).select(col("id"), init(col("id")).as("x"))
      for (step <- 1 to steps; k = (step - 1) % nP) {
        val sums = eds(k).join(state(prev(k)), col("src") === col("id"))
          .groupBy(col("dst").as("id")).agg(sum(send(col("x"), col("deg"))).as("s"))
        val (s, mx) = if (!op.usesMax) (sums, 0L) else {
          val c = sums.cp()
          (c, c.agg(coalesce(max(col("s")), lit(0L))).first().getLong(0))
        }
        val update = udf((v: Long, t: Long) => op.update(step, v, t, mx))
        state(k) = s.select(col("id"), update(col("id"), col("s")).as("x")).cp()
      }
      state.toSeq
    } finally blocks.foreach(_.unpersist(blocking = false))
  }

  /** The kernel's driver arrays of the (id, x) `rows` — ids ascending and
    * their values — when there are at most `maxRows` rows (capped at the
    * Int index range) with unique ids; otherwise the row count. ONE job
    * returns each partition's row count, and its rows too while that count
    * is within the partition's share ⌈gate ÷ partitions⌉, so the driver
    * never holds more than the gate; only a total within the gate that one
    * partition held over its share runs a second, collecting job.
    */
  private[graft] def driverArrays(rows: DataFrame, maxRows: Long)
      : Either[Long, (Array[Long], Array[Long])] = {
    val sc = rows.sparkSession.sparkContext
    val rdd = rows.select(rows.columns.toSeq.map(c => col(c).cast("long")): _*)
      .queryExecution.toRdd
    val gate = math.min(maxRows, Int.MaxValue.toLong)
    val share = (gate + rdd.getNumPartitions - 1) / math.max(rdd.getNumPartitions, 1)
    // a partition's row count, and its rows as (id, x) pairs laid out flat
    // when that count is within `cap` (else null)
    def take(cap: Long) = (it: Iterator[InternalRow]) => {
      var n = 0L
      var kept = new scala.collection.mutable.ArrayBuilder.ofLong
      for (r <- it) {
        n += 1
        if (n > cap) kept = null
        else kept.addOne(r.getLong(0)).addOne(r.getLong(1))
      }
      (n, if (kept == null) null else kept.result())
    }
    val counted = sc.runJob(rdd, take(share))
    val n = counted.map(_._1).sum
    if (n > gate) return Left(n)
    val parts =
      if (counted.forall(_._2 != null)) counted.map(_._2)
      else sc.runJob(rdd, take(gate)).map(_._2)
    val ids = parts.flatMap(p => Array.tabulate(p.length / 2)(i => p(2 * i)))
    java.util.Arrays.sort(ids)
    if (ids.indices.exists(i => i > 0 && ids(i) == ids(i - 1))) return Left(n)
    val x = new Array[Long](ids.length)
    for (p <- parts; i <- 0 until p.length by 2)
      x(java.util.Arrays.binarySearch(ids, p(i))) = p(i + 1)
    Right((ids, x))
  }

  /** `xs` ascending without duplicates (its first `n` values). */
  private def sortedDistinct(xs: Array[Long], n: Int): Array[Long] = {
    val a = java.util.Arrays.copyOf(xs, n)
    java.util.Arrays.sort(a)
    var w = 0
    for (i <- 0 until n if w == 0 || a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
    java.util.Arrays.copyOf(a, w)
  }

  private def sortedDistinct(xs: Array[Long]): Array[Long] = sortedDistinct(xs, xs.length)

  /** The one CSR superstep kernel behind [[powerIterate]],
    * [[minLabelFixpoint]] and [[frontierHops]] (Pregelix's superstep as
    * one dataflow): a (src, dst) flow shuffled by dst ONCE into
    * per-partition [[CsrBlock]]s and materialized ([[Ckpt.materialize]]).
    * The flow's rows may arrive in any order and repeat; the kernel's
    * graph is their distinct (src, dst) set. A round is [[fold]]: ONE job
    * that folds every dst row's in-neighbour values out of a broadcast
    * `long[]` state indexed like `srcIds`, into the driver's sorted
    * `dstIds`. Rows of dst ids outside `dstIds` are dropped ([[unmatched]]
    * counts them), and a src outside `srcIds` sends the fold's zero — the
    * flow rows the DataFrame loops' joins drop. [[release]] unpersists the
    * blocks and destroys the id broadcast.
    */
  private final class Csr(blocks: RDD[CsrBlock], srcIds: Array[Long], dstIds: Array[Long]) {
    private val bSrc = blocks.sparkContext.broadcast(srcIds)
    // per block, each dst row's index in `dstIds` (< 0 outside it): the
    // first fold's job returns the blocks' dst ids beside its sums
    private var rows: Array[Array[Int]] = _

    /** Per index of `dstIds`, `f` folded from `zero` over the `x` values
      * of its in-neighbours (`zero` for a vertex with none).
      */
    def fold(x: Array[Long], zero: Long, f: (Long, Long) => Long): Array[Long] = {
      val sc = blocks.sparkContext
      val (ids, bx, first) = (bSrc, sc.broadcast(x), rows == null)
      val part = sc.runJob(blocks, (it: Iterator[CsrBlock]) => {
        val b = it.next()
        (if (first) b.dst else null, b.fold(ids.value, bx.value, zero, f))
      })
      bx.destroy()
      if (first) rows = part.map(_._1.map(java.util.Arrays.binarySearch(dstIds, _)))
      val out = Array.fill(dstIds.length)(zero)
      for (p <- part.indices; r <- rows(p).indices if rows(p)(r) >= 0) out(rows(p)(r)) = part(p)._2(r)
      out
    }

    /** The dst rows outside `dstIds`, once a [[fold]] has run. */
    def unmatched: Int = rows.iterator.map(_.count(_ < 0)).sum

    def release(): Unit = {
      blocks.unpersist(blocking = false)
      bSrc.destroy()
    }
  }

  private object Csr {
    /** `flow`'s (src, dst) rows hash-partitioned on dst: the kernel's one
      * read of the flow. Rows reach their block in any order.
      */
    def byDst(flow: DataFrame): RDD[InternalRow] =
      flow.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
        .repartition(flow.sparkSession.sessionState.conf.numShufflePartitions, col("dst"))
        .queryExecution.toRdd

    /** The materialized blocks of [[byDst]] rows and each block's dst row
      * count, returned by the job that builds them.
      */
    def blocks(byDst: RDD[InternalRow]): (RDD[CsrBlock], Array[Long]) = {
      val rdd = byDst.mapPartitions(rows => Iterator.single(CsrBlock(rows)))
      (rdd, Ckpt.materialize(rdd)(_.next().dst.length.toLong))
    }

    /** The blocks' distinct (src, dst) rows as a frame. */
    def edges(sess: SparkSession, blocks: RDD[CsrBlock]): DataFrame =
      GraftSqlBridge.ofInternalRows(sess, blocks.flatMap(_.edges),
        StructType.fromDDL("src BIGINT, dst BIGINT"))

    def apply(flow: DataFrame, srcIds: Array[Long], dstIds: Array[Long]): Csr =
      new Csr(blocks(byDst(flow))._1, srcIds, dstIds)
  }

  /** One partition of a [[Csr]]: its dst ids `dst` (ascending), and row
    * r's distinct in-neighbours `src(srcs(j))` for j in `ptr(r) until
    * ptr(r + 1)`, where `src` is the block's own ascending src table — so
    * a round looks each distinct src up in the id space once, not once per
    * edge.
    */
  private final case class CsrBlock(dst: Array[Long], ptr: Array[Int], srcs: Array[Int],
                                    src: Array[Long]) {
    /** The block's (src, dst) rows, grouped by dst. */
    def edges: Iterator[InternalRow] = dst.indices.iterator.flatMap(r =>
      (ptr(r) until ptr(r + 1)).map(j => InternalRow(src(srcs(j)), dst(r))))

    /** Per src of the block, its dst row count: its out-degree here. */
    def outDegrees: Iterator[InternalRow] = {
      val n = new Array[Long](src.length)
      srcs.foreach(j => n(j) += 1)
      src.indices.iterator.map(j => InternalRow(src(j), n(j)))
    }

    def fold(ids: Array[Long], x: Array[Long], zero: Long, f: (Long, Long) => Long): Array[Long] = {
      val xs = src.map { v =>
        val i = java.util.Arrays.binarySearch(ids, v)
        if (i >= 0) x(i) else zero
      }
      Array.tabulate(dst.length) { r =>
        var (s, j) = (zero, ptr(r))
        while (j < ptr(r + 1)) { s = f(s, xs(srcs(j))); j += 1 }
        s
      }
    }
  }

  private object CsrBlock {
    /** Group (src, dst) rows in any order, in primitive arrays: a counting
      * sort on the block's dst index, then each dst row's srcs sorted in
      * place with repeats dropped.
      */
    def apply(rows: Iterator[InternalRow]): CsrBlock = {
      var (sv, dv, n) = (new Array[Long](1024), new Array[Long](1024), 0)
      rows.foreach { r =>
        if (n == sv.length) {
          sv = java.util.Arrays.copyOf(sv, 2 * n)
          dv = java.util.Arrays.copyOf(dv, 2 * n)
        }
        sv(n) = r.getLong(0)
        dv(n) = r.getLong(1)
        n += 1
      }
      val dst = sortedDistinct(dv, n)
      val row = Array.tabulate(n)(i => java.util.Arrays.binarySearch(dst, dv(i)))
      val ptr = new Array[Int](dst.length + 1)
      row.foreach(r => ptr(r + 1) += 1)
      for (r <- dst.indices) ptr(r + 1) += ptr(r)
      val at = java.util.Arrays.copyOf(ptr, dst.length)
      val s = new Array[Long](n)
      for (i <- 0 until n) { s(at(row(i))) = sv(i); at(row(i)) += 1 }
      var w = 0
      for (r <- dst.indices) {
        val (from, to) = (ptr(r), ptr(r + 1))
        java.util.Arrays.sort(s, from, to)
        ptr(r) = w
        for (j <- from until to if j == from || s(j) != s(j - 1)) { s(w) = s(j); w += 1 }
      }
      ptr(dst.length) = w
      val src = sortedDistinct(s, w)
      CsrBlock(dst, ptr, Array.tabulate(w)(j => java.util.Arrays.binarySearch(src, s(j))), src)
    }
  }

  /** BATCH personalized PageRank — ALL sources at once: the reference's
    * per-user recommendation serving (one PPR per user) expressed as ONE
    * dataflow keyed by an extra source column, instead of |S| driver-looped
    * jobs. Arithmetic is [[PowerStep.PageRank]]'s exact scaled-BIGINT
    * step spelled as SQL over the (s, part) state, so per source the
    * nonzero ranks are bit-identical to [[pageRankExact]]'s (ApiSpec pins
    * this) and the whole batch is DuckDB-oracle hash-checkable.
    *
    * The rank state is SUPPORT-SPARSE: a (s, part) row exists only once
    * mass has reached `part` from `s` (rank-0 vertices are represented by
    * absence), so state grows with the personalized mass spread, not
    * |S|·|V|. The teleport term folds into the contribution projection
    * (the agg already has one row per (s, part)); sources whose own row
    * got no inbound mass re-enter through a LAZY anti-join of the |S|-row
    * source frame against the state's part = s rows — one pure dataflow,
    * no driver collect (r16, ADVICE — the collect spelling broke the
    * no-collect contract at exactly the large-|S| scale this batch op
    * exists for). Each iteration shuffles on the (s, part) key; the
    * rank-side broadcast is gated on the STATIC |S|·|V| ceiling (both
    * factors already counted once), so the support-sparse loop pays no
    * per-iteration count job. Regime limit: the hint is on only while
    * |S|·|V| ≤ `broadcastMaxRows`. Above it every iteration's rank join
    * is a shuffle join, even when the sparse state itself would fit a
    * broadcast (mass spread to few vertices per source).
    */
  def pageRankBatch(vertices: DataFrame, edgesBoth: DataFrame,
                    sources: Seq[Long], iters: Int,
                    broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val sess = edgesBoth.sparkSession
    import sess.implicits._
    val both = edgesBoth.select(col("a"), col("b")).cp()
    val deg = both.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
    val nV = vertices.select(col("part")).count()
    // pre-partitioned on the GROUP key: HashPartitioning(edst) satisfies
    // the (s, edst) clustered distribution of the contribution
    // aggregation, so the broadcast-rank iterations add no |E| exchange
    val (ed, _) = Ckpt.cpCounted(
      both.join(hinted(deg, nV, broadcastMaxRows), col("a") === col("v"))
        .select(col("a").as("esrc"), col("b").as("edst"), col("deg")),
      col("edst"))
    // a LocalRelation — free to re-evaluate, so no checkpoint needed for
    // its two consumers (initial ranks, per-iteration anti-join probe)
    val srcDf = sources.toDF("s")
    // static gate: state rows can never exceed |S|·|V| (guard the product
    // against overflow); saturating here trades the old per-iteration
    // count job for a slightly conservative hint
    val rankCap = if (sources.isEmpty || nV > Long.MaxValue / math.max(1, sources.size))
      Long.MaxValue else sources.size * nV
    var ranks = srcDf
      .select(col("s"), col("s").as("part"), lit(PrScale).as("r"))
    for (_ <- 1 to iters) {
      // the contribution agg has ONE row per (s, part) already, so the
      // reset term folds in as a projection — rank = damped csum, plus
      // the teleport constant on the part = s row (exact BIGINT addition,
      // bit-identical to the old unionAll(reset) + re-group — which paid
      // a second state-size exchange + hash agg EVERY iteration for a
      // ≤|S|-row insert; r15 round-2 backlog item, guide §2.4). cp BEFORE
      // the self-hit anti-join below so the |E| agg runs once (the union
      // branches below then read the cp'd frame, not the lineage).
      val contrib = ed.join(hinted(ranks, rankCap, broadcastMaxRows),
          col("esrc") === col("part"))
        .groupBy(col("s"), col("edst"))
        .agg(sum(expr("r div deg")).as("csum"))
        .select(col("s"), col("edst").as("part"),
          (expr("csum * 85 div 100") +
            when(col("edst") === col("s"), lit(PrScale * 15 / 100))
              .otherwise(lit(0L))).as("r"))
        .cp()
      // sources whose own row got NO inbound mass this iteration still
      // need their teleport row (absence = rank 0 in the sparse state):
      // a lazy broadcast anti-join of the |S|-row source frame against
      // the cp'd state's ≤|S| part = s rows — no action, no collect
      val missing = srcDf.join(
          broadcast(contrib.filter(col("part") === col("s")).select(col("s"))),
          Seq("s"), "left_anti")
        .select(col("s"), col("s").as("part"),
          lit(PrScale * 15 / 100).as("r"))
      ranks = contrib.unionAll(missing)
    }
    ranks
  }

  /** Synchronous label-propagation community detection, deterministic
    * variant: each round EVERY vertex simultaneously adopts the most
    * frequent label among its neighbors, ties broken by the SMALLEST
    * label; isolated vertices keep their own. The fixed round count makes
    * the whole computation a finite deterministic dataflow — oracle-
    * checkable as an unrolled CTE chain (the graph_wsssp trick) — where
    * the classic asynchronous/randomized LPA is not.
    *
    * Per round: one join of the label frame into the |E| adjacency, a
    * (vertex, label) count aggregation, and a max(struct) tie-break agg —
    * all clustered on the vertex key (one hoisted shuffle, no sort-window,
    * no all-pairs stage anywhere). The label broadcast is gated on
    * |V| ≤ broadcastMaxRows like [[connectedComponentsDf]]'s.
    */
  def labelPropagation(vertices: DataFrame, pairs: DataFrame, rounds: Int,
                       broadcastMaxRows: Long = BroadcastMaxRows): DataFrame =
    lpaRounds(vertices, pairs, rounds, converge = false, broadcastMaxRows)

  /** [[labelPropagation]] iterated to CONVERGENCE: stops the round loop
    * when a sweep changes ZERO labels (the [[connectedComponentsDf]]
    * stopping rule) instead of after a fixed round count — the variant a
    * user runs when they want the fixpoint, not a bounded dataflow. Each
    * round pays one extra count on the already-checkpointed label frame
    * to detect the fixpoint — noise next to the round's |E| join.
    *
    * Synchronous LPA is not guaranteed to reach a fixpoint (labels can
    * 2-cycle on bipartite-ish structures), so `maxRounds` caps the loop;
    * on graphs that do converge the result is identical to
    * [[labelPropagation]] run for any round count ≥ the convergence round
    * (ApiSpec pins this). The registry op stays the fixed-round form —
    * that one is a finite deterministic dataflow and hence
    * oracle-checkable as an unrolled CTE; this one's round count is
    * data-dependent.
    */
  def labelPropagationConverged(vertices: DataFrame, pairs: DataFrame,
                                maxRounds: Int = 50,
                                broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    require(maxRounds >= 1, s"labelPropagationConverged needs maxRounds >= 1 (got $maxRounds)")
    lpaRounds(vertices, pairs, maxRounds, converge = true, broadcastMaxRows)
  }

  /** The synchronous LPA vote behind [[labelPropagation]] (`rounds` sweeps)
    * and [[labelPropagationConverged]] (up to `rounds` sweeps, stopping at
    * the first that changes no label). Only the converging form counts the
    * changed labels, so the fixed-round form runs no per-round count.
    */
  private def lpaRounds(vertices: DataFrame, pairs: DataFrame, rounds: Int,
                        converge: Boolean, broadcastMaxRows: Long): DataFrame = {
    val cp = pairs.select(col("a"), col("b"))
    // clustered on the vote GROUP key `b` — HashPartitioning(b) satisfies
    // the (b, lbl) clustered distribution AND the row_number window's
    // partitionBy(v), so each round is exchange-free past the label join
    val (both, _) = Ckpt.cpCounted(
      cp.unionAll(cp.select(col("b").as("a"), col("a").as("b"))), col("b"))
    // the label frame stays exactly |V| rows every round
    val (init, nV) = Ckpt.cpCounted(vertices.select(col("part").as("id"), col("part").as("lbl")))
    var labels = init
    var changed = 1L
    var round = 0
    while (changed > 0 && round < rounds) {
      round += 1
      // tie-break (most frequent label, ties to the SMALLEST) as a hash
      // aggregation — max(struct(c, −lbl)) ≡ the row_number(c desc, lbl
      // asc) = 1 pick, but it stays in the HashPartitioning(b) chain the
      // keyed checkpoint hoisted (both groupBys cluster on v = b) instead of
      // paying a per-round sort-window over the |E|-sized vote frame
      val top = both.join(hinted(labels, nV, broadcastMaxRows), col("a") === col("id"))
        .groupBy(col("b").as("v"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("v"))
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("v"), (-col("m.neg")).as("nlbl"))
      val next = labels.join(top, col("id") === col("v"), "left")
        .select(col("id"), col("lbl").as("prev"),
          coalesce(col("nlbl"), col("lbl")).as("lbl"))
      if (converge) {
        val upd = next.cp()
        changed = upd.filter(col("lbl") =!= col("prev")).count()
        labels = upd.select(col("id"), col("lbl"))
      } else labels = next.select(col("id"), col("lbl")).cp()
    }
    labels.select(col("id"), col("lbl").as("community"))
  }

  /** One level of deterministic synchronous Louvain node moves over a
    * WEIGHTED canonical (a, b, w) pair list — the modularity-OPTIMIZING
    * community step beyond [[labelPropagation]] (LPA votes on label
    * frequency; Louvain moves a node to the neighbor community with the
    * largest positive ΔQ). Each of the fixed `rounds` sweeps evaluates
    * EVERY node simultaneously against the PREVIOUS sweep's assignment —
    * a finite deterministic dataflow like the fixed-round LPA, so it is
    * oracle-checkable as an unrolled CTE chain (the classic sequential
    * Louvain's result depends on visit order and can't hash-match across
    * engines).
    *
    * Move rule per node i (current community a, weighted degree k_i,
    * community weighted-degree totals tot_c, i→c adjacent weight k_ic):
    * ΔQ(i→c) ∝ 2m·(k_ic − k_ia) − k_i·(tot_c − tot_a + k_i), exact BIGINTs
    * with the products carried in DECIMAL: one operand is cast to
    * DECIMAL(38,0) so the product precision is Spark's 38-digit CEILING —
    * that is the headroom (vs BIGINT's 19 digits), not margin beyond it.
    * Past 38 digits (2m·k at extreme fact scale) the multiply fails
    * LOUDLY under ANSI mode (Spark 4 default) rather than wrapping
    * silently; DuckDB mirrors via HUGEINT (39 digits). Move to the
    * gain-maximal neighbor community when the gain is strictly positive,
    * ties to the SMALLEST community id; otherwise stay. ΔQ(a→a) is 0 by
    * construction, so "stay" is the correct no-positive-gain fixpoint.
    *
    * Scale shape: per round one join of the |V| label frame into the
    * checkpointed both-direction |E| adjacency (broadcast-gated on |V|),
    * one (i, c) hash agg, one |V|-sized tot rollup joined back broadcast-
    * gated, and a max(struct) argmax — all clustered on the vertex key,
    * no sort-window, no pair materialization.
    *
    * `selfLoops` (id, s) is the multi-level hook: a COARSENED graph's
    * supernode carries its community-internal weight as a self-loop,
    * which contributes 2s to the node's weighted degree k_i and 2s to 2m
    * but is NOT an adjacency (it moves with the node, so it cancels in
    * every ΔQ difference — exactly classical Louvain's aggregated-graph
    * algebra). Pass the self-loop frame separately; `pairs` must then
    * hold only a ≠ b edges.
    */
  def louvainMoves(vertices: DataFrame, pairs: DataFrame, rounds: Int,
                   broadcastMaxRows: Long = BroadcastMaxRows,
                   selfLoops: Option[DataFrame] = None): DataFrame = {
    require(rounds >= 1, s"louvainMoves needs rounds >= 1 (got $rounds)")
    val cp = pairs.select(col("a"), col("b"), col("w"))
    val (both, _) = Ckpt.cpCounted(
      cp.unionAll(cp.select(col("b").as("a"), col("a").as("b"), col("w"))),
      col("a"))
    // weighted degree k_i and 2m are round-invariant; self-loops add 2s
    // to their node's degree and 2·Σs to 2m (coarsening invariant: the
    // coarse graph's 2m equals the original's)
    val degPairs = both.groupBy(col("a").as("id")).agg(sum(col("w")).as("k"))
    val deg = (selfLoops match {
      case None => degPairs
      case Some(sl) =>
        degPairs.join(sl.select(col("id"), col("s")), Seq("id"), "full")
          .select(col("id"), (coalesce(col("k"), lit(0L)) +
            lit(2L) * coalesce(col("s"), lit(0L))).as("k"))
    }).cp()
    // 2m reads the CHECKPOINTED adjacency (Σ_both w = 2·Σ_pairs w — each
    // edge appears twice in `both`), and the 1-row frame is itself
    // checkpointed: the old spelling aggregated the caller's raw `pairs`
    // lineage and was broadcast-rebuilt EVERY round — for graph_louvain
    // that re-ran the whole co-purchase self-join once per sweep
    // (measured ~2 s × rounds at sf0.1; guide §2.4 "remove shuffles
    // outright" / §5 re-computation). Value is bit-identical.
    val m2 = (selfLoops match {
      case None => both.agg(coalesce(sum(col("w")), lit(0L)).as("m2"))
      case Some(sl) =>
        both.agg(coalesce(sum(col("w")), lit(0L)).as("bw"))
          .crossJoin(sl.agg(coalesce(sum(col("s")), lit(0L)).as("sw")))
          .select((col("bw") + lit(2L) * col("sw")).as("m2"))
    }).cp()
    val (init, nV) = Ckpt.cpCounted(
      vertices.select(col("part").as("id"), col("part").as("c"))
        .join(deg, Seq("id"), "left")
        .select(col("id"), col("c"), coalesce(col("k"), lit(0L)).as("k")))
    var labels = init
    // left product operands widen to DECIMAL(38,0) EXPLICITLY: the product
    // precision is then Spark's hard 38-digit cap (see docstring — the cap
    // IS the ceiling; overflow past it ANSI-errors loudly, never wraps)
    val dec = (x: Column) => x.cast("decimal(19,0)")
    val dec38 = (x: Column) => x.cast("decimal(38,0)")
    for (_ <- 1 to rounds) {
      val tot = labels.groupBy(col("c")).agg(sum(col("k")).as("tot"))
      // k_ic: weight from i into each adjacent community (prev sweep)
      val kic = both
        .join(hinted(labels.select(col("id").as("b"), col("c").as("nc")),
          nV, broadcastMaxRows), Seq("b"))
        .groupBy(col("a").as("id"), col("nc"))
        .agg(sum(col("w")).as("kic"))
      // FUSED candidate scoring (r15, guide §2.4 — remove shuffles
      // outright): the gain 2m·(k_ic − k_ia) − k_i·(tot_c − tot_a + k_i)
      // differs from score(nc) = 2m·k_ic − k_i·tot_c by the PER-ID
      // constant thresh = 2m·k_ia − k_i·(tot_a − k_i), so the argmax over
      // nc (ties to the smallest community id — an affine per-id shift
      // preserves order AND ties) and the strict-positivity test are both
      // computed from score alone: argmax per id inside one aggregation
      // that ALSO folds k_ia out of the nc = c row, then one |V|-sized
      // tot_a attach. This deletes the old kia self-derivation (which
      // re-planned the whole kic subtree) and the |E_c|-sized cand ⋈ kia
      // shuffle join — two exchanges per round gone; the exact-decimal
      // discipline (same dec/dec38 operands, same 38-digit ANSI ceiling)
      // is unchanged, so the sweep is bit-identical to the unfused form.
      val folded = kic
        .join(hinted(labels, nV, broadcastMaxRows), Seq("id"))
        .join(hinted(tot.select(col("c").as("nc"), col("tot").as("tot_c")),
          nV, broadcastMaxRows), Seq("nc"))
        .crossJoin(broadcast(m2))
        .groupBy(col("id"), col("c"), col("k"), col("m2"))
        .agg(
          max(when(col("nc") =!= col("c"),
            struct((dec38(col("m2")) * dec(col("kic")) -
              dec38(col("k")) * dec(col("tot_c"))).as("score"),
              (-col("nc")).as("neg")))).as("m"),
          max(when(col("nc") === col("c"), col("kic"))).as("kia"))
      val scored = folded
        .filter(col("m").isNotNull)
        .join(hinted(tot.select(col("c"), col("tot").as("tot_a")),
          nV, broadcastMaxRows), Seq("c"))
        // gain > 0  ⟺  score > 2m·k_ia − k_i·(tot_a − k_i)
        .filter(col("m.score") >
          dec38(col("m2")) * dec(coalesce(col("kia"), lit(0L))) -
            dec38(col("k")) * (dec(col("tot_a")) - dec(col("k"))))
        .select(col("id"), (-col("m.neg")).as("newc"))
      // scored is ≤ |V| rows (one per moved node) but descends from an
      // aggregate, so its stats are unknown — unhinted this join planned
      // sort-merge (two exchanges + sorts per round for a tiny frame);
      // the |V| gate is the same as every other label-loop broadcast
      labels = labels.join(hinted(scored, nV, broadcastMaxRows),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("newc"), col("c")).as("c"), col("k"))
        .cp()
    }
    labels.select(col("id"), col("c").as("community"))
  }

  /** One Louvain AGGREGATION step: coarsen a weighted pair graph by a
    * community assignment. Returns (interEdges, selfLoops, vertices) of
    * the community graph: inter-community weights summed onto canonical
    * (a < b) supernode pairs, intra-community weight PLUS the carried-in
    * self-loops of the member nodes folded into the supernode self-loop
    * (classical Louvain's aggregated-graph bookkeeping — 2m is invariant
    * under this map), vertices = the distinct communities as `part`.
    * Scale shape: two label joins into |E| keyed on the endpoints, one
    * pair rollup, one |V|-sized self-loop rollup — exactly one coarsening
    * shuffle; every output is community-graph-sized (orders of magnitude
    * below |E| after level 1).
    */
  def louvainCoarsen(pairs: DataFrame, selfLoops: Option[DataFrame],
                     labels: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val mapped = pairs.select(col("a"), col("b"), col("w"))
      .join(labels.select(col("id").as("a"), col("community").as("ca")),
        Seq("a"))
      .join(labels.select(col("id").as("b"), col("community").as("cb")),
        Seq("b"))
      .cp()
    val inter = mapped.filter(col("ca") =!= col("cb"))
      .select(least(col("ca"), col("cb")).as("a"),
        greatest(col("ca"), col("cb")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
    val intra = mapped.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("id")).agg(sum(col("w")).as("si"))
    val self = selfLoops match {
      case None => intra.select(col("id"), col("si").as("s"))
      case Some(sl) =>
        val carried = sl.select(col("id"), col("s").as("sc"))
          .join(labels, Seq("id"))
          .groupBy(col("community").as("id")).agg(sum(col("sc")).as("sc"))
        intra.join(carried, Seq("id"), "full")
          .select(col("id"), (coalesce(col("si"), lit(0L)) +
            coalesce(col("sc"), lit(0L))).as("s"))
    }
    val verts = labels.select(col("community").as("part")).distinct()
    (inter, self, verts)
  }

  /** Driver-local replica of [[louvainMoves]]'s EXACT move algebra
    * (BigInt gains 2m·(k_ic − k_ia) − k_i·(tot_c − tot_a + k_i), strictly
    * positive wins, ties to the smallest community id, synchronous
    * sweeps, self-loops feeding 2s into k and 2m) — for COARSE community
    * graphs only: after one aggregation level the graph is index-state-
    * sized (hundreds-to-thousands of supernodes at ANY corpus scale),
    * and the distributed spelling pays 15-90 s of per-round planning/AQE
    * overhead for milliseconds of actual compute (measured at sf0.1 —
    * every DAG job < 400 ms while the driver sat in Catalyst). Same
    * posture as [[VectorIndex.knnSearch]]'s driver-held frontier: tiny
    * index-state work runs local, corpus-scale work stays distributed.
    * Round14Spec pins bit-equality against the distributed spelling.
    */
  private[graft] def louvainMovesLocal(
      vertices: Seq[Long], pairs: Seq[(Long, Long, Long)],
      selfLoops: Map[Long, Long], rounds: Int): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long,
      scala.collection.mutable.Map[Long, Long]]
    def add(a: Long, b: Long, w: Long): Unit =
      adj.getOrElseUpdate(a, scala.collection.mutable.Map.empty)
        .updateWith(b) { v => Some(v.getOrElse(0L) + w) }
    pairs.foreach { case (a, b, w) => add(a, b, w); add(b, a, w) }
    val k = vertices.map { v =>
      v -> (adj.get(v).map(_.values.sum).getOrElse(0L) +
        2L * selfLoops.getOrElse(v, 0L))
    }.toMap
    val m2 = BigInt(2) * (pairs.map(p => BigInt(p._3)).sum +
      selfLoops.values.map(BigInt(_)).sum)
    var lbl = vertices.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      val tot = lbl.toSeq.groupBy(_._2)
        .map { case (c, vs) => c -> vs.map(x => BigInt(k(x._1))).sum }
      val moves = vertices.flatMap { i =>
        val kic = adj.getOrElse(i, scala.collection.mutable.Map.empty)
          .toSeq.groupBy(e => lbl(e._1))
          .map { case (c, es) => c -> es.map(_._2).sum }
        val a = lbl(i)
        val kia = BigInt(kic.getOrElse(a, 0L))
        val cands = kic.keys.filter(_ != a).flatMap { nc =>
          val gain = m2 * (BigInt(kic(nc)) - kia) -
            BigInt(k(i)) * (tot(nc) - tot(a) + BigInt(k(i)))
          if (gain > 0) Some((gain, nc)) else None
        }
        if (cands.isEmpty) None
        else {
          // max gain, ties to the SMALLEST community id
          val best = cands.reduce { (x, y) =>
            if (x._1 > y._1 || (x._1 == y._1 && x._2 < y._2)) x else y }
          Some(i -> best._2)
        }
      }.toMap
      lbl = lbl.map { case (v, c) => v -> moves.getOrElse(v, c) }
    }
    lbl
  }

  /** [[louvainMoves]] with the coarse-graph fast path: when the pair
    * frame is at or under `localMax` rows (community graphs after level 1
    * are index-state-sized at ANY corpus scale — the documented
    * bounded-driver posture of [[boruvkaForest]]'s contraction and the
    * knnSearch beam), run the bit-equal driver-local replica
    * [[louvainMovesLocal]] instead of paying 15-90 s of per-round
    * planning/AQE overhead for milliseconds of compute; above the bound,
    * the distributed sweeps run unchanged. `pairs` should already be
    * checkpointed — the count and the collect both read it. Round14Spec
    * (dendrogram levels) and Round15Spec (louvain_multi level 2) pin
    * local ≡ distributed bit-equality.
    */
  def louvainMovesAuto(vertices: DataFrame, pairs: DataFrame, rounds: Int,
                       selfLoops: Option[DataFrame] = None,
                       localMax: Long = 1000000L): DataFrame = {
    if (pairs.count() <= localMax) {
      val s = pairs.sparkSession
      import s.implicits._
      val es = pairs.select(col("a"), col("b"), col("w")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val sl = selfLoops.map(_.select(col("id"), col("s")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap)
        .getOrElse(Map.empty[Long, Long])
      val vs = vertices.select(col("part")).collect().map(_.getLong(0)).toSeq
      louvainMovesLocal(vs, es, sl, rounds).toSeq.toDF("id", "community")
    } else louvainMoves(vertices, pairs, rounds, selfLoops = selfLoops)
  }

  /** Multi-level Louvain TO CONVERGENCE with a flattened dendrogram:
    * `levels` rounds of (synchronous [[louvainMoves]] sweeps → coarsen via
    * [[louvainCoarsen]]), emitting one row per ORIGINAL vertex with its
    * community at every level — the community-path output a hierarchy
    * query serves (`id, c1, c2, …, cL`, each cℓ the vertex's level-ℓ
    * supernode). Convergence: when a level's sweeps move NOTHING (every
    * supernode keeps its own label), that level is a FIXPOINT of the move
    * rule — further sweeps and coarsenings are identity maps — so the
    * remaining level columns are filled by copying labels forward without
    * running them. The early stop is therefore output-IDENTICAL to the
    * fully unrolled computation (and to the unrolled-CTE oracle): it cuts
    * cost, never results. Schema is fixed at `levels` columns regardless
    * of where convergence lands, keeping the frame hash-stable.
    *
    * Scale shape: level 1 dominates (|E|-sized sweeps); every later level
    * runs on the community graph. The dendrogram join chain is one
    * |V|-row frame widened by L−1 broadcast-sized label maps.
    */
  def louvainDendrogram(vertices: DataFrame, pairs: DataFrame, levels: Int,
                        rounds: Int): DataFrame = {
    require(levels >= 1 && levels <= 4,
      s"louvainDendrogram supports 1-4 levels (got $levels)")
    // checkpoint the input ONCE: the level-1 moves read it three ways
    // (adjacency, degree, 2m) and the coarsen reads it again — an uncp'd
    // caller plan (e.g. the co-purchase self-join) would be re-derived
    // per consumer (measured 91 s vs 24 s at sf0.1 bench)
    var curPairs = pairs.select(col("a"), col("b"), col("w")).cp()
    var lbl = louvainMoves(vertices, curPairs, rounds).cp()
    var dendro = lbl.select(col("id"), col("community").as("c1"))
    var curSelf: Option[DataFrame] = None
    var converged = false
    for (l <- 2 to levels) {
      if (!converged) {
        val (e2r, s2, v2) = louvainCoarsen(curPairs, curSelf, lbl)
        val e2 = e2r.cp()
        // the coarse community graph is index-state-sized after level 1;
        // below the bound, run the IDENTICAL exact-integer algebra
        // locally ([[louvainMovesLocal]] — the measured 45-90 s of
        // per-round planning/AQE overhead bought milliseconds of compute)
        val l2 = louvainMovesAuto(v2, e2, rounds, Some(s2)).cp()
        converged = l2.filter(col("community") =!= col("id")).isEmpty
        dendro = dendro.join(
          l2.select(col("id").as(s"c${l - 1}"),
            col("community").as(s"c$l")),
          Seq(s"c${l - 1}"))
        curPairs = e2; curSelf = Some(s2); lbl = l2
      } else {
        // fixpoint: the level-(l-1) move sweeps kept every label, so
        // level l's labels are the same frame under an identity coarsen
        dendro = dendro.withColumn(s"c$l", col(s"c${l - 1}"))
      }
    }
    dendro.select(col("id") +: (1 to levels).map(i => col(s"c$i")): _*)
  }

  /** Run independent driver-side build thunks CONCURRENTLY (guide §2.6 —
    * overlap independent jobs so the tail of one fixpoint's tiny rounds
    * back-fills executors freed by another): each thunk typically drives
    * its own iterative loop (actions inside). Results come back in input
    * order, so downstream unions stay deterministic. Spark's scheduler is
    * designed for concurrent job submission, and no thunk path writes
    * session state. A thunk failure propagates.
    */
  private[graft] def inParallel[T](thunks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val futs = thunks.map(t => pool.submit(
        new java.util.concurrent.Callable[T] { def call(): T = t() }))
      futs.map(_.get())
    } finally pool.shutdown()
  }

  /** Connected components WITHOUT GraphX: min-label propagation iterated to
    * the fixpoint on [[minLabelFixpoint]] over the mirrored pairs
    * (convergence = zero changed labels). Labels = min vertex id per
    * component — identical to GraphX ConnectedComponents and to the
    * recursive min-label oracle. Pairs with an endpoint outside `vertices`
    * are dropped. O(graph diameter) rounds: a chain-shaped component whose
    * minimum id sits at one end takes one round per hop. Adopting the
    * label of the current label each round would cut that to O(log
    * diameter), but in the DataFrame regime it costs a second
    * checkpointed join per round, which on the registry's co-purchase and
    * near-dup graphs outweighs the about one round it saves. Only
    * [[boruvkaForest]]'s contraction above its `localContractMax` bound
    * (1M components) can hand this a long chain.
    *
    * Regimes: with |V| ≤ `broadcastMaxRows` the labels are a driver
    * `long[]` and each round is ONE job of the [[Csr]] kernel over the
    * pairs, read once; above it the pairs are checkpointed once and the
    * rounds propagate ONLY from the frontier — the rows whose label
    * improved last round — with the label-frame broadcast GATED on its row
    * count (see [[minLabelFixpoint]]). The mirror is one `explode`, so the
    * caller's pair lineage is read once in either regime.
    */
  def connectedComponentsDf(vertices: DataFrame, pairs: DataFrame,
                            broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val flow = pairs.select(explode(array(
        struct(col("a").as("from"), col("b").as("to")),
        struct(col("b").as("from"), col("a").as("to")))).as("e"))
      .select(col("e.from"), col("e.to"))
    minLabelFixpoint(vertices.select(col("part").as("id"), col("part").as("lbl")),
        flow, 0, broadcastMaxRows)
      .select(col("id"), col("lbl").as("comp"))
  }

  /** Borůvka minimum spanning forest over weighted undirected edges
    * `(a, b, w)` — THE parallel MST algorithm (each round every component
    * picks its lightest outgoing edge, then components contract), and the
    * backbone/sparsification primitive a graph store serves. Edges are
    * totally ordered by the lexicographic key (w, a, b); since (a, b) is
    * unique per edge the order is strict, so by the cut property the
    * returned forest is the UNIQUE minimum spanning forest — bit-stable
    * across engines and runs, no float, no RNG (Round15Spec's independent
    * witness is a local Kruskal under the same key).
    *
    * Scale: the component count at least HALVES each round (every
    * component merges along its picked edge), so the outer loop is
    * ≤ log₂|V| rounds — fixpoint-depth-bounded like
    * [[connectedComponentsDf]], never data-sized. Per round: two label
    * joins against |E| and a min-struct collapse of the component
    * MULTIGRAPH to one row per unordered component pair (lossless by the
    * cycle property — only the pair-min edge can enter the forest; the
    * frame shrinks quadratically with the component count) — the only
    * data-sized work. When the collapsed pair frame is at or under
    * `localFinishMax` rows, ONE driver-local Kruskal under the global
    * (w, a, b) order finishes every remaining round at once (Kruskal on
    * the contracted min-per-pair graph yields exactly the remaining MSF
    * edges) — the long tail of tiny rounds costs driver time, not
    * per-round job latency. Contraction runs over the PICKED-edge
    * component graph (≤ |components| rows, shrinking geometrically);
    * when that graph is at or under `localContractMax` rows it is a
    * driver-local union-find + one broadcast relabel join (the
    * documented ≤1M-row bounded-driver posture of the Louvain coarse
    * levels — the picked pseudo-forest can be a long CHAIN, and a
    * distributed label fixpoint pays one full pass per chain hop for a
    * frame that fits in one task), and only above the bound does it fall
    * back to the distributed [[connectedComponentsDf]] fixpoint — at 10⁹
    * vertices that fallback runs for the first ~⌈log₂(V/10⁶)⌉ rounds,
    * after which halving pulls the component graph under the bound; on a
    * chain-shaped picked graph each of those rounds costs O(chain length)
    * CC rounds. The round-0 fast path and the endgame run one local
    * Kruskal; it and the local contraction share one union-find.
    * `maxRounds` is a runaway backstop (48 covers 2⁴⁸ components), not a
    * tuning knob.
    */
  def boruvkaForest(edges: DataFrame, maxRounds: Int = 48,
                    localFinishMax: Long = 2000000L,
                    localContractMax: Long = 1000000L,
                    broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // driver-local union-find with min-id roots (deterministic labels)
    final class UnionFind {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      /** Merges the sets of x and y; false when they were already one. */
      def union(x: Long, y: Long): Boolean = {
        val (rx, ry) = (find(x), find(y))
        if (rx < ry) parent(ry) = rx else if (ry < rx) parent(rx) = ry
        rx != ry
      }
    }
    // ONE local Kruskal under the global (w, a, b) order over (w, a, b, ca,
    // cb) rows: edge (a, b) enters the forest when it joins components ca
    // and cb (the raw endpoints in round 0, parallel duplicates just fail
    // their union). An edge has one (ca, cb) per round, so the whole-tuple
    // order IS the (w, a, b) order, and sorting on the tuple itself builds
    // no key tuple per comparison (that cost ~1 s of driver time on the
    // sf0.1 co-purchase edges)
    def kruskal(rows: DataFrame): DataFrame = {
      val uf = new UnionFind
      rows.select(col("w"), col("a"), col("b"), col("ca"), col("cb")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .sortBy(identity)
        .filter { case (_, _, _, ca, cb) => uf.union(ca, cb) }
        .map { case (w, a, b, _, _) => (a, b, w) }
        .toSeq.toDF("a", "b", "w")
    }
    val (e, nE) = Ckpt.cpCounted(edges.select(col("a"), col("b"), col("w").cast("long").as("w")))
    // round-0 fast path: labels start as the identity, so the label joins
    // and the pair collapse are no-ops — if the raw edge list already fits
    // the local-finish bound (2M rows ≈ 80 MB of longs, the same
    // bounded-driver posture as the ≤1M-edge coarse Louvain levels), one
    // local Kruskal IS the whole algorithm
    if (nE <= localFinishMax)
      return kruskal(e.select(col("w"), col("a"), col("b"),
        col("a").as("ca"), col("b").as("cb")))
    // labels start 1:1 with vertices
    var (lab, nComp) = Ckpt.cpCounted(e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v"))).distinct().select(col("v"), col("v").as("c")))
    var forest: DataFrame = e.filter(lit(false))
    var rounds = 0
    var outgoing = 1L
    while (rounds < maxRounds && outgoing > 0) {
      // collapse the component MULTIGRAPH first: between two current
      // components only the (w, a, b)-min parallel edge can ever enter
      // the forest (cycle property), so one row per unordered pair is a
      // lossless frame — it shrinks quadratically with the component
      // count while |E| stays fixed
      val el = e
        .join(lab.select(col("v").as("a"), col("c").as("ca")), "a")
        .join(lab.select(col("v").as("b"), col("c").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
      val k = struct(col("w"), col("a"), col("b"), col("ca"), col("cb"))
      val (pairMin, nPairs) = Ckpt.cpCounted(el
        .select(least(col("ca"), col("cb")).as("pa"),
          greatest(col("ca"), col("cb")).as("pb"), k.as("k"))
        .groupBy(col("pa"), col("pb")).agg(min(col("k")).as("k"))
        .select(col("k.w").as("w"), col("k.a").as("a"), col("k.b").as("b"),
          col("k.ca").as("ca"), col("k.cb").as("cb")))
      outgoing = nPairs
      if (outgoing > 0 && outgoing <= localFinishMax) {
        // endgame: the whole component-level edge list fits the bounded-
        // driver posture — ONE local Kruskal under the global (w, a, b)
        // order finishes every remaining round (Kruskal on the contracted
        // min-per-pair graph is exactly the remaining MSF edges), instead
        // of paying per-round job latency down the long tail
        forest = forest.unionAll(kruskal(pairMin))
        outgoing = 0L
      } else if (outgoing > 0) {
        // a full Borůvka round on the collapsed pair frame: each endpoint
        // component picks its min edge (the struct carries the component
        // ids along, so contraction needs no further edge-list join)
        val both = pairMin.select(col("ca").as("c"), k.as("k"))
          .unionAll(pairMin.select(col("cb").as("c"), k.as("k")))
        // distinct: the two endpoint components of an edge both pick it
        val picked = both.groupBy(col("c")).agg(min(col("k")).as("k"))
          .select(col("k.w").as("w"), col("k.a").as("a"), col("k.b").as("b"),
            col("k.ca").as("ca"), col("k.cb").as("cb"))
          .distinct().cp()
        forest = forest.unionAll(picked.select(col("a"), col("b"), col("w")))
        if (nComp <= localContractMax) {
          // bounded-driver contraction: ≤ nComp picked pairs through the
          // union-find, one broadcast relabel join — no inner fixpoint
          val uf = new UnionFind
          picked.select(col("ca"), col("cb")).collect()
            .foreach(r => uf.union(r.getLong(0), r.getLong(1)))
          val mapping = uf.parent.keys.toSeq.map(cId => (cId, uf.find(cId)))
            .filter { case (cId, r) => cId != r }
          nComp -= mapping.length
          val mapDf = mapping.toDF("c", "newc")
          lab = lab.join(broadcast(mapDf), Seq("c"), "left")
            .select(col("v"), coalesce(col("newc"), col("c")).as("c")).cp()
        } else {
          // scale path: distributed CC over the picked component graph
          val pe = picked.select(col("ca").as("a"), col("cb").as("b"))
          val cverts = lab.select(col("c").as("part")).distinct()
          val merged = connectedComponentsDf(cverts, pe, broadcastMaxRows)
            .alias("m")
          lab = lab.alias("l").join(merged, col("l.c") === col("m.id"))
            .select(col("l.v").as("v"), col("m.comp").as("c")).cp()
          nComp = lab.select(col("c")).distinct().count()
        }
      }
      rounds += 1
    }
    forest.select(col("a"), col("b"), col("w"))
  }

  /** The one min-label loop behind [[connectedComponentsDf]], both
    * colorings of [[stronglyConnectedComponents]] and [[dagLevels]] — a
    * Pregel superstep (vertex ⋈ message, halt test in the same round).
    * Labels flow `from` → `to` along `flow`, each hop adds `step`, and
    * every vertex keeps the least label it has seen, until no label
    * changes. `init` is the hop-0 (id, lbl) frame; the result is the
    * fixpoint (id, lbl) over the same ids. Flow rows with an endpoint
    * outside `init` are dropped.
    *
    * Regimes: with |V| ≤ `broadcastMaxRows` and unique ids, the labels are
    * a driver `long[]` and the flow one [[Csr]], read once: a round is ONE
    * job folding min(lbl) per `to` ([[minLabelRounds]]), and the (id, lbl)
    * frame is built once at the end. Above the gate the flow is
    * checkpointed once, clustered on its group key `to`, and a round is
    * DataFrames: the frontier — the rows whose label changed last round,
    * every row in round 1 — joins the flow, broadcast-GATED on its row
    * count; one min(lbl) + step aggregate per `to`; `least` against the
    * current label; one checkpoint and one count of the changed rows,
    * which is both the halt test and the next round's gate. Frontier
    * gating is exact because labels only decrease: a vertex whose label
    * did not change last round has already folded its current label into
    * every flow successor (the Bellman-Ford queue argument), so every
    * round's labels equal a full-frame relaxation's — the kernel's — and
    * both regimes run the same rounds.
    *
    * With `step` = 0 a label settles once the least label reaching the
    * vertex has arrived, so rounds ≤ the longest shortest flow path + 1.
    * With `step` = −1 on a DAG the label is −(longest path into the
    * vertex), so rounds ≤ depth + 1. Both are ≤ |V|, so the `|V| + 1`
    * round guard never fires on valid input; a negative `step` around a
    * cycle lowers labels forever and trips it.
    */
  private def minLabelFixpoint(init: DataFrame, flow: DataFrame, step: Int,
                               broadcastMaxRows: Long): DataFrame =
    driverArrays(init.select(col("id"), col("lbl")), broadcastMaxRows) match {
      case Right((ids, lbl)) =>
        val csr = Csr(flow.select(col("from").as("src"), col("to").as("dst")), ids, ids)
        try minLabelRounds(csr, lbl, step, Array.fill(ids.length)(true))
        finally csr.release()
        val sess = init.sparkSession
        import sess.implicits._
        ids.zip(lbl).toSeq.toDF("id", "lbl")
      case Left(nV) =>
        val (fl, _) = Ckpt.cpCounted(flow.select(col("from"), col("to")), col("to"))
        var labels = init.select(col("id"), col("lbl")).cp()
        var frontier = labels
        var frontierRows = nV // the label frame stays exactly |V| rows
        var round = 0L
        while (frontierRows > 0) {
          round += 1
          require(round <= nV + 1,
            s"min-label fixpoint did not converge in ${nV + 1} rounds — cycle in input?")
          val nbrMin = fl.join(hinted(frontier, frontierRows, broadcastMaxRows),
              col("from") === col("id"))
            .groupBy(col("to").as("nid")).agg((min(col("lbl")) + step).as("nmin"))
          // `prev` rides along so the round's diff is a FILTER on the
          // checkpointed frame instead of a join against the old labels
          val next = labels.join(nbrMin, col("id") === col("nid"), "left")
            .select(col("id"), col("lbl").as("prev"),
              least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
            .cp()
          frontier = next.filter(col("lbl") < col("prev"))
            .select(col("id"), col("lbl"))
          frontierRows = frontier.count()
          labels = next.select(col("id"), col("lbl"))
        }
        labels
    }

  /** [[minLabelFixpoint]]'s rounds on the kernel: relaxes `lbl` (indexed
    * like the csr's ids) in place to its fixpoint over the `live`
    * vertices; the others neither send nor receive. The changed-row count
    * is the halt test, under the same `|V| + 1` round guard.
    */
  private def minLabelRounds(csr: Csr, lbl: Array[Long], step: Int,
                             live: Array[Boolean]): Unit = {
    val nV = live.count(identity).toLong
    var changed = nV
    var round = 0L
    while (changed > 0) {
      round += 1
      require(round <= nV + 1,
        s"min-label fixpoint did not converge in ${nV + 1} rounds — cycle in input?")
      val nmin = csr.fold(Array.tabulate(lbl.length)(i => if (live(i)) lbl(i) else Long.MaxValue),
        Long.MaxValue, (a, b) => math.min(a, b))
      changed = 0
      for (i <- lbl.indices if live(i) && nmin(i) != Long.MaxValue && nmin(i) + step < lbl(i)) {
        lbl(i) = nmin(i) + step
        changed += 1
      }
    }
  }

  /** Strongly connected components of a DIRECTED (src, dst) edge frame —
    * iterated forward/backward min-label coloring. Each outer round runs
    * two [[minLabelFixpoint]] colorings (step 0) over the still-unassigned
    * subgraph: fwd(v) = min id v can reach (labels flow along reversed
    * edges), bwd(v) = min id that can reach v (labels flow along the
    * edges). A vertex with fwd(v) = bwd(v) = c both reaches c and is
    * reached by c, so it sits in c's SCC and is labeled `scc = c` — and
    * because every member of one SCC sees identical fwd/bwd over the same
    * remaining graph, whole SCCs retire atomically with c = the SCC's
    * minimum id (c is forward-reachable from all members, so c ≤ min; c is
    * a member, so c = min). The remaining-graph minimum always satisfies
    * the predicate, so ≥ 1 SCC retires per round — the round cap is a
    * convergence assertion, not a semantics knob. Edges with an endpoint
    * outside `vertices` are dropped.
    *
    * Regimes: with |V| ≤ `broadcastMaxRows` (and unique ids) both
    * orientations become one [[Csr]] each, built once; the retired
    * vertices are a driver-side mask over both, so a round restricts the
    * subgraph for free and each coloring round is ONE job
    * ([[minLabelRounds]]). Above the gate every per-round frame is vertex-
    * or edge-sized, the label joins are broadcast-GATED on measured row
    * counts, and the subgraph restriction is two semi-joins on the retired
    * set, checkpointed per round — nothing materializes pairs. Worst-case
    * outer rounds = the condensation's chain length (a long path of
    * singleton SCCs) ≤ |V|, so the cap is the input's vertex count — a
    * valid input can exhaust patience, never trip a require(); the
    * assertion fires solely on a genuine non-convergence bug.
    */
  def stronglyConnectedComponents(vertices: DataFrame, edges: DataFrame,
                                  broadcastMaxRows: Long = BroadcastMaxRows): DataFrame =
    driverArrays(vertices.select(col("id"), col("id").as("x")), broadcastMaxRows) match {
      case Right((ids, _)) =>
        val e = edges.select(col("src"), col("dst"))
        val Seq(fwd, bwd) = Seq(e.select(col("dst").as("src"), col("src").as("dst")), e)
          .map(Csr(_, ids, ids))
        val live = Array.fill(ids.length)(true)
        val scc = new Array[Long](ids.length)
        var (left, round) = (ids.length, 0)
        try while (left > 0) {
          round += 1
          require(round <= ids.length, s"SCC coloring did not converge in ${ids.length} rounds")
          val (f, b) = (ids.clone(), ids.clone())
          minLabelRounds(fwd, f, 0, live)
          minLabelRounds(bwd, b, 0, live)
          for (i <- ids.indices if live(i) && f(i) == b(i)) {
            scc(i) = f(i)
            live(i) = false
            left -= 1
          }
        } finally Seq(fwd, bwd).foreach(_.release())
        val sess = vertices.sparkSession
        import sess.implicits._
        ids.zip(scc).toSeq.toDF("id", "scc")
      case Left(nV) =>
        var remV = vertices.select(col("id")).cp()
        var remE = edges.select(col("src"), col("dst")).cp()
        var out: DataFrame = null
        var nRem = nV
        // ≥ 1 SCC retires per round ⇒ ≤ |V| rounds suffice for ANY input
        val roundCap = nRem
        var round = 0
        while (nRem > 0) {
          round += 1
          require(round <= roundCap,
            s"SCC coloring did not converge in $roundCap rounds")
          val own = remV.select(col("id"), col("id").as("lbl"))
          val fwd = minLabelFixpoint(own,
            remE.select(col("dst").as("from"), col("src").as("to")), 0,
            broadcastMaxRows)
          val bwd = minLabelFixpoint(own,
            remE.select(col("src").as("from"), col("dst").as("to")), 0,
            broadcastMaxRows)
          val done = fwd.as("f").join(bwd.as("b"), col("f.id") === col("b.id"))
            .filter(col("f.lbl") === col("b.lbl"))
            .select(col("f.id").as("id"), col("f.lbl").as("scc"))
            .cp()
          out = if (out == null) done else out.unionAll(done)
          val (rest, nRest) =
            Ckpt.cpCounted(remV.join(done.select(col("id")), Seq("id"), "left_anti"))
          remV = rest
          nRem = nRest
          if (nRem > 0) {
            remE = remE
              .join(remV.select(col("id").as("src")), Seq("src"), "left_semi")
              .join(remV.select(col("id").as("dst")), Seq("dst"), "left_semi")
              .select(col("src"), col("dst"))
              .cp()
          }
        }
        if (out == null) vertices.select(col("id"), col("id").as("scc"))
        else out
    }

  /** Transitive closure of a seed set along directed (from, to) flow rows:
    * returns the ids reachable from ANY seed, INCLUDING the seeds
    * themselves. Every seed shares lane 0 of [[frontierHops]], so the loop
    * expands each vertex exactly once and runs until the frontier empties
    * (no hop cap). Total work = O(|reached edges|) across all hops. Below
    * the broadcast gate each hop is one job of the [[Csr]] kernel over one
    * read of the flow; above it, a checkpointed DataFrame loop.
    */
  def reachClosure(seeds: DataFrame, flow: DataFrame,
                   broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val seed = seeds.select(col("id"), lit(1L).as("mask")).distinct()
    val Seq(reached) = frontierHops(flow.select(col("from").as("src"), col("to").as("dst")),
      Seq((seed, seed.count())), Int.MaxValue, broadcastMaxRows)
    reached.select(col("id"))
  }

  /** Longest-path levels of a DAG given as (src, dst) rows: level(v) = 0
    * for sources, else 1 + max level over predecessors — the topological
    * depth used to schedule/stage a condensation. Runs on
    * [[minLabelFixpoint]] with every label starting at 0 and step −1, so a
    * label is −level: one [[Csr]] job per round below the broadcast gate,
    * frontier- and broadcast-gated DataFrame rounds above it, and a DAG of
    * depth d converges in d + 1 rounds either way. The round cap is
    * derived from the input's vertex count (depth < |V|), so a
    * chain-shaped DAG of any length converges legitimately — the require()
    * fires only on a true cycle, where levels keep rising past every
    * possible DAG depth.
    */
  def dagLevels(vertices: DataFrame, edges: DataFrame,
                broadcastMaxRows: Long = BroadcastMaxRows): DataFrame =
    minLabelFixpoint(vertices.select(col("id"), lit(0L).as("lbl")),
        edges.select(col("src").as("from"), col("dst").as("to")), -1,
        broadcastMaxRows)
      .select(col("id"), (-col("lbl")).as("lvl"))

  /** The one frontier loop behind [[bfsHops]], [[multiBfsHops]] and
    * [[reachClosure]]: MS-BFS over up to 64 bit lanes (Then et al., "The
    * More the Merrier: Efficient Multi-Source BFS", VLDB 2015). State is
    * keyed by VERTEX with one BIGINT whose bit i records "lane i has
    * reached this vertex". Per hop every vertex ORs the frontier masks of
    * its in-neighbours along the (src, dst) `flow` and keeps the
    * first-reach bits `contrib & ~visited` — so per (lane, vertex) exactly
    * one hop emits the bit.
    *
    * `passes` are hop-0 (id, mask) seed frames with their row counts, run
    * in turn over one read of the flow. Returns per pass the (id, dist,
    * mask) rows of every first reach, the seed rows at dist 0 included.
    * A pass stops after `maxHops` hops or when its frontier empties. The
    * flow's rows may repeat and arrive in any order: a repeated row is one
    * edge.
    *
    * Regimes: the flow is shuffled by dst once, into the materialized
    * blocks of a [[Csr]], whose build job also returns each block's
    * distinct dst count. With those plus the seed rows ≤ `broadcastMaxRows`,
    * the blocks' dst ids are collected and the blocks become one [[Csr]]
    * over the dst and seed ids, the masks are driver `long[]`s, a hop is
    * ONE job (a `bit_or` fold), and a pass's frame is built once at its
    * end. Above the gate the blocks' distinct rows are the (a, b)
    * adjacency, so the shuffle is read once in both regimes, and a hop is
    * [[frontierHop]]: a join of the frontier into it, a bit_or of the
    * reaching lanes per neighbor (the mask aggregate folds map-side) and
    * one counted checkpoint; the frontier and visited sides are
    * broadcast-GATED on their row counts, which that checkpoint returns
    * and which also detect termination, so a frontier that balloons
    * toward |V| degrades to a shuffle join instead of OOMing on the hint.
    */
  private def frontierHops(flow: DataFrame, passes: Seq[(DataFrame, Long)], maxHops: Int,
                           broadcastMaxRows: Long): Seq[DataFrame] = {
    val sess = flow.sparkSession
    import sess.implicits._
    val (blocks, nDst) = Csr.blocks(Csr.byDst(flow))
    if (nDst.sum + passes.map(_._2).sum <= math.min(broadcastMaxRows, Int.MaxValue)) {
      val seeds = passes.map(_._1.select(col("id").cast("long"), col("mask").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))))
      val dsts = sess.sparkContext.runJob(blocks, (it: Iterator[CsrBlock]) => it.next().dst)
      val ids = sortedDistinct(dsts.flatten ++ seeds.flatten.map(_._1))
      val csr = new Csr(blocks, ids, ids)
      try seeds.map { seed =>
        val visited = new Array[Long](ids.length)
        for ((v, m) <- seed) visited(java.util.Arrays.binarySearch(ids, v)) |= m
        val reached = ArrayBuffer.from(
          for (i <- ids.indices if visited(i) != 0) yield (ids(i), 0L, visited(i)))
        var frontier = visited.clone()
        var h = 1L
        while (h <= maxHops && frontier.exists(_ != 0)) {
          val contrib = csr.fold(frontier, 0L, _ | _)
          frontier = Array.tabulate(ids.length)(i => contrib(i) & ~visited(i))
          for (i <- ids.indices if frontier(i) != 0) {
            visited(i) |= frontier(i)
            reached += ((ids(i), h, frontier(i)))
          }
          h += 1
        }
        reached.toSeq.toDF("id", "dist", "mask")
      } finally csr.release()
    } else {
      val adj = Csr.edges(sess, blocks).toDF("a", "b")
      try passes.map { case (p, seedRows) =>
        val seed = p.cp()
        var visited = seed
        var frontier = seed
        var frontierRows = seedRows
        var visitedRows = seedRows // upper bound is enough for the gate
        var h = 1L
        var levels = Seq(seed.select(col("id"), lit(0L).as("dist"), col("mask")))
        while (h <= maxHops && frontierRows > 0) {
          val (fresh, freshRows) = Ckpt.cpCounted(frontierHop(adj, frontier, frontierRows,
            visited, visitedRows, broadcastMaxRows))
          frontierRows = freshRows
          if (frontierRows > 0) {
            levels = levels :+ fresh.select(col("id"), lit(h).as("dist"),
              col("mask"))
            visited = visited.unionAll(fresh).groupBy(col("id"))
              .agg(expr("bit_or(mask)").as("mask")).cp()
            visitedRows += frontierRows
            frontier = fresh
            h += 1
          }
        }
        levels.reduce(_ unionAll _)
      } finally blocks.unpersist(blocking = false)
    }
  }

  /** One above-gate hop of [[frontierHops]]: the (id, mask) rows whose
    * mask holds the lanes that reach `id` for the first time. Its own
    * function so `tools.DumpHopPlan` explains the exact plan that regime
    * runs.
    */
  private[graft] def frontierHop(adj: DataFrame, frontier: DataFrame,
                                 frontierRows: Long, visited: DataFrame,
                                 visitedRows: Long,
                                 broadcastMaxRows: Long): DataFrame =
    adj.join(hinted(frontier, frontierRows, broadcastMaxRows),
        col("a") === col("id"))
      .groupBy(col("b").as("nid"))
      .agg(expr("bit_or(mask)").as("cmask"))
      .join(hinted(visited, visitedRows, broadcastMaxRows),
        col("nid") === col("id"), "left")
      .select(col("nid").as("id"),
        col("cmask").bitwiseAND(
          coalesce(col("mask"), lit(0L)).bitwiseXOR(lit(-1L)))
          .as("mask"))
      .filter(col("mask") =!= 0L)

  /** MULTI-source BFS hop distances: [[bfsHops]] generalized to a frame of
    * source vertices — the landmark pattern, where k-source BFS costs one
    * traversal, not k. `sources` must expose a `src` column. Output
    * (src, id, dist) for every (source, reachable vertex) pair.
    *
    * The source ids are collected to the driver (landmark frames are tiny
    * by construction: orderBy + limit). The distinct ids, in sorted order,
    * are dealt into 64-lane passes of [[frontierHops]] over one read of
    * the flow — ⌈|S|/64⌉ sequential passes, one lane per source, so the
    * landmark ops' 8 sources run in one pass; below the broadcast gate a
    * hop is one [[Csr]] job, above it a checkpointed DataFrame round. Each
    * pass's first-reach masks are exploded back to (src, id, dist) once at
    * the END, never inside the hop loop. The hop-0 self rows come from the
    * raw source list, so a duplicated source row yields a duplicated dist-0
    * row and nothing else. A duplicated `edgesBoth` row is one edge.
    */
  def multiBfsHops(edgesBoth: DataFrame, sources: DataFrame, maxHops: Int,
                   broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val sess = edgesBoth.sparkSession
    import sess.implicits._
    val raw = sources.select(col("src")).collect().map(_.getLong(0)).toSeq
    val lanes = raw.distinct.sorted.grouped(64).map(_.zipWithIndex).toSeq
    val reached = frontierHops(edgesBoth.select(col("a").as("src"), col("b").as("dst")),
      lanes.map(ls => (ls.map { case (s, i) => (s, 1L << i) }.toDF("id", "mask"), ls.size.toLong)),
      maxHops, broadcastMaxRows)
    val zero = raw.map(s => (s, s, 0L)).toDF("src", "id", "dist")
    (zero +: lanes.zip(reached).map { case (ls, r) =>
      r.filter(col("dist") > 0)
        .join(broadcast(ls.toDF("bsrc", "bit")),
          expr("(mask & shiftleft(cast(1 as bigint), bit)) != 0"))
        .select(col("bsrc").as("src"), col("id"), col("dist"))
    }).reduce(_ unionAll _)
  }

  /** [[multiBfsHops]] carrying Brandes path counts: per (src, id) the hop
    * distance AND σ = the exact BIGINT number of distinct shortest
    * src→id paths (each hop's σ is the sum of the predecessors' σ — the
    * level-synchronous forward pass of Brandes' betweenness algorithm).
    * Output (src, id, dist, sigma), one row per reached pair, hop-0 rows
    * included. σ is exact while it fits BIGINT (levels are capped by
    * maxHops, so the combinatorial blowup of an unbounded small-world
    * expansion is bounded by construction).
    */
  def multiBfsSigma(edgesBoth: DataFrame, sources: DataFrame, maxHops: Int,
                    broadcastMaxRows: Long = BroadcastMaxRows): DataFrame =
    sigmaForward(edgesBoth.select(col("a"), col("b")).cp(), sources,
      maxHops, broadcastMaxRows)._1

  /** The forward σ loop of [[multiBfsSigma]] and [[brandes]] over a
    * checkpointed (a, b) adjacency. Per hop, the broadcast-gated frontier
    * streams the adjacency, a first-visit anti-join drops (src, b) pairs
    * already in the state, and one groupBy(src, b) both dedups the new
    * frontier and sums σ in one exchange. Returns the checkpointed
    * (src, id, dist, sigma) state, its exact row count and its deepest
    * dist (0 when no source reaches anything).
    */
  private def sigmaForward(adj: DataFrame, sources: DataFrame, maxHops: Int,
                           broadcastMaxRows: Long): (DataFrame, Long, Long) = {
    var (state, frontierRows) = Ckpt.cpCounted(sources.select(col("src"), col("src").as("id"),
      lit(0L).as("dist"), lit(1L).as("sigma")))
    var frontier = state.select(col("src"), col("id"), col("sigma"))
    var stateRows = frontierRows // gates the visited-side broadcast
    var h = 1L
    var done = frontierRows == 0
    while (h <= maxHops && !done) {
      // first-visit anti BEFORE the σ fold (identical: visited (src, b)
      // groups are removed WHOLE either way, so the per-group sums are
      // untouched), broadcast-gated so it runs map-side and the fold's
      // exchange carries only new-frontier groups (r15, guide §2.3/§3.1)
      val (next, nextRows) = Ckpt.cpCounted(adj
        .join(hinted(frontier, frontierRows, broadcastMaxRows), col("a") === col("id"))
        .select(col("src"), col("b"), col("sigma"))
        .join(hinted(state.select(col("src"), col("id").as("b")), stateRows,
          broadcastMaxRows), Seq("src", "b"), "left_anti")
        .groupBy(col("src"), col("b"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("src"), col("b").as("id"), col("sigma")))
      frontierRows = nextRows
      if (frontierRows == 0) done = true
      else {
        state = state.unionAll(next.select(col("src"), col("id"),
          lit(h).as("dist"), col("sigma"))).cp()
        stateRows += frontierRows
        frontier = next.select(col("src"), col("id"), col("sigma"))
        h += 1
      }
    }
    (state, stateRows, h - 1)
  }

  /** Landmark Brandes over an undirected (a, b) edge frame (both
    * directions present): the forward σ loop of [[multiBfsSigma]], then
    * ONE backward loop that yields both betweenness ingredients. Returns
    *   - δ: (src, id, dist, delta, sigma) for every non-source visited
    *     vertex (dist ≥ 1; Brandes excludes δ(s,s));
    *   - credits: (src, va, wb, c), one row per shortest-path-DAG edge
    *     va→wb (dist_s(wb) = dist_s(va) + 1).
    * Both are MICRO-quantized (units of 1e-6 path-credits) so sums stay
    * exact BIGINTs: an edge's credit is the fixed double tree
    * `floor(σv/σw · (1e6 + δw) + 0.5)` on exact integer inputs (identical
    * IEEE ops on identical operands on any engine — the agg_chisq
    * determinism discipline), and a vertex's δ is the sum of its
    * out-edges' credits. Empty frames when no source reaches anything.
    *
    * The adjacency is checkpointed once and shared by both loops. The
    * backward loop runs level h from maxDist − 1 down to 0: `credit_h`
    * streams the adjacency through the broadcast-gated level-h σ frame
    * and the level-(h+1) (δ, σ) frame; for h ≥ 1 its sum per (src, va)
    * resolves the checkpointed level-h δ frame. `credit_h` itself is
    * never checkpointed: the credits frame is the LAZY union of the
    * per-level joins. The node op never evaluates it, so its plan is the
    * per-level spelling alone; the edge op re-runs each level's join
    * once, in its final query, instead of materializing a ≤ |S|·|E|-row
    * shortest-path-DAG frame that every level filters. Measured at sf0.1
    * on 4 cores (`perfbench.Main --keys graph_betweenness,
    * graph_edge_betweenness --passes 2 --trace 1`, min of two runs
    * alternating with the previous code, which materialized that DAG
    * frame for the edge op and re-counted the σ state for both;
    * traced/untraced, equal digests): edge betweenness 17.3/16.0 s,
    * 53 jobs → 14.9/12.8 s, 51 jobs; node betweenness 10.6/12.3 s,
    * 51 jobs → 10.4/11.8 s, 47 jobs.
    */
  def brandes(edgesBoth: DataFrame, sources: DataFrame, maxHops: Int,
              broadcastMaxRows: Long = BroadcastMaxRows): (DataFrame, DataFrame) = {
    val adj = edgesBoth.select(col("a"), col("b")).cp()
    val (st, stRows, maxDist) =
      sigmaForward(adj, sources, maxHops, broadcastMaxRows)
    val none = st.filter(lit(false))
    if (maxDist < 1) return (
      none.select(col("src"), col("id"), col("dist"), lit(0L).as("delta"),
        col("sigma")),
      none.select(col("src"), col("id").as("va"), col("id").as("wb"),
        lit(0L).as("c")))
    var deeper = st.filter(col("dist") === maxDist)
      .select(col("src"), col("id"), col("dist"), lit(0L).as("delta"),
        col("sigma")).cp()
    var deltas = Seq(deeper)
    var credits = Seq.empty[DataFrame]
    for (h <- (maxDist - 1) to 0L by -1L) {
      // the w side renames EVERY column: both frames descend from `st`,
      // and an unaliased v("src") === w("src") would resolve only through
      // dataset-id metadata (warning spam + a latent ambiguity hazard);
      // distinct names make the cross-source equality unambiguous
      val vlev = st.filter(col("dist") === h)
        .select(col("src"), col("id"), col("sigma"))
      val wlev = deeper
        .select(col("src").as("wsrc"), col("id").as("wid"),
          col("sigma").as("wsigma"), col("delta").as("wdelta"))
      // both sides are subsets of the σ state (≤ stRows rows): gated
      // broadcasts keep the |E| adjacency streaming, never sort-merged
      val credit = adj
        .join(hinted(vlev, stRows, broadcastMaxRows), adj("a") === vlev("id"))
        .join(hinted(wlev, stRows, broadcastMaxRows),
          col("b") === col("wid") && col("src") === col("wsrc"))
        .select(col("src"), col("id").as("va"), col("wid").as("wb"),
          floor(col("sigma").cast("double") /
            col("wsigma").cast("double") *
            (lit(1000000L) + col("wdelta")).cast("double") + lit(0.5))
            .cast("long").as("c"))
      credits = credits :+ credit
      if (h >= 1) {
        val contribs = credit.groupBy(col("src"), col("va").as("id"))
          .agg(sum(col("c")).as("delta"))
        deeper = vlev
          .join(hinted(contribs, stRows, broadcastMaxRows),
            Seq("src", "id"), "left")
          .select(col("src"), col("id"), lit(h).as("dist"),
            coalesce(col("delta"), lit(0L)).as("delta"), col("sigma")).cp()
        deltas = deltas :+ deeper
      }
    }
    (deltas.reduce(_ unionAll _), credits.reduce(_ unionAll _))
  }

  /** Bounded BFS WITHOUT GraphX: a single source on lane 0 of
    * [[frontierHops]] (one [[Csr]] job per hop below the broadcast gate,
    * a checkpointed DataFrame round above it). Output (id, dist) for
    * reachable vertices, dist = minimum hop count (identical to GraphX
    * ShortestPaths and the recursive BFS oracle). A duplicated `edgesBoth`
    * row is one edge.
    */
  def bfsHops(edgesBoth: DataFrame, src: Long, maxHops: Int,
              broadcastMaxRows: Long = BroadcastMaxRows): DataFrame = {
    val s = edgesBoth.sparkSession
    import s.implicits._
    val Seq(reached) = frontierHops(edgesBoth.select(col("a").as("src"), col("b").as("dst")),
      Seq((Seq((src, 1L)).toDF("id", "mask"), 1L)), maxHops, broadcastMaxRows)
    reached.select(col("id"), col("dist"))
  }

  /** Time-decayed popularity: score = Σ value · exp((day − max_day)/τ days),
    * top-k items. The max-day scalar is broadcast, never collected.
    * Per-event contributions are summed as exact BIGINTs — centi-quantized
    * value × per-day quantized exp decay (same determinism contract as
    * the registry op: integer aggregation, no FP reduction-order drift,
    * the transcendental never meets a decimal round()). Assumes `value`
    * carries ≤2 meaningful decimals (centi-unit quantization).
    */
  def trending(events: DataFrame, item: Column, tsMs: Column, value: Column,
               decayDays: Double, k: Int): DataFrame = {
    val e = events.select(item.as("item"),
      floor(tsMs.cast("long") / lit(86400000L)).cast("long").as("day"), value.as("value"))
    val maxDay = e.agg(max(col("day")).as("max_day"))
    e.crossJoin(broadcast(maxDay))
      .withColumn("vc", floor(col("value") * 100.0 + 0.5).cast("long"))
      .withColumn("qexp",
        floor(exp((col("day") - col("max_day")) / lit(decayDays)) * 1.0e8 + 0.5).cast("long"))
      .groupBy(col("item"))
      .agg(round(sum(col("vc") * col("qexp")) / 1.0e10, 4).as("score"), count(lit(1)).as("n"))
      .orderBy(col("score").desc, col("item"))
      .limit(k)
  }

  /** Bounded-hop min-distance reachability over a (src, dst) edge frame:
    * one row per (src, dst) pair connected by a directed path of 1 to
    * `maxHops` edges, with `hops` = the MINIMUM path length. The
    * variable-length-edge engine under [[matchPattern]] (`-[*1..k]->`).
    *
    * Scale shape: classic level-synchronous BFS on pairs — per level one
    * equi-join of the FRONTIER (pairs first reached last level) into the
    * edge frame keyed on the mid vertex, a pair-key distinct, and an
    * anti-join against the already-reached set, each checkpointed so the
    * plan stays level-sized. The per-level dedup is what keeps this
    * path-COUNT-free: frames are bounded by reachable pairs (≤ the
    * transitive closure truncated at k), never by the exponential number
    * of walks. maxHops is capped at 4 — a pattern edge is a short
    * template hop, not an unbounded traversal (reachClosure covers that).
    */
  def boundedReach(edges: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 4,
      s"boundedReach supports 1-4 hops (got $maxHops)")
    val base = edges.select(col("src"), col("dst")).distinct().cp()
    var reach = base.withColumn("hops", lit(1L))
    var frontier = base
    for (h <- 2 to maxHops) {
      val nxt = frontier.select(col("src"), col("dst").as("m"))
        .join(base.select(col("src").as("m"), col("dst")), Seq("m"))
        .select(col("src"), col("dst")).distinct()
        .join(reach.select(col("src"), col("dst")), Seq("src", "dst"),
          "left_anti")
        .cp()
      reach = reach.unionAll(nxt.withColumn("hops", lit(h.toLong))).cp()
      frontier = nxt
    }
    reach
  }

  /** Pattern-match bindings over a (src, dst, w) adjacency — the
    * graph-DB query surface a serving store exposes (MATCH-style small
    * templates: paths, triangles, fans, cycles), generalized from the
    * motif census's hand-built joins. Each [[EdgePattern]] names its
    * endpoint VARIABLES and optionally constrains the edge (`pred` over
    * the edge frame's columns) and exports its weight (`keepW`).
    * Variables shared between template edges become equi-join keys; each
    * template edge must share at least one variable with the earlier
    * ones (connected patterns only — a disconnected edge would be a
    * cross product). `distinctVars` (the default) enforces injective
    * bindings: every newly bound variable filters ≠ against all earlier
    * ones AT BIND TIME, so the pruning happens inside the join pipeline,
    * not on the blown-up result.
    *
    * A template edge with `maxHops > 1` is a VARIABLE-LENGTH edge
    * (`-[*min..max]->`): it binds endpoint pairs connected by a directed
    * path of `minHops..maxHops` edges — each edge of the path passing
    * `pred` — via [[boundedReach]] (min-hop semantics, path-count-free),
    * exporting the hop distance under `keepHops`. Intermediate path
    * vertices are NOT pattern variables: they are never bound, so
    * injectivity does not constrain them (standard MATCH semantics).
    * Returns one row per binding with one column per variable plus the
    * kept weights / hop counts.
    *
    * Scale shape: template size is capped at 5 edges, so a match is at
    * most 4 equi-joins over the edge frame, each keyed on a bound
    * variable; per-edge `pred` filters run BEFORE the joins (candidate
    * streams shrink first), a var-length edge materializes only its
    * deduped reachability pairs, and every intermediate is
    * variable-bound-columns only, never payloads.
    */
  def matchPattern(edges: DataFrame, pattern: Seq[EdgePattern],
                   distinctVars: Boolean = true): DataFrame = {
    require(pattern.nonEmpty && pattern.size <= 5,
      s"matchPattern supports 1-5 edge templates (got ${pattern.size})")
    val base = edges.select(col("src"), col("dst"), col("w"))
    var acc: DataFrame = null
    var bound = List.empty[String]
    pattern.zipWithIndex.foreach { case (pe, i) =>
      require(pe.from != pe.to,
        s"pattern edge $i binds one variable to both endpoints")
      require(pe.minHops >= 1 && pe.maxHops >= pe.minHops,
        s"pattern edge $i has an empty hop range " +
          s"[${pe.minHops}..${pe.maxHops}]")
      require(pe.maxHops == 1 || pe.keepW.isEmpty,
        s"pattern edge $i is variable-length: a path has no single edge " +
          "weight — export keepHops instead")
      val e =
        if (pe.maxHops == 1)
          base.filter(pe.pred)
            .select(col("src").as("__f"), col("dst").as("__t"),
              col("w").as("__w"))
        else
          boundedReach(base.filter(pe.pred), pe.maxHops)
            .filter(col("hops") >= pe.minHops)
            .select(col("src").as("__f"), col("dst").as("__t"),
              col("hops").as("__w"))
      val exported = if (pe.maxHops == 1) pe.keepW else pe.keepHops
      if (acc == null) {
        val cols = Seq(col("__f").as(pe.from), col("__t").as(pe.to)) ++
          exported.map(n => col("__w").as(n))
        acc = e.select(cols: _*)
        if (distinctVars) acc = acc.filter(col(pe.from) =!= col(pe.to))
        bound = List(pe.from, pe.to)
      } else {
        val fB = bound.contains(pe.from)
        val tB = bound.contains(pe.to)
        require(fB || tB,
          s"pattern edge $i shares no variable with the earlier edges")
        var cond: Column = lit(true)
        if (fB) cond = cond && acc(pe.from) === e("__f")
        if (tB) cond = cond && acc(pe.to) === e("__t")
        var j = acc.join(e, cond)
        for ((v, nw) <- Seq(pe.from -> "__f", pe.to -> "__t")
             if !bound.contains(v)) {
          j = j.withColumn(v, col(nw))
          if (distinctVars)
            bound.foreach(b => j = j.filter(col(b) =!= col(v)))
          bound = bound :+ v
        }
        exported.foreach(n => j = j.withColumn(n, col("__w")))
        acc = j.drop("__f", "__t", "__w")
      }
    }
    acc
  }
}

/** One template edge of a [[GraphAlgebra.matchPattern]] query: endpoint
  * variable names, an optional predicate over the edge frame's columns
  * (e.g. `col("w") >= 3`), and an optional output name for the matched
  * edge's weight. `minHops`/`maxHops` > 1 make it a VARIABLE-LENGTH edge
  * (`-[*min..max]->`): it matches endpoint pairs connected by a directed
  * path of that many pred-passing edges (min-hop semantics) and exports
  * the hop distance under `keepHops` (keepW is meaningless for a path
  * and rejected).
  */
case class EdgePattern(from: String, to: String,
                       pred: Column = lit(true),
                       keepW: Option[String] = None,
                       minHops: Int = 1,
                       maxHops: Int = 1,
                       keepHops: Option[String] = None)
