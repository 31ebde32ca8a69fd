package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** 100 TB-posture demonstrations (SURVEY.md §4/§7 "M6"): the physical-layout
  * techniques the engine's operators assume at cluster scale, proven on the
  * local harness by asserting the PLANS, not just the results.
  */
class ScaleSpec extends SparkSpec {

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables co-locate the join: no shuffle exchange on either side") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    // the in-memory catalog forgets tables across JVMs but their files persist
    Seq("li_bucketed", "ord_bucketed").foreach { t =>
      val d = new java.io.File(s"/tmp/graft_warehouse/$t")
      if (d.exists()) {
        Files.walk(d.toPath).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      }
    }
    Tables.lineitem(spark, sf)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_bucketed")
    Tables.orders(spark, sf)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_bucketed")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus").agg(sum($"l_quantity").as("q"))
      joined.collect() // force execution (final plan under AQE)
      // AQE's toString repeats the tree under "== Initial Plan ==" — count
      // exchanges only in the final section
      val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      // the join itself must be shuffle-free (bucket-local); only the final
      // 3-group agg may exchange
      assert(plan.contains("SortMergeJoin"), plan)
      assert(shuffles <= 1, s"expected bucket-co-located join (<=1 exchange for the agg):\n$plan")
    }
  }

  test("partitioned parquet layout prunes partitions at planning time") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_part_").toString + "/out"
    Tables.orders(spark, sf).write.partitionBy("o_orderstatus").parquet(dir)
    val df = spark.read.parquet(dir).filter($"o_orderstatus" === "F")
      .select($"o_orderkey")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("o_orderstatus"), scan)
    // behavioral proof: only the F partition's files are read
    val allRows = spark.read.parquet(dir).count()
    val fRows = df.count()
    assert(fRows > 0 && fRows < allRows)
  }

  test("AQE is active: joins plan adaptively (runtime re-planning at scale)") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val df = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority").count()
    assert(df.queryExecution.executedPlan.toString.contains("AdaptiveSparkPlan"))
  }

  test("no operator collects to the driver: every registry plan is a lazy DataFrame") {
    // structural guarantee: building every plan must not trigger a job;
    // queries that *run* jobs at build time (late_data's streaming demo and
    // joinAsof's none) are exempted explicitly.
    // 530 builds, each executing the op's eager checkpoint loops — 214 s
    // sequential, the suite's #2 wall item (r16 test-gate cut). Same
    // worker-pool pattern as the registry smoke test (isolated
    // newSession() per worker); every key still builds and asserts.
    val exempt = Set("stream_late_data")
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    SparkEntry.queries.filterNot(kv => exempt(kv._1)).foreach(queue.add)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val workers = (1 to 8).map { _ =>
      new Thread(() => {
        val session = spark.newSession()
        var next = queue.poll()
        while (next != null) {
          val (name, fn) = next
          try {
            if (fn(session, sf).schema.isEmpty)
              bad.add(s"$name returned an empty-schema plan")
          } catch { case e: Throwable => bad.add(s"$name threw $e") }
          next = queue.poll()
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    assert(bad.isEmpty, bad.toArray.mkString("; "))
  }

  /** Largest join-node output across the FINAL adaptive plan — the
    * materialized pair stream of a pair op, read from the real SQL metrics
    * after execution (not re-derived, so plan drift is what it measures).
    */
  private def maxJoinRows(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.max
  }

  test("exact all-pairs twins: materialized pair stream holds its recorded sf0.1 ceiling") {
    // The five DECLARED exact oracle twins are quadratic in hub degree by
    // design; what this pins is that they stay at their RECORDED cost — a
    // plan regression (lost dedup half, dropped blocking filter, eliminated
    // distinct) would explode the pair join's output silently while rows
    // still hash-match. Ceilings = measured sf0.1 values + ~30% headroom.
    val sfBig = "/root/testdata/sf0.1"
    val ceilings = Map(
      "graph_jaccard_nodes" -> 17000000L, // measured 13,140,857
      "graph_common_neighbors" -> 17000000L, // measured 13,140,857
      "graph_tag_similarity" -> 240000L, // measured 177,305
      "llm_dedup_near" -> 3000000L, // measured 2,261,072
      "llm_ngram_jaccard" -> 2400000L, // measured 1,817,835
      "graph_adamic_adar" -> 17000000L, // same pair stream as common_neighbors
      // the banded theta family (µs-domain, post-regen): the ceiling pins
      // BAND density — the r8 ts collapse blew the candidate stream 377×
      // while output rows still looked plausible; the runtime PairBudget
      // catches catastrophe, this catches drift
      "join_theta_range" -> 270000L, // measured 200,000 (µs domain)
      "join_theta_rule" -> 3100000L) // measured 2,314,860 (µs domain)
    for ((key, cap) <- ceilings) {
      val n = maxJoinRows(SparkEntry.queries(key)(spark, sfBig))
      info(s"$key pair-join rows at sf0.1: $n")
      assert(n > 0, s"$key: no join metric found — pair stage disappeared?")
      assert(n <= cap,
        s"$key materializes $n pair rows at sf0.1 (ceiling $cap): quadratic plan drift")
    }
  }

  test("pair budget guard: raises on an over-budget hot block, row-preserving under budget") {
    import spark.implicits._
    // one hot block: 2000 rows share key 1 -> C(2000,2) = 1,999,000 pairs
    val hot = (1 to 2000).map(i => (1L, i.toLong)).toDF("k", "v")
    val over = api.PairBudget.gate(hot, Seq(col("k")), "test_op", "test_approx", 1000L)
    val ex = intercept[Exception] { over.count() }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("test_op") && msg.contains("test_approx"),
      s"guard error should name the op and its bounded sibling: $msg")
    // under budget: data, schema and row count flow through untouched
    val under = api.PairBudget.gate(hot, Seq(col("k")), "test_op", "test_approx", 2000000L)
    assert(under.columns.toSeq == Seq("k", "v"))
    assert(under.count() == 2000L)
    // empty-block-key spelling = one global C(n,2) block
    val global = api.PairBudget.gate(hot, Seq.empty, "test_op", "test_approx", 2000000L)
    assert(global.count() == 2000L)
    intercept[Exception] {
      api.PairBudget.gate(hot, Seq.empty, "test_op", "test_approx", 1000L).count()
    }
  }

  test("band pair budget: collapsed-ts frame fail-fasts; healthy spread and theta ops flow through") {
    import spark.implicits._
    // the r8 incident in miniature: 2000 events collapsed into ONE 10-min
    // band (a degenerate time distribution) -> ~4M candidate pairs; the
    // band guard must raise BEFORE the quadratic join, naming the op
    val collapsed = (1 to 2000).map(i => (i.toLong, 100L + i % 3)).toDF("id", "t")
    val over = api.PairBudget.gateBanded(collapsed, collapsed, Nil,
      floor($"t" / 600000L), floor($"t" / 600000L), spread = 2,
      "test_band_op", "test_alternative", budget = 1000L)
    val ex = intercept[Exception] { over.count() }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("test_band_op") && msg.contains("test_alternative"),
      s"band guard error should name the op and the way out: $msg")
    // healthy spread (one event per band) passes row-preserving
    val spread = (1 to 2000).map(i => (i.toLong, i * 600000L)).toDF("id", "t")
    val under = api.PairBudget.gateBanded(spread, spread, Nil,
      floor($"t" / 600000L), floor($"t" / 600000L), spread = 2,
      "test_band_op", "test_alternative", budget = 10000L)
    assert(under.columns.toSeq == Seq("id", "t"))
    assert(under.count() == 2000L)
    // keyed blocks: same collapsed band but 40 distinct keys -> per-block
    // pair stream drops 40x; a budget between the two separates them
    val keyed = (1 to 2000).map(i => (i.toLong % 40, i.toLong, 100L)).toDF("user_id", "id", "t")
    assert(api.PairBudget.gateBanded(keyed, keyed, Seq("user_id"),
      floor($"t" / 600000L), floor($"t" / 600000L), spread = 1,
      "test_band_op", "test_alternative", budget = 200000L).count() == 2000L)
    intercept[Exception] {
      api.PairBudget.gateBanded(keyed, keyed, Nil,
        floor($"t" / 600000L), floor($"t" / 600000L), spread = 1,
        "test_band_op", "test_alternative", budget = 200000L).count()
    }
    // the wired ops: a tiny -Dgraft.pairs.max trips BOTH theta ops on real
    // data (proving the guard sits in the registry path), and the default
    // budget lets them run
    val prev = sys.props.get("graft.pairs.max")
    sys.props("graft.pairs.max") = "10"
    try {
      for (key <- Seq("join_theta_range", "join_theta_rule")) {
        val e2 = intercept[Exception] { SparkEntry.queries(key)(spark, sf).count() }
        val m2 = Option(e2.getMessage).getOrElse("") +
          Option(e2.getCause).map(_.getMessage).getOrElse("")
        assert(m2.contains(key), s"$key should fail-fast under a 10-pair budget: $m2")
      }
    } finally prev match {
      case Some(v) => sys.props("graft.pairs.max") = v
      case None => sys.props.remove("graft.pairs.max")
    }
    assert(SparkEntry.queries("join_theta_range")(spark, sf).count() > 0)
  }

  test("exact pair twins run under the default budget at sf0.01 (guard stays silent)") {
    // the five declared exact twins + adamic_adar each carry the fail-fast
    // guard; this pins that the default 1e9 budget never fires on the
    // harness SFs (the sf0.1 ceiling test above exercises the big SF)
    for (key <- Seq("graph_common_neighbors", "graph_jaccard_nodes",
        "graph_tag_similarity", "graph_adamic_adar", "llm_dedup_near",
        "llm_ngram_jaccard")) {
      val n = SparkEntry.queries(key)(spark, "/root/testdata/sf0.01").count()
      assert(n > 0, s"$key returned no rows at sf0.01")
    }
  }

  test("graph_jaccard_approx recalls >= 0.9 of the exact top-20 at sf0.1") {
    // the approximate op exists for hub-bounded candidate generation at
    // cluster scale; this pins its quality contract at the largest local SF
    val sfBig = "/root/testdata/sf0.1"
    val exact = ops.GraphOps.graphJaccardNodes(spark, sfBig).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = ops.GraphOps.graphJaccardApprox(spark, sfBig).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size / exact.size.toDouble
    assert(recall >= 0.9, s"recall $recall of exact top-20")
  }

  // r16 (VERDICT #1 — the suite's wall exceeded the driver's test budget):
  // two of the three recall pins move to the driver-gate sf0.01 (measured
  // recall there: 1.0 for all three twins), keeping graph_jaccard_approx
  // above as the one big-SF smoke. The quality contract is unchanged — a
  // broken candidate stage fails at any SF; only the pinned SF moved.
  test("graph_common_neighbors_approx recalls >= 0.9 of the exact top-20 at sf0.01") {
    val sfGate = "/root/testdata/sf0.01"
    val exact = ops.GraphOps.graphCommonNeighbors(spark, sfGate).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = ops.GraphOps.graphCommonNeighborsApprox(spark, sfGate).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size / exact.size.toDouble
    assert(recall >= 0.9, s"recall $recall of exact top-20")
  }

  test("graph_tag_similarity_approx recalls >= 0.9 of the exact top-20 at sf0.01") {
    val sfGate = "/root/testdata/sf0.01"
    val exact = ops.GraphOps.graphTagSimilarity(spark, sfGate).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = ops.GraphOps.graphTagSimilarityApprox(spark, sfGate).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size / exact.size.toDouble
    assert(recall >= 0.9, s"recall $recall of exact top-20")
  }

  test("iterative-family mechanism: pre-partitioned checkpointed edges make the per-step agg exchange-free") {
    import spark.implicits._
    // the shape of the keyed counted-checkpoint users (pageRankBatch's
    // edge frame, the k-core peels, label propagation, Louvain, SimRank,
    // and above the broadcast gate minLabelFixpoint's flow and
    // powerIterate's edges): the edge frame is hash-partitioned on the
    // GROUP key and lineage-truncated; the state side broadcasts; the
    // aggregation must then inherit the clustering — zero hash exchanges
    // in the whole step (per-iteration |E| shuffles become one upfront one)
    val (e, _) = api.Ckpt.cpCounted(
      (1 to 1000).map(i => (i.toLong % 50, i.toLong % 97)).toDF("src", "dst"),
      $"dst")
    val scores = (0 to 49).map(i => (i.toLong, 1L)).toDF("src", "x")
    val step = e.join(broadcast(scores), "src") // join key != group key, as in HITS
      .groupBy($"dst").agg(sum($"x").as("xr"))
    step.collect()
    val plan = step.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"per-step agg re-shuffled the pre-partitioned edge frame:\n$plan")
  }

  /** A keyed counted checkpoint's declared partitioning is the true one:
    * every row sits in partition pmod(hash(key), n), the returned count is
    * the frame's, and a groupBy on the key plans no exchange.
    */
  private def checkDeclaredPartitioning(): Unit = {
    import spark.implicits._
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val raw = (1 to 5000).map(i => (i.toLong % 37, i.toLong)).toDF("k", "v")
    val (df, rows) = api.Ckpt.cpCounted(raw.filter($"v" > 10), $"k")
    assert(rows === 4990L && df.count() === rows)
    val placed = df.select(spark_partition_id().as("p"), pmod(hash($"k"), lit(n)).as("h"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(placed.length === rows && placed.forall { case (p, h) => p == h },
      placed.filter { case (p, h) => p != h }.take(5).mkString(", "))
    assert(placed.map(_._1).distinct.length > 1, "every row in one partition proves nothing")
    val agg = df.groupBy($"k").agg(sum($"v").as("s"))
    assert(agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      (11 to 5000).groupBy(_ % 37).map { case (k, vs) => k.toLong -> vs.map(_.toLong).sum })
    val plan = agg.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"groupBy(key) re-shuffled the keyed counted checkpoint:\n$plan")
  }

  test("a keyed counted checkpoint declares its true partitioning (localCheckpoint path)") {
    checkDeclaredPartitioning()
  }

  test("a keyed counted checkpoint declares its true partitioning (graft.checkpoint.dir path)") {
    val dir = Files.createTempDirectory("graft_ckpt_").toString
    System.setProperty("graft.checkpoint.dir", dir)
    try {
      checkDeclaredPartitioning()
      val wrote = Files.walk(java.nio.file.Paths.get(dir)).filter(Files.isRegularFile(_)).count()
      assert(wrote > 0, s"no reliable checkpoint files under $dir")
    } finally {
      System.clearProperty("graft.checkpoint.dir")
      Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
  }

  test("a keyed counted checkpoint never changes the session's adaptive setting while it runs") {
    import spark.implicits._
    val own = spark.conf.get("spark.sql.adaptive.enabled")
    // 4 tasks of 4 rows at 50 ms a row: the materialization takes >= 200 ms
    val slow = udf((x: Long) => { Thread.sleep(50); x })
    val frame = spark.range(0, 16, 1, 4).select(slow($"id").as("k"))
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() =>
      while (!stop.get()) seen.add(spark.conf.get("spark.sql.adaptive.enabled")))
    poller.start()
    val rows = try api.Ckpt.cpCounted(frame, $"k")._2
      finally { stop.set(true); poller.join() }
    assert(rows === 16L)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet === Set(own))
  }

  test("shuffle partition count follows the session config (no hardcoded 200)") {
    import spark.implicits._
    val df = Tables.lineitem(spark, sf).groupBy($"l_suppkey").count()
    df.collect()
    val parts = df.rdd.getNumPartitions
    assert(parts <= 8, s"agg produced $parts partitions; expected <= shuffle.partitions(4)+AQE coalesce")
  }

  test("global-order ops plan no single-partition window (DistScan posture)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // the ops that own a global total-order semantic: each must spell it
    // as a DistScan range-partitioned scan, never Window.orderBy with an
    // empty partitionSpec (a one-partition sort of the whole frame)
    val keys = Seq("agg_rfm", "agg_repeat_purchase", "win_skyline",
      "win_interval_union", "llm_perplexity_filter", "llm_dataset_card",
      // r11: the KS ECDFs and the ABC revenue cumulative are DistScan
      // prefix sums over value-collapsed frames — same posture contract
      "agg_ks_test", "agg_abc_analysis",
      // r11 wave 8: the SPRT trial trace is two DistScan prefix folds
      "agg_sprt",
      // r12: parts and suppliers grow with the fact table — the Pareto
      // rank/cumsum and the Lorenz decile rank are DistScan scans (the
      // Lorenz decile cumulative is a broadcast triangular join, so the
      // whole plan is window-free)
      "win_pareto", "agg_lorenz")
    for (k <- keys) {
      val df = SparkEntry.queries(k)(spark, sf)
      val offenders = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(offenders.isEmpty,
        s"$k plans ${offenders.size} unpartitioned Window node(s)")
    }
    // llm_skipgram_pairs: the top-30 pick must be a TakeOrdered limit, so
    // the only unpartitioned window permitted is the rank over the
    // already-limited ≤ 30-row frame — every such window must sit above a
    // Limit in its own subtree
    import org.apache.spark.sql.catalyst.plans.logical.GlobalLimit
    val sk = SparkEntry.queries("llm_skipgram_pairs")(spark, sf)
    val unbounded = sk.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty &&
        w.collect { case g: GlobalLimit => g }.isEmpty => w
    }
    assert(unbounded.isEmpty,
      s"llm_skipgram_pairs plans ${unbounded.size} unpartitioned Window " +
        "node(s) over an unlimited frame")
  }

  test("round-13 ops: condition-less joins are bounded scalar attaches; windows bounded") {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join, Window => LWindow}
    // the r13 surface must never plan an unbounded cross product: every
    // condition-less join needs a side Catalyst can PROVE small (a
    // grouping-free Aggregate, a Limit, a literal relation), and every
    // unpartitioned Window must sit above a Limit in its own subtree
    val keys = Seq("graph_match_pattern", "llm_ann_ivfpq",
      "stream_degree_topk", "graph_walk_pairs", "graph_neighbor_props",
      "llm_bpe_train", "llm_bpe_encode", "llm_bpe_vocab",
      "graph_edge_betweenness", "graph_louvain_multi")
    for (k <- keys) {
      val plan = SparkEntry.queries(k)(spark, sf).queryExecution.optimizedPlan
      plan.collect { case j: Join if j.condition.isEmpty => j }.foreach { j =>
        val bounded = Seq(j.left, j.right).exists(_.maxRows.exists(_ <= 8L))
        assert(bounded, s"$k plans a condition-less join with no " +
          s"provably-bounded side:\n$j")
      }
      val unboundedW = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
          w.collect { case g: GlobalLimit => g }.isEmpty => w
      }
      assert(unboundedW.isEmpty,
        s"$k plans ${unboundedW.size} unpartitioned Window node(s) over " +
          "an unlimited frame")
    }
  }

  test("round-13 wave I/II ops: bounded scalar attaches, partitioned windows") {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join, Window => LWindow}
    // same contract as the r13 test above, for the wave-I/II surface.
    // Excluded by documented exception (global window over a
    // bounded-by-construction spine, the win_atr/win_macd/agg_mannwhitney
    // posture): agg_kruskal_wallis (distinct-value spine), win_ichimoku /
    // win_keltner / agg_hurst (calendar day spine).
    // (wave III adds: agg_cointegration / agg_chow_test ride the day-spine
    // exception like win_ichimoku; the rest join the pinned list)
    val keys = Seq("agg_levene", "agg_jarque_bera", "agg_newey_west",
      "win_obv", "win_amihud", "win_range_vol",
      "graph_katz", "graph_overlap", "graph_temporal_reach",
      "llm_pii_scrub", "llm_embed_pca", "llm_kneser_ney",
      "llm_watermark_detect", "state_bitemporal", "stream_cep_sequence",
      "win_garch", "graph_node2vec_walks", "llm_rouge_pairs",
      // wave IV (agg_spearman / win_adx ride the day-spine exception;
      // agg_friedman's windows are day-partitioned)
      "agg_friedman", "llm_mmr_select",
      // waves V/VI (tail_dependence / transfer_entropy / capm / score_auc
      // ride the day- or value-spine exception; llm_nb_classify's one
      // cross join is the DECLARED vocab × source Laplace grid — the
      // source side is a 20-row enum-domain aggregate Catalyst cannot
      // prove small, so that key is audited in PLANS.md instead)
      "graph_matching_greedy", "sink_gdpr_purge")
    for (k <- keys) {
      val plan = SparkEntry.queries(k)(spark, sf).queryExecution.optimizedPlan
      plan.collect { case j: Join if j.condition.isEmpty => j }.foreach { j =>
        val bounded = Seq(j.left, j.right).exists(_.maxRows.exists(_ <= 8L))
        assert(bounded, s"$k plans a condition-less join with no " +
          s"provably-bounded side:\n$j")
      }
      val unboundedW = plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
          w.collect { case g: GlobalLimit => g }.isEmpty => w
      }
      assert(unboundedW.isEmpty,
        s"$k plans ${unboundedW.size} unpartitioned Window node(s) over " +
          "an unlimited frame")
    }
  }
}
