package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("registry: every oracleSql key has a queries entry") {
    val keys = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(keys), s"oracle keys without query impl: ${o.diff(keys)}")
  }

  test("registry: declared counts match the registry (drift guard)") {
    // the r2 VERDICT caught a silent 116-vs-117 drift between the
    // documented count and the registry; since r11 the declared side is
    // parsed FROM SURVEY.md §2 itself, so the guard pins the actual
    // contract (every §2 key row ↔ exactly one registry entry) instead
    // of a hand-maintained number
    // resolve relative to the working directory (sbt runs tests from the
    // project root) so the guard works on any checkout location
    val surveyPath = new java.io.File(sys.props("user.dir"), "SURVEY.md")
    val surveyKeys = scala.io.Source.fromFile(surveyPath, "UTF-8")
      .getLines()
      .flatMap("""^\| `([a-z0-9_]+)`""".r.findFirstMatchIn(_))
      .map(_.group(1)).toSet
    val registry = SparkEntry.queries.keySet
    assert(surveyKeys === registry,
      s"survey-only: ${surveyKeys.diff(registry)}; " +
        s"registry-only: ${registry.diff(surveyKeys)}")
    assert(SparkEntry.oracleSql.keySet.subsetOf(registry))
  }

  test("registry: no oracle projection rounds a transcendental (cross-libm ulp guard)") {
    // The round-6 red row (llm_collocations) was round(ln(...), 4): JVM
    // Math.log and DuckDB's libm are each ≤1 ulp but DIFFERENT, so a
    // DECIMAL rounding of a transcendental can flip on a half boundary.
    // Transcendentals may appear only under integer quantization —
    // floor(f(x)·scale + 0.5) or argless round(f(x)) — whose 0.5-unit
    // boundary margin is pinned in LlmSpec/GraphSpec; never under
    // round(expr, n).
    def stripSpans(s: String, prefix: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < s.length) {
        if (s.startsWith(prefix, i)) {
          var depth = 1; var j = i + prefix.length
          while (j < s.length && depth > 0) {
            if (s(j) == '(') depth += 1 else if (s(j) == ')') depth -= 1
            j += 1
          }
          i = j
        } else { sb.append(s(i)); i += 1 }
      }
      sb.toString
    }
    val transcendentals = Seq("ln(", "log(", "exp(", "pow(")
    SparkEntry.oracleSql.foreach { case (key, sql) =>
      val s = stripSpans(sql.toLowerCase, "floor(")
      var i = s.indexOf("round(")
      while (i >= 0) {
        var depth = 1; var j = i + 6
        var topComma = false
        while (j < s.length && depth > 0) {
          if (s(j) == '(') depth += 1
          else if (s(j) == ')') depth -= 1
          else if (s(j) == ',' && depth == 1) topComma = true
          j += 1
        }
        val arg = s.substring(i + 6, j - 1)
        if (topComma) // decimal rounding — the dangerous form
          transcendentals.foreach { t =>
            assert(!arg.contains(t),
              s"$key: round(·, n) wraps transcendental '$t' — use integer quantization instead")
          }
        i = s.indexOf("round(", j)
      }
    }
  }

  test("registry: every query returns rows at sf0.001") {
    // the full 530-key sweep ran SEQUENTIALLY here and was the suite's
    // single biggest wall item (338 s of the driver's test gate — r15
    // VERIFY tests_ok: false was the suite exceeding the gate's budget).
    // Run it on a small worker pool with one isolated newSession() per
    // worker — the exact graft.Verify production pattern (shared
    // SparkContext, isolated SQLConf for the few conf-toggling ops);
    // every key still runs and asserts, coverage is unchanged.
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    SparkEntry.queries.foreach(queue.add)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val workers = (1 to 8).map { _ =>
      new Thread(() => {
        val session = spark.newSession()
        var next = queue.poll()
        while (next != null) {
          val (name, fn) = next
          try {
            if (fn(session, sf).count() == 0L) bad.add(s"$name returned 0 rows")
          } catch {
            case e: Throwable => bad.add(s"$name threw $e")
          }
          next = queue.poll()
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    assert(bad.isEmpty, bad.toArray.mkString("; "))
  }

  test("agg_pricing: 6 groups, positive sums, charge >= disc_price") {
    val rows = q("agg_pricing").collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      assert(r.getDouble(r.fieldIndex("sum_qty")) > 0)
      assert(r.getDouble(r.fieldIndex("sum_charge")) >= r.getDouble(r.fieldIndex("sum_disc_price")))
    }
  }

  test("agg_pricing: shipdate filter is pushed to the parquet scan") {
    val p = plan(q("agg_pricing"))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"), p)
  }

  test("scan_project: reads only the 4 projected columns") {
    val p = plan(q("scan_project"))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_extendedprice,l_discount") && !p.contains("l_returnflag"),
      s"scan not pruned:\n$p")
  }

  test("topk_limit and scan_project plan as TakeOrderedAndProject (no global sort)") {
    assert(plan(q("topk_limit")).contains("TakeOrderedAndProject"))
    assert(plan(q("scan_project")).contains("TakeOrderedAndProject"))
  }

  test("join_broadcast: dims are broadcast, not shuffled") {
    val p = plan(q("join_broadcast"))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("join_theta_range: banding avoids BroadcastNestedLoopJoin") {
    val p = plan(q("join_theta_range"))
    assert(!p.contains("BroadcastNestedLoopJoin"), s"theta join fell back to BNLJ:\n$p")
  }

  test("join_theta_range: pairs are strictly ordered and within the window") {
    q("join_theta_range").collect().foreach { r =>
      val d = r.getLong(r.fieldIndex("delta_ms"))
      assert(d > 0 && d <= 3600000)
    }
  }

  test("join_semi + join_anti partition customer") {
    val semi = q("join_semi").count()
    val anti = q("join_anti").count()
    val all = Tables.customer(spark, sf).count()
    assert(semi + anti === all)
  }

  test("agg_approx_hll: within 5% of exact distinct") {
    val approx = q("agg_approx_hll").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = q("agg_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(r.fieldIndex("n_parts"))).toMap
    exact.foreach { case (k, ex) =>
      val ap = approx(k).toDouble
      assert(math.abs(ap - ex) / ex <= 0.05, s"$k: approx=$ap exact=$ex")
    }
  }

  test("set algebra: intersect + except = union-distinct of left") {
    val inter = q("set_intersect").count()
    val exc = q("set_except").count()
    val left = Tables.customer(spark, sf)
      .filter("c_mktsegment = 'AUTOMOBILE'").count()
    assert(inter + exc === left)
  }

  test("agg_rollup: grand total row equals table count") {
    val rows = q("agg_rollup").collect()
    val grand = rows.filter(_.getLong(0) == 3L)
    assert(grand.length === 1)
    assert(grand.head.getLong(grand.head.fieldIndex("n")) === Tables.customer(spark, sf).count())
  }

  test("win_frame_rows: running sum is monotone per supplier") {
    val rows = q("win_frame_rows").collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val running = rs.map(r => r.getDouble(r.fieldIndex("running_qty")))
      assert(running.zip(running.tail).forall { case (a, b) => b >= a })
    }
  }

  test("entry: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("agg_approx_quantile: p50/p95 bracket the exact percentiles within 5%") {
    import org.apache.spark.sql.functions._
    val approx = q("agg_approx_quantile").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Tables.orders(spark, sf).groupBy(col("o_orderstatus"))
      .agg(expr("percentile(o_totalprice, 0.5D)").as("p50"),
        expr("percentile(o_totalprice, 0.95D)").as("p95"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (e50, e95)) =>
      val (a50, a95) = approx(k)
      assert(math.abs(a50 - e50) / e50 <= 0.05, s"$k p50 approx=$a50 exact=$e50")
      assert(math.abs(a95 - e95) / e95 <= 0.05, s"$k p95 approx=$a95 exact=$e95")
    }
  }

  test("join_exists_subquery decorrelates to a semi join (no per-row probe)") {
    val p = plan(q("join_exists_subquery"))
    assert(p.contains("SemiJoin") || p.contains("LeftSemi"), p)
  }

  test("agg_pivot row sums equal per-priority totals") {
    val rows = q("agg_pivot").collect()
    val totals = Tables.orders(spark, sf).groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val s = r.getLong(1) + r.getLong(2) + r.getLong(3)
      assert(s === totals(r.getString(0)))
    }
  }

  test("BandRangeJoinRule also bands TIMESTAMP interval range joins") {
    import spark.implicits._
    graft.plans.BandRangeJoin.install(spark)
    val e = Tables.events(spark, sf).select($"event_id", $"ts")
    val l = e.select($"event_id".as("id1"), $"ts".as("t1"))
    val r = e.select($"event_id".as("id2"), $"ts".as("t2"))
    val joined = l.join(r,
      $"t2" > $"t1" && $"t2" <= $"t1" + expr("INTERVAL 10 MINUTES"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"timestamp range join was not banded:\n$plan")
    // exactness vs a brute force in the SAME µs domain the TimestampType
    // comparison evaluates in (an ms-truncated twin miscounts any pair whose
    // gap straddles the 10-min boundary inside a millisecond — the r8
    // 207032 ≠ 207031 off-by-one)
    val got = joined.count()
    val us = Tables.events(spark, sf).select(unix_micros($"ts").as("t"))
    val brute = us.as("a").crossJoin(us.select($"t".as("t2")).as("b"))
      .filter($"t2" > $"t" && $"t2" <= $"t" + 600000000L).count()
    assert(got === brute)
  }

  test("BandRangeJoin TIMESTAMP boundary inclusivity is exact at µs resolution") {
    import spark.implicits._
    graft.plans.BandRangeJoin.install(spark)
    // three instants: t0, t0 + 10 min EXACTLY, t0 + 10 min + 1 µs — the
    // banded rewrite must keep `<=` inclusive and `>` strict at the finest
    // unit TimestampType carries, independent of band width arithmetic
    val df = Seq(0L, 600000000L, 600000001L).toDF("us")
      .select($"us", expr("timestamp_micros(us)").as("ts"))
    val l = df.select($"us".as("id1"), $"ts".as("t1"))
    val r = df.select($"us".as("id2"), $"ts".as("t2"))
    val joined = l.join(r,
      $"t2" > $"t1" && $"t2" <= $"t1" + expr("INTERVAL 10 MINUTES"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"µs boundary probe was not banded:\n$plan")
    val pairs = joined.select($"id1", $"id2").collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(pairs((0L, 600000000L)), "pair at exactly +10min must be INCLUDED (<=)")
    assert(!pairs((0L, 600000001L)), "pair at +10min+1µs must be EXCLUDED")
    assert(pairs((600000000L, 600000001L)), "1µs gap satisfies the strict >")
    assert(!pairs.exists { case (a, b) => a == b }, "strict > excludes self-pairs")
  }

  test("BandRangeJoinRule bands the SQL-text BETWEEN spelling too") {
    import spark.implicits._
    graft.plans.BandRangeJoin.install(spark)
    // BETWEEN desugars to >= AND <= in Finish Analysis, BEFORE user-provided
    // optimizer batches — so the rule sees plain conjuncts. This pins that
    // ordering (SURVEY round-3 backlog item 3).
    Tables.events(spark, sf).select($"event_id", unix_millis($"ts").as("t"))
      .createOrReplaceTempView("ev_band_sql")
    val df = spark.sql(
      """SELECT count(*) AS n FROM ev_band_sql a JOIN ev_band_sql b
        |  ON b.t BETWEEN a.t + 1 AND a.t + 600000""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"SQL BETWEEN range join was not banded:\n$plan")
    val e = Tables.events(spark, sf).select(unix_millis($"ts").as("t"))
    val brute = e.as("a").crossJoin(e.select($"t".as("t2")).as("b"))
      .filter($"t2" >= $"t" + 1L && $"t2" <= $"t" + 600000L).count()
    assert(df.head().getLong(0) === brute)
  }

  test("BandRangeJoinRule: stats-driven auto mode bands equi+range joins by key cardinality") {
    import spark.implicits._
    graft.plans.BandRangeJoin.install(spark)
    val confKey = graft.plans.BandRangeJoinRule.WithEquiKeysConf
    // the shape auto mode exists for: a LOW-CARDINALITY equi key (2 groups
    // here; tags/segments/types in practice) whose per-group range scan is
    // quadratic — banding subdivides each group by time
    val l = Seq.tabulate(200)(i => (i % 2L, i.toLong * 10)).toDF("k1", "t1")
    val r = Seq.tabulate(200)(i => (i % 2L, i.toLong * 10 + 5)).toDF("k2", "t2")
    def run() = l.join(r,
      $"k1" === $"k2" && $"t2" >= $"t1" - 100L && $"t2" <= $"t1" + 100L)
    // "false" = never: the reference plan and result
    spark.conf.set(confKey, "false")
    val expected = try {
      val off = run()
      assert(!off.queryExecution.executedPlan.toString.contains("graft_band"),
        "rule must NOT fire on an equi+range join with the policy off")
      off.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    } finally spark.conf.unset(confKey) // back to the "auto" default
    // default auto: the 2-distinct-key probe fires the rewrite, same rows
    val auto = run()
    val pAuto = auto.queryExecution.executedPlan.toString
    assert(pAuto.contains("graft_band"),
      s"auto mode did not band the low-cardinality equi+range join:\n$pAuto")
    val got = auto.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    assert(got === expected, "banded equi+range join changed the result")
    // probe-cache reuse: a FRESH instantiation of the same plan shape must
    // not execute another sampling job (exprIds differ per instantiation —
    // the cache keys on the canonicalized shape + attribute position)
    val probesAfterFirst = graft.plans.BandRangeJoinRule.probeCount.get()
    val again = l.join(r,
      $"k1" === $"k2" && $"t2" >= $"t1" - 100L && $"t2" <= $"t1" + 100L)
    assert(again.queryExecution.executedPlan.toString.contains("graft_band"))
    assert(graft.plans.BandRangeJoinRule.probeCount.get() === probesAfterFirst,
      "re-instantiating the same join shape re-ran the cardinality probe")
    // high-cardinality key (every row its own group): auto must NOT fire —
    // per-group range scans are already tiny and banding would only pay
    // the ≤7x band explosion
    val lh = Seq.tabulate(5000)(i => (i.toLong, i.toLong * 10)).toDF("k1", "t1")
    val rh = Seq.tabulate(5000)(i => (i.toLong, i.toLong * 10 + 5)).toDF("k2", "t2")
    def runHigh() = lh.join(rh,
      $"k1" === $"k2" && $"t2" >= $"t1" - 100L && $"t2" <= $"t1" + 100L)
    val pHigh = runHigh().queryExecution.executedPlan.toString
    assert(!pHigh.contains("graft_band"),
      s"auto mode banded a high-cardinality (5000-key) equi+range join:\n$pHigh")
    // "true" = always: overrides the cardinality gate even on the
    // high-cardinality fixture, still exact
    spark.conf.set(confKey, "true")
    try {
      val forced = runHigh()
      val pForced = forced.queryExecution.executedPlan.toString
      assert(pForced.contains("graft_band"),
        s"withEquiKeys=true did not force banding:\n$pForced")
      val nBanded = forced.count()
      spark.conf.set(confKey, "false")
      assert(nBanded === runHigh().count(),
        "forced banding changed the high-cardinality join result")
    } finally spark.conf.unset(confKey)
  }

  test("BandRangeJoinRule reads its policy and probes on the session that owns it") {
    val policy = graft.plans.BandRangeJoinRule.WithEquiKeysConf
    val tag = "spark.graft.test.session"
    val owner = spark.newSession()
    val other = spark.newSession()
    owner.conf.set(tag, "owner")
    other.conf.set(tag, "other")
    // under the other session's policy the rule would not even probe
    other.conf.set(policy, "false")
    import owner.implicits._
    // a fresh plan shape: the probe cache keys on the canonicalized plan
    val salt = System.nanoTime()
    val l = Seq.tabulate(50)(i => (i % 2L, i * 10L + salt)).toDF("k1", "t1")
    val r = Seq.tabulate(50)(i => (i % 2L, i * 10L + 5)).toDF("k2", "t2")
    val plan = l.join(r,
      $"k1" === $"k2" && $"t2" >= $"t1" - 100L && $"t2" <= $"t1" + 100L)
      .queryExecution.analyzed
    val rule = new graft.plans.BandRangeJoinRule(owner)
    val probes = graft.plans.BandRangeJoinRule.probeCount.get()
    val prev = SparkSession.getActiveSession
    var banded = ""
    val (jobs, _) = sparkEventsDuring {
      SparkSession.setActiveSession(other)
      try banded = rule(plan).toString
      finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
    assert(graft.plans.BandRangeJoinRule.probeCount.get() === probes + 1)
    assert(banded.contains("graft_band"), banded)
    val sessions = jobs.map(_.getProperty(tag)).toSet
    assert(sessions === Set("owner"), s"probe jobs ran under $sessions")
  }

  test("BandRangeJoinRule: policy off, no registry plan bands except the pure-range rule op") {
    // the rule pattern-matches every inner join in the session once
    // installed — this pins its blast radius across the ENTIRE registry:
    // with the equi+range policy off, the only plan allowed to carry the
    // generated band attributes is join_theta_rule, whose pure range join
    // is exactly what the rule exists for
    // 530 optimizedPlan builds, each executing the op's eager checkpoint
    // loops — 210 s sequential, the suite's #3 wall item (r16 test-gate
    // cut). Same worker-pool pattern as the registry smoke: each worker
    // installs the rule and sets the policy on its OWN isolated session,
    // so the shared session's conf is never touched.
    val confKey = graft.plans.BandRangeJoinRule.WithEquiKeysConf
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => DataFrame)]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach(queue.add)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val workers = (1 to 8).map { _ =>
      new Thread(() => {
        val session = spark.newSession()
        graft.plans.BandRangeJoin.install(session)
        session.conf.set(confKey, "false")
        var next = queue.poll()
        while (next != null) {
          val (key, q) = next
          try {
            val p = q(session, sf).queryExecution.optimizedPlan.toString
            if (key == "join_theta_rule") {
              if (!p.contains("graft_band"))
                bad.add(s"$key lost its optimizer banding")
            } else if (p.contains("graft_band"))
              bad.add(s"$key unexpectedly banded with the equi+range policy off")
          } catch { case e: Throwable => bad.add(s"$key threw $e") }
          next = queue.poll()
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    assert(bad.isEmpty, bad.toArray.mkString("; "))
  }

  test("BandRangeJoinRule is exact for negative and extreme time values") {
    import spark.implicits._
    graft.plans.BandRangeJoin.install(spark)
    // adversarial domain: negatives straddling zero (truncating-division
    // asymmetry) and values near the Long extremes (overflow)
    val ts = Seq(-1000L, -601L, -600L, -599L, -1L, 0L, 1L, 599L, 600L, 601L,
      Long.MaxValue - 10000, Long.MinValue + 10000)
    val l = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id1", "t1")
    val r = ts.zipWithIndex.map { case (t, i) => (i.toLong + 100, t) }.toDF("id2", "t2")
    val joined = l.join(r, $"t2" >= $"t1" - 600L && $"t2" <= $"t1" + 600L)
      .select($"id1", $"id2").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val brute = (for {
      (t1, i1) <- ts.zipWithIndex
      (t2, i2) <- ts.zipWithIndex
      // BigInt avoids overflow in the reference predicate itself
      if BigInt(t2) >= BigInt(t1) - 600 && BigInt(t2) <= BigInt(t1) + 600
    } yield (i1.toLong, i2.toLong + 100)).toSet
    assert(joined === brute)
  }

  test("sink_partitioned: the re-read prunes to one hive partition") {
    val df = SparkEntry.queries("sink_partitioned")(spark, sf)
    val p = plan(df)
    assert(p.contains("PartitionFilters") && p.contains("1-URGENT"),
      s"partition pruning missing:\n$p")
    assert(df.count() > 0)
  }

  test("src_partitioned: the journal re-read prunes day directories at plan time") {
    val df = SparkEntry.queries("src_partitioned")(spark, sf)
    val p = plan(df)
    assert(p.contains("PartitionFilters") && p.contains("event_date"),
      s"partition pruning missing:\n$p")
    assert(df.count() > 0)
  }

  test("graph_adamic_adar: scores recompute from common-neighbor degrees") {
    import spark.implicits._
    val rows = SparkEntry.queries("graph_adamic_adar")(spark, sf).collect()
    assert(rows.length === 20)
    // independent recompute from the raw adjacency, scalar JVM arithmetic
    val adj = ops.GraphOps.edges(spark, sf).select($"src", $"dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = adj.groupBy(_._1).map { case (s0, xs) => (s0, xs.length) }
    val byCust = adj.groupBy(_._1)
    val aa = new scala.collection.mutable.HashMap[(Long, Long), (Long, Long)]()
    byCust.foreach { case (c, es) =>
      val parts = es.map(_._2).sorted
      val t = math.round(1.0e9 / math.log(deg(c).toDouble))
      for (i <- parts.indices; j <- (i + 1) until parts.length) {
        val k = (parts(i), parts(j))
        val (s0, n0) = aa.getOrElse(k, (0L, 0L))
        aa(k) = (s0 + t, n0 + 1)
      }
    }
    rows.foreach { r =>
      val (exp, n) = aa((r.getLong(0), r.getLong(1)))
      assert(r.getLong(r.fieldIndex("common")) === n)
      assert(math.abs(r.getDouble(r.fieldIndex("aa")) - exp / 1.0e9) < 1e-12)
    }
  }

  test("join_theta_rule: optimizer bands the range join away from nested-loop") {
    import spark.implicits._
    val df = SparkEntry.queries("join_theta_rule")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"range join was not banded:\n$plan")
    // exactness: equals the brute-force unbanded evaluation
    val e = Tables.events(spark, sf)
      .select($"event_id", unix_millis($"ts").as("t"))
    val brute = e.select($"t".as("t1")).as("a")
      .crossJoin(e.select($"t".as("t2")).as("b"))
      .filter($"t2" > $"t1" && $"t2" <= $"t1" + 600000L)
      .groupBy(expr("t1 div 3600000").as("hour"))
      .agg(count(lit(1)).as("n_pairs"), sum($"t2" - $"t1").as("sum_delta_ms"))
      .orderBy($"hour")
      .collect().map(_.toSeq).toSeq
    assert(df.collect().map(_.toSeq).toSeq === brute)
  }

  test("win_sessionize: sessions partition the event log, dense per-user ordinals") {
    val rows = q("win_sessionize").collect()
    // every event lands in exactly one session
    val total = rows.map(r => r.getLong(r.fieldIndex("n_events"))).sum
    assert(total === Tables.events(spark, sf).count())
    // ordinals are 1..n per user, durations non-negative
    rows.groupBy(_.getLong(0)).foreach { case (_, sess) =>
      assert(sess.map(_.getLong(1)).sorted.toSeq === (1L to sess.length).toSeq)
    }
    assert(rows.forall(r => r.getLong(r.fieldIndex("dur_ms")) >= 0L))
    // cross-op pin: same 30-minute gap rule as the streaming session op
    assert(rows.length.toLong ===
      SparkEntry.queries("stream_session")(spark, sf).count())
  }

  test("sql_q18: top-100 by order value, threshold respected") {
    val rows = q("sql_q18").collect()
    assert(rows.length <= 100)
    assert(rows.forall(r => r.getLong(r.fieldIndex("total_qty")) > 120L))
    val prices = rows.map(r => r.getDouble(r.fieldIndex("o_totalprice")))
    assert(prices.zip(prices.tail).forall { case (x, y) => x >= y })
  }

  test("win_pareto: dense ranks, monotone cumulative share capped at 80%") {
    val rows = q("win_pareto").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(rows.head.fieldIndex("rn"))).toSeq ===
      (1L to rows.length).toSeq)
    val shares = rows.map(_.getDouble(rows.head.fieldIndex("cum_share")))
    assert(shares.zip(shares.tail).forall { case (x, y) => x <= y })
    assert(shares.last <= 0.8 + 1e-9)
  }

  test("agg_retention: every cohort has its day-0 cell; offsets non-negative") {
    val rows = q("agg_retention").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(r.fieldIndex("day_offset")) >= 0L))
    val cohorts = rows.map(_.getLong(0)).distinct
    val day0 = rows.filter(r => r.getLong(r.fieldIndex("day_offset")) == 0L)
      .map(_.getLong(0)).toSet
    assert(cohorts.forall(day0), "a cohort without a day-0 cell is impossible")
  }

  test("sql_q14: promo share is promo/total on every month row") {
    val rows = q("sql_q14").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val promo = r.getDouble(r.fieldIndex("promo_revenue"))
      val tot = r.getDouble(r.fieldIndex("total_revenue"))
      val share = r.getDouble(r.fieldIndex("promo_share"))
      assert(promo >= 0 && promo <= tot)
      assert(math.abs(share - promo / tot) < 1e-12)
    }
  }

  test("win_streaks: matches a sequential consecutive-day fold per user") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = q("win_streaks").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val days = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val exp = days.groupBy(_._1).map { case (u, rows) =>
      val ds = rows.map(_._2).sorted
      val streaks = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
      var start = ds.head
      var len = 1L
      for (i <- 1 until ds.length) {
        if (ds(i) == ds(i - 1) + 1) len += 1
        else { streaks += ((start, len)); start = ds(i); len = 1 }
      }
      streaks += ((start, len))
      val mx = streaks.map(_._2).max
      u -> (ds.length.toLong, streaks.length.toLong, mx,
        streaks.filter(_._2 == mx).map(_._1).min)
    }
    assert(got === exp)
    assert(got.nonEmpty)
  }

  test("agg_entropy: nano-quantized recompute; single-type users score zero") {
    val got = q("agg_entropy").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val ev = Tables.events(spark, sf).select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def r4(x: Double): Double = // Spark round(x, 4): HALF_UP on the double's exact decimal
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val exp = ev.groupBy(_._1).map { case (u, rows) =>
      val counts = rows.groupBy(_._2).map(_._2.length.toLong)
      val n = counts.sum
      val s = counts.map(c =>
        c * math.floor(-math.log(c.toDouble / n) * 1e9 + 0.5).toLong).sum
      u -> (n, counts.size.toLong, r4(s / (n * 1e9)))
    }
    assert(got === exp)
    got.foreach { case (u, (_, nTypes, h)) =>
      if (nTypes == 1L) assert(h === 0.0, s"user $u has one type but entropy $h")
    }
  }

  test("agg_skew_kurt: bit-identical to an exact-moment JVM recompute") {
    val rows = q("agg_skew_kurt").collect()
    assert(rows.nonEmpty)
    val qs = Tables.lineitem(spark, sf).select("l_returnflag", "l_quantity")
      .collect().map(r => (r.getString(0), r.getDouble(1).toLong))
    rows.foreach { r =>
      val vs = qs.filter(_._1 == r.getString(0)).map(_._2)
      val n = vs.length.toLong
      val s1 = vs.sum; val s2 = vs.map(v => v * v).sum
      val s3 = vs.map(v => v * v * v).sum; val s4 = vs.map(v => v * v * v * v).sum
      val m = s1.toDouble / n.toDouble
      val e2 = s2.toDouble / n.toDouble
      val e3 = s3.toDouble / n.toDouble
      val e4 = s4.toDouble / n.toDouble
      val m2 = e2 - m * m
      val m3 = e3 - 3.0 * m * e2 + 2.0 * m * m * m
      val m4 = e4 - 4.0 * m * e3 + 6.0 * m * m * e2 - 3.0 * m * m * m * m
      def bits(x: Double) = java.lang.Double.doubleToLongBits(x)
      assert(r.getLong(1) === n)
      assert(bits(r.getDouble(2)) === bits(m), "mean")
      assert(bits(r.getDouble(3)) === bits(m2), "var_pop")
      assert(bits(r.getDouble(4)) === bits(m3 / (m2 * math.sqrt(m2))), "skew")
      assert(bits(r.getDouble(5)) === bits(m4 / (m2 * m2) - 3.0), "kurt")
    }
  }

  test("win_rolling_median: frame picks match a JVM sliding-window sort") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = q("win_rolling_median").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", unix_millis($"ts").as("ms"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val exp = ev.groupBy(_._1).flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      sorted.indices.map { i =>
        val frame = sorted.slice(math.max(0, i - 10), i + 1).map(_._4).sorted
        val k = frame.length
        (sorted(i)._1, sorted(i)._2) ->
          (k.toLong, frame((k + 1) / 2 - 1), frame(k / 2))
      }
    }
    assert(got === exp)
    assert(got.nonEmpty)
  }

  test("win_gap_fill: grid is contiguous per user and fill carries the last day") {
    val rows = q("win_gap_fill").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        r.getBoolean(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val sorted = rs.sortBy(_._2)
      // contiguous day grid
      assert(sorted.map(_._2).toSeq ===
        (sorted.head._2 to sorted.last._2).toSeq, s"user $u grid has holes")
      // first row is an observation; fill is the last non-gap day_value
      assert(!sorted.head._4, s"user $u grid starts on a gap")
      var lastVal = Double.NaN
      sorted.foreach { case (_, d, dv, isGap, filled) =>
        assert(isGap === dv.isEmpty, s"user $u day $d gap flag")
        dv.foreach(v => lastVal = v)
        assert(filled === lastVal, s"user $u day $d fill")
      }
    }
    // msum-quantized day sums equal a JVM recompute on one user
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val u0 = rows.head._1
    val ev = Tables.events(spark, sf)
      .filter($"user_id" === u0)
      .select((unix_millis($"ts") / lit(86400000L)).cast("long").as("d"), $"value")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expDaily = ev.groupBy(_._1).map { case (d, vs) =>
      d -> vs.map(v => BigDecimal(v._2 * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum.toDouble / 10000.0
    }
    rows.filter(r => r._1 == u0 && r._3.isDefined).foreach { r =>
      assert(r._3.get === expDaily(r._2), s"day ${r._2} sum")
    }
  }

  test("win_pct_change: ratio recomputes from the exact daily sums; zero-baseline is NULL") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = q("win_pct_change").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long")
        .as("d"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val daily = ev.groupBy(e => (e._1, e._2)).view.mapValues(xs =>
      xs.map(v => BigDecimal(v._3 * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
        .sum.toDouble / 10000.0).toMap
    var checked = 0
    daily.keys.groupBy(_._1).foreach { case (u, ks) =>
      val ds = ks.map(_._2).toSeq.sorted
      ds.zipWithIndex.foreach { case (d, i) =>
        val v = daily((u, d))
        val prev = if (i == 0) None else Some(daily((u, ds(i - 1))))
        val pct = prev.filter(_ != 0.0).map(p =>
          math.floor((v - p) / p * 10000.0 + 0.5) / 10000.0)
        assert(got((u, d)) === ((v, prev, pct)), s"user $u day $d")
        checked += 1
      }
    }
    assert(checked === got.size)
  }

  test("agg_linreg: closed form matches a JVM exact-sum recompute bitwise") {
    val rows = q("agg_linreg").collect()
    assert(rows.nonEmpty)
    val li = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1).toLong,
        BigDecimal(r.getDouble(2) * 100)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    def bits(x: Double) = java.lang.Double.doubleToLongBits(x)
    rows.foreach { r =>
      val g = li.filter(_._1 == r.getString(0))
      val n = g.length.toLong
      val sx = g.map(_._2).sum; val sy = g.map(_._3).sum
      val sxx = g.map(v => v._2 * v._2).sum
      val sxy = g.map(v => v._2 * v._3).sum
      val slopeC = (n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble) /
        (n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble)
      assert(r.getLong(1) === n)
      assert(bits(r.getDouble(2)) === bits(slopeC / 100.0), "slope")
      assert(bits(r.getDouble(3)) ===
        bits((sy.toDouble - slopeC * sx.toDouble) / n.toDouble / 100.0),
        "intercept")
    }
  }

  test("agg_chisq: quantized cell fold matches a JVM contingency recompute") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val r = q("agg_chisq").collect()
    assert(r.length === 1)
    val ev = Tables.events(spark, sf)
      .select($"event_type", (unix_millis($"ts") / lit(3600000L))
        .cast("long").as("h"))
      .collect().map(x => (x.getString(0), x.getLong(1) % 24))
    val cells = ev.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rt = ev.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val ct = ev.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = ev.length.toLong
    val sq = cells.map { case ((t, h), o) =>
      val e = rt(t).toDouble * ct(h).toDouble / n.toDouble
      math.floor((o.toDouble - e) * (o.toDouble - e) / e * 1e9 + 0.5).toLong
    }.sum
    val chi2 = math.floor(sq.toDouble / 1e9 * 10000.0 + 0.5) / 10000.0
    assert(r(0).getLong(0) === cells.size.toLong)
    assert(r(0).getLong(1) === (rt.size - 1).toLong * (ct.size - 1))
    assert(r(0).getDouble(2) === chi2)
    // margin pin at the driver gate's sf for the nano quantization
    def margin(x: Double): Double = { val f = x - math.floor(x); math.min(f, 1.0 - f) }
    val gev = Tables.events(spark, "/root/testdata/sf0.01")
      .select($"event_type", (unix_millis($"ts") / lit(3600000L))
        .cast("long").as("h"))
      .collect().map(x => (x.getString(0), x.getLong(1) % 24))
    val gc = gev.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val grt = gev.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val gct = gev.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val gn = gev.length.toLong
    val mMin = gc.map { case ((t, h), o) =>
      val e = grt(t).toDouble * gct(h).toDouble / gn.toDouble
      margin((o.toDouble - e) * (o.toDouble - e) / e * 1e9 + 0.5)
    }.min
    assert(mMin > 1e-5, s"chisq cell quantization margin $mMin")
  }

  test("src_csv_dialect: pipe-delimited round-trip is lossless") {
    import spark.implicits._
    val got = q("src_csv_dialect").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    val exp = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        $"o_orderpriority")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .sortBy(_._1)
    assert(got.toSeq === exp.toSeq)
    assert(got.nonEmpty)
  }

  test("agg_ohlc: open/close are the chronological first/last picks") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = q("agg_ohlc").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6))).toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_millis($"ts").as("ms"), $"event_id", $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val exp = ev.groupBy(e => (e._1, e._2 / 3600000L)).map { case (k, rows) =>
      val chron = rows.sortBy(r => (r._2, r._3))
      k -> (rows.length.toLong, chron.head._4, chron.last._4,
        rows.map(_._4).min, rows.map(_._4).max)
    }
    assert(got === exp)
    got.values.foreach { case (_, o, c, lo, hi) =>
      assert(lo <= o && o <= hi && lo <= c && c <= hi)
    }
  }

  test("join_asof_tolerance: stale matches null out; fresh rows equal join_asof") {
    val base = q("join_asof").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some((r.getLong(3), r.getLong(4), r.getLong(5)))))
      .toMap
    val rows = q("join_asof_tolerance").collect()
    assert(rows.nonEmpty)
    var stale = 0
    rows.foreach { r =>
      val m = base(r.getLong(0))
      if (r.isNullAt(3)) {
        // either no click at all, or the backward match was too old
        assert(m.isEmpty || m.get._3 > 3600000L)
        if (m.exists(_._3 > 3600000L)) stale += 1
      } else {
        val (cid, cts, gap) = (r.getLong(3), r.getLong(4), r.getLong(5))
        assert(gap <= 3600000L)
        assert(m.contains((cid, cts, gap)), "fresh rows must equal join_asof")
      }
    }
    assert(stale > 0, "fixture should contain at least one stale match")
  }

  test("agg_mannwhitney: exact half-unit ranks match a JVM recompute bitwise") {
    val r = q("agg_mannwhitney").collect()
    assert(r.length === 1)
    val ev = Tables.events(spark, sf).select("event_type", "value").collect()
      .map(x => (x.getString(0), BigDecimal(x.getDouble(1) * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
      .filter(x => x._1 == "click" || x._1 == "purchase")
    val byQ = ev.groupBy(_._2).toSeq.sortBy(_._1).map { case (q, xs) =>
      (q, xs.length.toLong, xs.count(_._1 == "click").toLong)
    }
    var cum = 0L
    var n1 = 0L; var n = 0L; var r12 = 0L; var tsum = 0L
    byQ.foreach { case (_, c, c1) =>
      cum += c
      val r2 = 2L * (cum - c) + c + 1
      n1 += c1; n += c; r12 += c1 * r2; tsum += c * c * c - c
    }
    val n2 = n - n1
    val u2 = 2L * n1 * n2 + n1 * (n1 + 1) - r12
    val u = u2.toDouble / 2.0
    val z = (u2.toDouble / 2.0 - n1.toDouble * n2.toDouble / 2.0) /
      math.sqrt(n1.toDouble * n2.toDouble / 12.0 *
        ((n.toDouble + 1.0) - tsum.toDouble / (n.toDouble * (n.toDouble - 1.0))))
    def bits(x: Double) = java.lang.Double.doubleToLongBits(x)
    assert(r(0).getLong(0) === n1); assert(r(0).getLong(1) === n2)
    assert(bits(r(0).getDouble(2)) === bits(u))
    assert(bits(r(0).getDouble(3)) === bits(z))
    // sanity: U within its range, tie correction engaged on this data
    assert(u >= 0.0 && u <= (n1 * n2).toDouble)
    assert(tsum > 0, "quantized fixture should contain ties")
  }

  test("src_schema_evolution: merged read = pristine frame with nulled old column") {
    import spark.implicits._
    val got = q("src_schema_evolution").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getString(3))))
    assert(got.nonEmpty)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val exp = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        ($"o_orderdate" < to_timestamp(lit("1997-01-01 00:00:00")))
          .as("old"), $"o_orderpriority")
      .collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2),
          if (r.getBoolean(3)) None else Some(r.getString(4)))
      }.sortBy(_._1)
    assert(got.toSeq === exp.toSeq)
    assert(exp.exists(_._4.isEmpty) && exp.exists(_._4.isDefined),
      "fixture must exercise both schema generations")
  }

  test("agg_histogram2d: cells partition the table and match a JVM binning") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = q("agg_histogram2d").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ev = Tables.events(spark, sf)
      .select(unix_millis($"ts").as("ms"), $"value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val exp = ev.groupBy { case (ms, v) =>
      (ms / 3600000L % 24L, math.floor(v / 10).toLong)
    }.view.mapValues(_.length.toLong).toMap
    assert(got === exp)
    assert(got.values.sum === ev.length.toLong, "cells must partition the rows")
  }

  test("join_lateral: decorrelated plan, exactly the per-customer top-2") {
    import spark.implicits._
    val df = q("join_lateral")
    // Catalyst must decorrelate: no nested-loop / cartesian re-execution
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"LATERAL was not decorrelated:\n$p")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    val orders = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exp = orders.groupBy(_._1).toSeq.flatMap { case (ck, os) =>
      os.sortBy(o => (-o._3, o._2)).take(2).map(o => (ck, o._2, o._3))
    }.sortBy { case (ck, ok, tp) => (ck, -tp, ok) }
    assert(got.toSeq === exp)
  }

  test("join_interval_overlap: banding recovers exactly the all-pairs interval scan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = q("join_interval_overlap").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", unix_millis($"ts").as("ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sess = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2)).map(_._3)
      val sids = sorted.indices.map { i =>
        if (i == 0 || sorted(i) - sorted(i - 1) > 1800000L) 1L else 0L
      }.scanLeft(0L)(_ + _).tail
      sorted.zip(sids).groupBy(_._2).map { case (sid, ms) =>
        (u, sid, ms.map(_._1).min, ms.map(_._1).max)
      }
    }
    val exp = (for {
      a <- sess; b <- sess
      if a._1 < b._1 && a._3 < b._4 && b._3 < a._4 // NO banding: every pair
    } yield (a._1, a._2, b._1, b._2, math.max(a._3, b._3),
      math.min(a._4, b._4), math.min(a._4, b._4) - math.max(a._3, b._3))).toSet
    assert(got === exp)
    assert(got.nonEmpty, "fixture should contain overlapping cross-user sessions")
  }

  test("agg_ttest: Welch statistic matches a JVM exact-moment recompute bitwise") {
    val rows = q("agg_ttest").collect()
    assert(rows.length > 1)
    val ev = Tables.events(spark, sf).select("event_type", "value").collect()
      .map(r => (r.getString(0), BigDecimal(r.getDouble(1) * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    val mom = ev.groupBy(_._1).view.mapValues { xs =>
      val q = xs.map(_._2)
      (q.length.toLong, q.sum, q.map(x => x * x).sum)
    }.toMap
    def bits(x: Double) = java.lang.Double.doubleToLongBits(x)
    rows.foreach { r =>
      val (na, s1a, s2a) = mom(r.getString(0))
      val (nb, s1b, s2b) = mom(r.getString(1))
      val ma = s1a.toDouble / na.toDouble; val mb = s1b.toDouble / nb.toDouble
      val va = (s2a.toDouble - s1a.toDouble * s1a.toDouble / na.toDouble) /
        (na.toDouble - 1.0)
      val vb = (s2b.toDouble - s1b.toDouble * s1b.toDouble / nb.toDouble) /
        (nb.toDouble - 1.0)
      val sea = va / na.toDouble; val seb = vb / nb.toDouble
      val t = (ma - mb) / math.sqrt(sea + seb)
      val df = ((sea + seb) * (sea + seb)) /
        (sea * sea / (na.toDouble - 1.0) + seb * seb / (nb.toDouble - 1.0))
      assert(r.getLong(2) === na); assert(r.getLong(3) === nb)
      assert(bits(r.getDouble(4)) === bits(t), s"${r.getString(0)} t")
      assert(bits(r.getDouble(5)) === bits(df), s"${r.getString(0)} df")
      // Welch df is bounded by the pooled df and at least min(n)-1
      assert(df > math.min(na, nb) - 1.0 && df < (na + nb).toDouble)
    }
  }

  test("win_cusum: max-reset fold matches a JVM recompute; resets to zero") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = q("win_cusum").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), r.getDouble(4), r.getBoolean(5))).toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", unix_millis($"ts").as("ms"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def bits(x: Double) = java.lang.Double.doubleToLongBits(x)
    var sawZero = false
    ev.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      sorted.indices.foreach { i =>
        val frame = sorted.slice(math.max(0, i - 15), i + 1).map(_._4)
        val exp = frame.foldLeft(0.0) { (acc, x) =>
          val c = acc + (x - 100.0); if (c > 0.0) c else 0.0
        }
        val (nf, cu, drift) = got((sorted(i)._1, sorted(i)._2))
        assert(nf === frame.length.toLong)
        assert(bits(cu) === bits(exp), s"row ${sorted(i)._2} cusum")
        assert(drift === (exp > 500.0))
        if (exp == 0.0) sawZero = true
      }
    }
    assert(sawZero, "fixture should exercise the reset-to-zero branch")
  }

  test("agg_weighted_median: integer crossing point matches a JVM weighted scan") {
    val rows = q("agg_weighted_median").collect()
    assert(rows.nonEmpty)
    val li = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getString(0), r.getDouble(1).toLong,
        BigDecimal(r.getDouble(2) * 100)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    rows.foreach { r =>
      val g = li.filter(_._1 == r.getString(0))
      val tot = g.map(_._3).sum
      val byV = g.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
      var cum = 0L
      val med = byV.collectFirst {
        case (v, wv) if { cum += wv; cum * 2 >= tot } => v
      }.get
      assert(r.getLong(1) === med, s"flag ${r.getString(0)} median")
      assert(r.getLong(2) === tot, s"flag ${r.getString(0)} total weight")
    }
  }

  test("agg_gini: closed form matches a JVM exact-integer recompute") {
    import spark.implicits._
    val rows = q("agg_gini").collect()
    assert(rows.nonEmpty)
    val spend = Tables.orders(spark, sf).select("o_custkey", "o_totalprice")
      .collect().map(r => (r.getLong(0),
        BigDecimal(r.getDouble(1) * 100)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val nat = Tables.customer(spark, sf).select("c_custkey", "c_nationkey")
      .collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue()).toMap
    def bits(x: Double) = java.lang.Double.doubleToLongBits(x)
    rows.foreach { r =>
      val nk = r.getAs[Number](0).longValue()
      val xs = spend.toSeq.filter(kv => nat(kv._1) == nk)
        .sortBy { case (ck, x) => (x, ck) }.map(_._2)
      val n = xs.length.toLong
      val sx = xs.sum
      val six = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      val gini = (2.0 * six.toDouble - (n + 1).toDouble * sx.toDouble) /
        (n.toDouble * sx.toDouble)
      assert(r.getLong(1) === n)
      assert(bits(r.getDouble(2)) === bits(gini), s"nation $nk gini")
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0)
    }
  }

  test("win_zscore: exact frame moments match a JVM recompute bitwise") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = q("win_zscore").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          r.getBoolean(5))).toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", unix_millis($"ts").as("ms"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def bits(x: Double) = java.lang.Double.doubleToLongBits(x)
    var checked = 0
    ev.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      val qs = sorted.map(r => BigDecimal(r._4 * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      sorted.indices.foreach { i =>
        val frame = qs.slice(math.max(0, i - 10), i + 1)
        val n = frame.length.toLong
        val key = (sorted(i)._1, sorted(i)._2)
        if (n < 5) assert(!got.contains(key), s"short frame emitted: $key")
        else {
          val (nf, z, anom) = got(key)
          assert(nf === n)
          val m = frame.sum.toDouble / n.toDouble
          val v = frame.map(x => x * x).sum.toDouble / n.toDouble - m * m
          if (v > 0) {
            val ez = (qs(i).toDouble - m) / math.sqrt(v)
            assert(bits(z.get) === bits(ez), s"$key z")
            assert(anom === (ez > 2.0 || ez < -2.0))
          } else { assert(z.isEmpty); assert(!anom) }
          checked += 1
        }
      }
    }
    assert(checked > 0)
  }

  test("win_ewma: Horner fold over the canonical frame order, bitwise") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = q("win_ewma").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", unix_millis($"ts").as("ms"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def bits(x: Double) = java.lang.Double.doubleToLongBits(x)
    ev.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2))
      sorted.indices.foreach { i =>
        val frame = sorted.slice(math.max(0, i - 7), i + 1).map(_._4)
        val exp = frame.tail.foldLeft(frame.head)((acc, x) => acc * 0.5 + x * 0.5)
        val (nf, ew) = got((sorted(i)._1, sorted(i)._2))
        assert(nf === frame.length.toLong)
        assert(bits(ew) === bits(exp), s"row ${sorted(i)._2} ewma")
      }
    }
  }

  test("join_bucketed: bucketed scans feed the merge join with zero shuffle") {
    import spark.implicits._
    val df = q("join_bucketed")
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
    assert(!p.contains("BroadcastExchange"), s"merge hint ignored:\n$p")
    // the only exchanges belong to the rollup + final sort — the join
    // consumes the on-disk bucketing (scan shows Bucketed: true)
    val nEx = p.linesIterator.count(_.contains("Exchange "))
    assert(nEx <= 2, s"bucketed join should not shuffle its inputs ($nEx):\n$p")
    assert(p.contains("Bucketed: true"), s"scan did not use bucketing:\n$p")
    // result equals the unbucketed join-aggregate
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        graft.ops.Relational.msum($"l_extendedprice" * (lit(1) - $"l_discount"))
          .as("revenue"))
      .orderBy($"o_orderpriority")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === plain)
    assert(got.nonEmpty)
  }

  test("agg_benford: digit counts match a JVM recompute; shares quantized; Benford constants exact") {
    import spark.implicits._
    val rows = q("agg_benford").collect()
    assert(rows.nonEmpty && rows.length <= 9)
    val cents = Tables.lineitem(spark, sf).select($"l_extendedprice").collect()
      .map(r => BigDecimal(r.getDouble(0) * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      .filter(_ > 0)
    val exp = cents.map(_.toString.head.asDigit.toLong)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val tot = cents.length.toLong
    rows.foreach { r =>
      val d = r.getLong(0)
      assert(r.getLong(1) === exp(d), s"digit $d count")
      assert(r.getDouble(2) ===
        math.floor(exp(d).toDouble / tot * 10000.0 + 0.5) / 10000.0)
      assert(r.getDouble(3) ===
        math.floor(math.log10(1.0 + 1.0 / d) * 10000.0 + 0.5) / 10000.0)
    }
    assert(rows.map(_.getLong(1)).sum === tot)
  }

  test("agg_hhi: concentration recomputes exactly from cents-scaled supplier revenue") {
    import spark.implicits._
    val rows = q("agg_hhi").collect()
    assert(rows.nonEmpty)
    val li = Tables.lineitem(spark, sf)
      .select($"l_suppkey", $"l_extendedprice", $"l_discount").collect()
      .map(r => r.getLong(0) -> BigDecimal(r.getDouble(1) * (1 - r.getDouble(2)) * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    val rev = li.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val supNat = Tables.supplier(spark, sf).select($"s_suppkey", $"s_nationkey")
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val natName = Tables.nation(spark, sf).select($"n_nationkey", $"n_name")
      .collect().map(r => r.getInt(0).toLong -> r.getString(1)).toMap
    val byNat = rev.toSeq.map { case (sk, r) => supNat(sk) -> r }.groupBy(_._1)
    rows.foreach { r =>
      val name = r.getString(0)
      val nk = natName.find(_._2 == name).get._1
      val rs = byNat(nk).map(_._2)
      assert(r.getLong(1) === rs.length.toLong, s"$name n_suppliers")
      val totR = rs.sum
      val sq = rs.map { x =>
        val sh = x.toDouble / totR.toDouble
        math.floor(sh * sh * 1.0e9 + 0.5).toLong
      }.sum
      assert(r.getDouble(2) === sq.toDouble / 1.0e9, s"$name hhi")
      val ms = rs.map(x => x.toDouble / totR.toDouble).max
      assert(r.getDouble(3) === math.floor(ms * 10000.0 + 0.5) / 10000.0)
      assert(r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0)
    }
  }

  test("agg_autocorr: Pearson closed form over daily counts matches a bitwise JVM recompute") {
    import spark.implicits._
    val r0 = q("agg_autocorr").collect()
    assert(r0.length === 1)
    val daily = Tables.events(spark, sf)
      .select((unix_millis($"ts") / lit(86400000L)).cast("long").as("d"))
      .groupBy($"d").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val pairs = daily.sliding(2).collect {
      case Array((d1, c1), (d2, c2)) if d2 == d1 + 1 || d2 > d1 => (c1, c2)
    }.toSeq
    val n = pairs.length.toLong
    val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
    val sxx = pairs.map(p => p._1 * p._1).sum
    val syy = pairs.map(p => p._2 * p._2).sum
    val sxy = pairs.map(p => p._1 * p._2).sum
    val expR = (n * sxy - sx * sy).toDouble /
      math.sqrt((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble)
    assert(r0.head.getLong(0) === n)
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    assert(bits(r0.head.getDouble(1)) === bits(expR))
    assert(math.abs(r0.head.getDouble(1)) <= 1.0)
  }

  test("win_drawdown: cumulative/peak stay exact; drawdown recomputes; peak monotone") {
    import spark.implicits._
    val rows = q("win_drawdown").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val daily = ev.groupBy(e => (e._1, e._2)).view.mapValues(_.map(v =>
      BigDecimal(v._3 * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum).toMap
    val expRows = daily.keys.groupBy(_._1).flatMap { case (u, ks) =>
      var cum = 0L; var peak = Long.MinValue
      ks.map(_._2).toSeq.sorted.map { d =>
        cum += daily((u, d)); peak = math.max(peak, cum)
        val dd = if (peak > 0)
          Some(math.floor((cum - peak).toDouble / peak.toDouble * 10000.0 + 0.5) / 10000.0)
        else None
        (u, d, cum.toDouble / 10000.0, peak.toDouble / 10000.0, dd)
      }
    }.toSet
    assert(rows.toSet === expRows)
    rows.foreach { case (_, _, cum, peak, dd) =>
      assert(peak >= cum - 1e-12)
      dd.foreach(x => assert(x <= 0.0))
    }
  }

  test("win_skyline: output is exactly the undominated (price, day) point set") {
    import spark.implicits._
    val got = q("win_skyline").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    val pts = Tables.orders(spark, sf)
      .select($"o_totalprice",
        (unix_millis($"o_orderdate".cast("timestamp")) / lit(86400000L)).cast("long"))
      .collect().map(r => (r.getDouble(0), r.getLong(1)))
    val grouped = pts.groupBy(identity).view.mapValues(_.length.toLong).toMap
    def dominated(p: (Double, Long)) = grouped.keys.exists(o =>
      o._1 >= p._1 && o._2 <= p._2 && (o._1 > p._1 || o._2 < p._2))
    val expSky = grouped.filter { case (p, _) => !dominated(p) }
    assert(got.map(t => (t._1, t._2) -> t._3).toMap === expSky)
    // ordered by price desc; each survivor is strictly earlier than all
    // higher-priced survivors, so days strictly DECREASE down the list
    assert(got.map(_._1).toSeq === got.map(_._1).sortBy(-_).toSeq)
    assert(got.map(_._2).sliding(2).forall(w => w.length < 2 || w(0) > w(1)))
  }

  test("agg_rfm: metrics recompute exactly; quintiles follow SQL-standard ntile sizing") {
    import spark.implicits._
    val rows = q("agg_rfm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7)))
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byUser = ev.groupBy(_._1).view.mapValues { xs =>
      val ms = xs.map(v => BigDecimal(v._3 * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum
      (xs.map(_._2).max, xs.length.toLong, ms)
    }.toMap
    val maxd = byUser.values.map(_._1).max
    def ntile5(order: Seq[Long]): Map[Long, Long] = {
      val n = order.length; val base = n / 5; val extra = n % 5
      order.zipWithIndex.map { case (u, i) =>
        // bucket of 1-indexed row i+1 with first `extra` buckets one larger
        var (acc, b) = (0, 0)
        while (acc <= i) { b += 1; acc += base + (if (b <= extra) 1 else 0) }
        u -> b.toLong
      }.toMap
    }
    val users = byUser.keys.toSeq
    val rS = ntile5(users.sortBy(u => (-(maxd - byUser(u)._1), u)))
    val fS = ntile5(users.sortBy(u => (byUser(u)._2, u)))
    val mS = ntile5(users.sortBy(u => (byUser(u)._3, u)))
    rows.foreach { case (u, rec, freq, mon, r5, f5, m5, seg) =>
      val (ld, f, ms) = byUser(u)
      assert(rec === maxd - ld, s"user $u recency")
      assert(freq === f)
      assert(mon === ms.toDouble / 10000.0)
      assert(r5 === rS(u), s"user $u r_score")
      assert(f5 === fS(u), s"user $u f_score")
      assert(m5 === mS(u), s"user $u m_score")
      assert(seg === s"$r5$f5$m5")
    }
    assert(rows.length === byUser.size)
  }

  test("agg_percentiles: each pN is the element at rank ceil(p*n/100) exactly") {
    import spark.implicits._
    val got = q("agg_percentiles").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select($"lang", $"doc_id", $"n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    docs.groupBy(_._1).foreach { case (lang, ds) =>
      val sorted = ds.sortBy(d => (d._3, d._2)).map(_._3)
      val n = sorted.length.toLong
      Seq(25L, 50L, 75L, 90L).foreach { p =>
        val rank = (p * n + 99) / 100
        assert(got((lang, p)) === sorted(rank.toInt - 1), s"$lang p$p")
      }
    }
    assert(got.size === docs.map(_._1).distinct.length * 4)
  }

  test("project_unpivot: per-metric rollup equals column-wise aggregates; plan uses Expand") {
    import spark.implicits._
    val df = q("project_unpivot")
    val got = df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet === Set("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    val li = Tables.lineitem(spark, sf)
      .select($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax").collect()
    def ms(xs: Seq[Double]): Double = xs.map(x => BigDecimal(x * 10000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum.toDouble / 10000.0
    val n = li.length.toLong
    Seq(("l_quantity", 0), ("l_extendedprice", 1), ("l_discount", 2), ("l_tax", 3))
      .foreach { case (m, i) =>
        assert(got(m)._1 === n, m)
        assert(got(m)._2 === ms(li.map(_.getDouble(i)).toSeq), m)
      }
    // single-scan reshape: the melt plans as Expand, not a union of scans
    assert(plan(df).contains("Expand"), plan(df))
    assert(!plan(df).toLowerCase.contains("union"), plan(df))
  }

  test("src_pk_audit: one row per table, keys unique in the synthetic catalog") {
    val rows = q("src_pk_audit").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === Seq("customer", "documents", "embeddings",
      "events", "lineitem", "nation", "orders", "part", "region", "supplier"))
    rows.foreach { case (t, (n, k, d)) =>
      assert(n > 0, t)
      assert(d === n - k, t)
      assert(d >= 0L, t)
    }
    // the single-column surrogate keys ARE unique in the synthetic catalog;
    // lineitem's composite key genuinely collides (generator artifact) —
    // recompute its dup count instead of assuming zero
    val m = rows.toMap
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "events", "documents", "embeddings").foreach(t =>
      assert(m(t)._3 === 0L, s"$t has duplicate keys"))
    assert(m("events")._1 === Tables.events(spark, sf).count())
    val li = Tables.lineitem(spark, sf)
    assert(m("lineitem")._1 === li.count())
    assert(m("lineitem")._2 ===
      li.select("l_orderkey", "l_linenumber").distinct().count())
  }

  test("agg_seasonality: weekday rollup recomputes; indices average to ~1 over days") {
    import spark.implicits._
    val rows = q("agg_seasonality").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty && rows.forall(r => r._1 >= 0 && r._1 <= 6))
    val days = Tables.events(spark, sf)
      .select((unix_millis($"ts") / lit(86400000L)).cast("long").as("d"))
      .collect().map(_.getLong(0)).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val te = days.values.sum; val td = days.size.toLong
    val byWd = days.toSeq.groupBy { case (d, _) => (d + 3) % 7 }
    assert(rows.map(_._1).toSet === byWd.keySet)
    rows.foreach { case (wd, (nd, ne, avg, idx)) =>
      val ds = byWd(wd)
      assert(nd === ds.length.toLong, s"wd $wd n_days")
      assert(ne === ds.map(_._2).sum, s"wd $wd n_events")
      assert(avg === math.floor(ne.toDouble / nd * 10000.0 + 0.5) / 10000.0)
      assert(idx === math.floor((ne.toDouble / nd) / (te.toDouble / td) * 10000.0 + 0.5) / 10000.0)
      assert(idx > 0.0)
    }
  }

  test("win_holt: two-state fold matches a bitwise JVM recurrence") {
    import spark.implicits._
    val got = q("win_holt").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val daily = ev.groupBy(e => (e._1, e._2)).view.mapValues(xs =>
      xs.map(v => BigDecimal(v._3 * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum.toDouble / 10000.0).toMap
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    daily.keys.groupBy(_._1).foreach { case (u, ks) =>
      val vs = ks.map(_._2).toSeq.sorted.map(d => daily((u, d)))
      var l = vs.head; var t = 0.0
      vs.tail.foreach { e =>
        val lNew = 0.5 * e + 0.5 * (l + t)
        t = 0.5 * ((0.5 * e + 0.5 * (l + t)) - l) + 0.5 * t
        l = lNew
      }
      val (nd, gl, gt, gf) = got(u)
      assert(nd === vs.length.toLong, s"user $u n_days")
      assert(bits(gl) === bits(l), s"user $u level")
      assert(bits(gt) === bits(t), s"user $u trend")
      assert(bits(gf) === bits(l + t), s"user $u forecast")
    }
    assert(got.size === daily.keys.map(_._1).toSeq.distinct.length)
  }

  test("win_sax: symbol strings recompute from exact per-user moments") {
    import spark.implicits._
    val got = q("win_sax").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val daily = ev.groupBy(e => (e._1, e._2)).view.mapValues(_.map(v =>
      BigDecimal(v._3 * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum).toMap
    daily.keys.groupBy(_._1).foreach { case (u, ks) =>
      val ds = ks.map(_._2).toSeq.sorted
      val vs = ds.map(d => daily((u, d)))
      val n = vs.length.toLong; val s1 = vs.sum; val s2 = vs.map(v => v * v).sum
      val varn = n * s2 - s1 * s1
      val sax = ds.map { d =>
        val v = daily((u, d))
        if (varn == 0) "c"
        else {
          val z = (v.toDouble - s1.toDouble / n.toDouble) /
            math.sqrt(varn.toDouble) * n.toDouble
          if (z < -0.6745) "a" else if (z < 0.0) "b"
          else if (z < 0.6745) "c" else "d"
        }
      }.mkString
      assert(got(u) === ((n, sax)), s"user $u")
    }
    assert(got.size === daily.keys.map(_._1).toSeq.distinct.length)
    // the alphabet is closed and strings non-trivial
    assert(got.values.forall(_._2.forall("abcd".contains(_))))
  }

  test("agg_markov: transition counts and row-stochastic shares recompute") {
    import spark.implicits._
    val got = q("agg_markov").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"event_type", unix_millis($"ts").as("ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val trans = ev.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
      val tl = xs.sortBy(e => (e._4, e._2)).map(_._3)
      tl.zip(tl.tail)
    }
    val counts = trans.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rowTot = counts.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    assert(got.keySet === counts.keySet)
    counts.foreach { case (k, n) =>
      val (gn, gp) = got(k)
      assert(gn === n, k)
      assert(gp === math.floor(n.toDouble / rowTot(k._1) * 10000.0 + 0.5) / 10000.0, k)
    }
    // each from-state's shares account for its full row mass (quantized)
    got.toSeq.groupBy(_._1._1).foreach { case (ft, cells) =>
      val s = cells.map(_._2._2).sum
      assert(math.abs(s - 1.0) < 0.001, s"$ft row sum $s")
    }
  }

  test("agg_lorenz: decile curve recomputes; cum_share monotone to 1.0") {
    import spark.implicits._
    val rows = q("agg_lorenz").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.map(_._1) === (1L to 10L).toArray)
    val li = Tables.lineitem(spark, sf)
      .select($"l_suppkey", $"l_extendedprice", $"l_discount").collect()
      .map(r => r.getLong(0) -> BigDecimal(r.getDouble(1) * (1 - r.getDouble(2)) * 100)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    val rev = li.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (sk, r) => (r, sk) }
    val n = rev.length; val base = n / 10; val extra = n % 10
    val sizes = (1 to 10).map(b => base + (if (b <= extra) 1 else 0))
    val cuts = sizes.scanLeft(0)(_ + _)
    val tot = rev.map(_._2).sum
    var cum = 0L
    rows.zipWithIndex.foreach { case ((dec, ns, revenue, share), i) =>
      val slice = rev.slice(cuts(i), cuts(i + 1))
      cum += slice.map(_._2).sum
      assert(ns === slice.length.toLong, s"decile $dec size")
      assert(revenue === slice.map(_._2).sum.toDouble / 100.0, s"decile $dec revenue")
      assert(share === math.floor(cum.toDouble / tot * 10000.0 + 0.5) / 10000.0)
    }
    assert(rows.last._4 === 1.0)
    assert(rows.map(_._4).sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
  }

  test("win_bollinger: bands recompute from exact frame moments; breach flags consistent") {
    import spark.implicits._
    val rows = q("win_bollinger").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6)))
    assert(rows.nonEmpty)
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    val ev = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val daily = ev.groupBy(e => (e._1, e._2)).view.mapValues(_.map(v =>
      BigDecimal(v._3 * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum).toMap
    val gotKey = rows.map(r => (r._1, r._2) -> r).toMap
    var checked = 0
    daily.keys.groupBy(_._1).foreach { case (u, ks) =>
      val ds = ks.map(_._2).toSeq.sorted
      ds.zipWithIndex.foreach { case (d, i) =>
        val frame = ds.slice(math.max(0, i - 6), i + 1).map(x => daily((u, x)))
        val nf = frame.length.toLong
        val s1 = frame.sum; val s2 = frame.map(v => v * v).sum
        val mid = s1.toDouble / (nf.toDouble * 10000.0)
        val sd = math.sqrt(nf.toDouble * s2.toDouble - s1.toDouble * s1.toDouble) /
          (nf.toDouble * 10000.0)
        val (upper, lower) = (mid + 2.0 * sd, mid - 2.0 * sd)
        val v = daily((u, d)).toDouble / 10000.0
        val r = gotKey((u, d))
        assert(bits(r._3) === bits(v)); assert(bits(r._4) === bits(mid))
        assert(bits(r._5) === bits(lower)); assert(bits(r._6) === bits(upper))
        assert(r._7 === (if (v > upper || v < lower) 1L else 0L))
        checked += 1
      }
    }
    assert(checked === rows.length)
  }

  test("agg_repeat_purchase: repeat share and time-to-second recompute exactly") {
    import spark.implicits._
    val r = q("agg_repeat_purchase").collect().head
    val pd = Tables.events(spark, sf).filter($"event_type" === "purchase")
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"))
      .distinct().collect().map(x => (x.getLong(0), x.getLong(1)))
    val byUser = pd.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val nP = byUser.size.toLong
    val repeat = byUser.values.filter(_.length >= 2).toSeq
    assert(r.getLong(0) === nP)
    assert(r.getLong(1) === repeat.length.toLong)
    assert(r.getDouble(2) ===
      math.floor(repeat.length.toDouble / nP * 10000.0 + 0.5) / 10000.0)
    val gaps = repeat.map(ds => ds(1) - ds.head).sorted
    assert(r.getLong(3) === gaps((gaps.length + 1) / 2 - 1))
    assert(repeat.nonEmpty, "fixture should contain repeat purchasers")
  }

  test("win_cadence: gap CV recomputes bitwise; single-event users excluded") {
    import spark.implicits._
    val got = q("win_cadence").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got.nonEmpty)
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", unix_millis($"ts").as("ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    ev.groupBy(_._1).foreach { case (u, xs) =>
      val sorted = xs.sortBy(e => (e._3, e._2)).map(_._3)
      val gaps = sorted.zip(sorted.tail).map { case (a, b) => b - a }
      if (gaps.isEmpty) assert(!got.contains(u))
      else {
        val (n, mean, cv) = got(u)
        val s1 = gaps.sum
        val gs = gaps.map(_ / 1000)
        val s1s = gs.sum; val s2s = gs.map(g => g * g).sum
        assert(n === gaps.length.toLong)
        assert(bits(mean) === bits(s1.toDouble / gaps.length.toDouble))
        val expCv = if (s1s > 0) Some(math.floor(
          math.sqrt((gaps.length * s2s - s1s * s1s).toDouble) / s1s.toDouble
            * 10000.0 + 0.5) / 10000.0) else None
        assert(cv === expCv, s"user $u cv")
        cv.foreach(c => assert(c >= 0.0))
      }
    }
  }

  test("fn_uuid5: minted ids are RFC-shaped, unique, and md5-reproducible") {
    import spark.implicits._
    val got = q("fn_uuid5").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(got.nonEmpty)
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    got.foreach { case (k, u) =>
      val h = md5hex(s"graft:order:$k")
      val exp = s"${h.substring(0, 8)}-${h.substring(8, 12)}-5${h.substring(13, 16)}" +
        s"-a${h.substring(17, 20)}-${h.substring(20, 32)}"
      assert(u === exp, s"order $k")
      assert(u.matches("[0-9a-f]{8}-[0-9a-f]{4}-5[0-9a-f]{3}-a[0-9a-f]{3}-[0-9a-f]{12}"))
    }
    assert(got.map(_._2).distinct.length === got.length, "uuid collision")
  }

  test("agg_funnel_time: per-stage medians recompute from a JVM first-following replay") {
    import spark.implicits._
    val got = q("agg_funnel_time").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.nonEmpty)
    val T = 86400000L
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_millis($"ts").as("ms"), $"event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def stageGaps(from: String, to: String): Seq[Long] =
      ev.groupBy(_._1).toSeq.flatMap { case (_, xs) =>
        val as = xs.filter(_._3 == from).map(_._2).distinct.sorted
        val cs = xs.filter(_._3 == to).map(_._2).distinct.sorted
        as.flatMap { a =>
          cs.find(_ >= a).collect { case c if c - a <= T => c - a }
        }
      }
    Seq("view_to_click" -> stageGaps("view", "click"),
      "click_to_purchase" -> stageGaps("click", "purchase")).foreach {
      case (stage, gaps) =>
        val (n, med) = got(stage)
        assert(n === gaps.length.toLong, s"$stage count")
        assert(med === gaps.sorted.apply((gaps.length + 1) / 2 - 1), s"$stage median")
    }
    assert(got.keySet === Set("view_to_click", "click_to_purchase"))
  }

  test("sql_q1: shared-dialect text equals the agg_pricing DataFrame twin") {
    val q1 = q("sql_q1").collect()
    val twin = q("agg_pricing").collect()
    assert(q1.length === twin.length && q1.nonEmpty)
    // same group keys and same exact sums, column-for-column by position
    q1.zip(twin).foreach { case (a, b) =>
      assert(a.getString(0) === b.getString(0))
      assert(a.getString(1) === b.getString(1))
      assert(a.getLong(2) === b.getDouble(2).toLong, "sum_qty") // twin sums integral doubles
      assert(a.getDouble(3) === b.getDouble(3), "sum_base_price")
      assert(a.getDouble(4) === b.getDouble(4), "sum_disc_price")
      assert(a.getDouble(5) === b.getDouble(5), "sum_charge")
      assert(a.getLong(8) === b.getLong(8), "count_order")
    }
  }

  test("join_null_safe: the NULL key group matches itself; counts recompute") {
    import spark.implicits._
    val got = q("join_null_safe").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0))) -> r.getLong(1))
      .toMap
    val cs = Tables.customer(spark, sf).select($"c_nationkey").collect()
      .map(r => r.getInt(0)).map(k => if (k == 3) None else Some(k))
    val ss = Tables.supplier(spark, sf).select($"s_nationkey").collect()
      .map(r => r.getInt(0)).map(k => if (k == 3) None else Some(k))
    val cCnt = cs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val sCnt = ss.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val exp = cCnt.keySet.intersect(sCnt.keySet)
      .map(k => k -> cCnt(k) * sCnt(k)).toMap
    assert(got === exp)
    assert(got.contains(None), "the NULL-matches-NULL group must be present")
  }

  test("fn_try_arith: NULL-on-zero semantics and quantized ratio sums recompute") {
    import spark.implicits._
    val got = q("fn_try_arith").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.nonEmpty)
    val li = Tables.lineitem(spark, sf)
      .select($"l_returnflag", $"l_extendedprice", $"l_quantity").collect()
      .map(r => (r.getString(0),
        BigDecimal(r.getDouble(1) * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong,
        r.getDouble(2).toLong - 25))
    li.groupBy(_._1).foreach { case (flag, xs) =>
      val (n, nz, qs) = got(flag)
      assert(n === xs.length.toLong)
      assert(nz === xs.count(_._3 == 0L).toLong, s"$flag zero denominators")
      val expQs = xs.filter(_._3 != 0L)
        .map(x => math.floor(x._2.toDouble / x._3.toDouble * 10000.0 + 0.5).toLong).sum
      assert(qs === expQs, s"$flag ratio sum")
      assert(nz > 0, s"$flag should hit the qty=25 rows at spec sf")
    }
  }

  test("src_json_nested: nested round-trip summary equals the pristine-table checksum") {
    import spark.implicits._
    val r = q("src_json_nested").collect().head
    val li = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_partkey", $"l_quantity").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2).toLong))
    assert(r.getLong(0) === li.map(_._1).distinct.length.toLong)
    assert(r.getLong(1) === li.length.toLong)
    assert(r.getLong(2) === li.map(_._3).sum)
    assert(r.getLong(3) === li.map(x => x._2 * x._3).sum)
  }

  test("agg_srm_check: chi2 against the designed 13:2:1 split recomputes; counts reconcile") {
    import spark.implicits._
    val r = q("agg_srm_check").collect().head
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val splits = Tables.documents(spark, sf).select($"doc_id").collect()
      .map { x =>
        val h1 = md5hex(x.getLong(0).toString).charAt(0)
        if (h1 < 'd') "train" else if (h1 < 'f') "val" else "test"
      }
    val n = splits.length.toLong
    val o = splits.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(r.getLong(0) === n)
    assert(r.getLong(1) === o("train"))
    assert(r.getLong(2) === o("val"))
    assert(r.getLong(3) === o("test"))
    val chi2 = Seq(("train", 13.0), ("val", 2.0), ("test", 1.0)).map { case (s0, w) =>
      val e = n.toDouble * w / 16.0
      math.floor((o(s0) - e) * (o(s0) - e) / e * 1.0e9 + 0.5).toLong
    }.sum
    assert(r.getDouble(4) === chi2.toDouble / 1.0e9)
    // the md5 route is healthy: chi2 under a generous threshold at spec sf
    assert(r.getDouble(4) < 50.0, s"split badly skewed: ${r.getDouble(4)}")
  }

  test("agg_did: four cell means and the estimator recompute bitwise") {
    import spark.implicits._
    val r = q("agg_did").collect().head
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    val ev = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"),
        $"event_type", $"value")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2),
        BigDecimal(x.getDouble(3) * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    val treated = ev.filter(_._3 == "purchase").map(_._1).toSet
    val (mind, maxd) = (ev.map(_._2).min, ev.map(_._2).max)
    val mid = mind + (maxd - mind + 1) / 2
    def cell(t: Boolean, post: Boolean): Option[Double] = {
      val xs = ev.filter(e => treated(e._1) == t && (e._2 >= mid) == post)
      if (xs.isEmpty) None
      else Some(xs.map(_._4).sum.toDouble / xs.length.toDouble / 10000.0)
    }
    val (tPre, tPost, cPre, cPost) =
      (cell(t = true, post = false), cell(t = true, post = true),
        cell(t = false, post = false), cell(t = false, post = true))
    def gotOpt(i: Int): Option[Double] =
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    def same(g: Option[Double], e: Option[Double], what: String): Unit =
      (g, e) match {
        case (Some(a), Some(b)) => assert(bits(a) === bits(b), what)
        case (None, None)       =>
        case _                  => fail(s"$what null mismatch: $g vs $e")
      }
    assert(r.getLong(0) === ev.length.toLong)
    same(gotOpt(1), tPre, "t_pre"); same(gotOpt(2), tPost, "t_post")
    same(gotOpt(3), cPre, "c_pre"); same(gotOpt(4), cPost, "c_post")
    val expDid = for (a <- tPost; b <- tPre; c <- cPost; d0 <- cPre)
      yield (a - b) - (c - d0)
    same(gotOpt(5), expDid, "did")
    // at sf0.001 every user may have purchased — the TREATED cells at
    // least must be populated for the estimator to mean anything
    assert(tPre.isDefined && tPost.isDefined)
  }

  test("win_rolling_slope: frame-moment OLS matches a bitwise JVM recompute") {
    import spark.implicits._
    val got = q("win_rolling_slope").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got.nonEmpty)
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    val ev = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val daily = ev.groupBy(e => (e._1, e._2)).view.mapValues(_.map(v =>
      BigDecimal(v._3 * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum).toMap
    var checked = 0
    daily.keys.groupBy(_._1).foreach { case (u, ks) =>
      val ds = ks.map(_._2).toSeq.sorted
      ds.zipWithIndex.foreach { case (d, i) =>
        val frame = ds.slice(math.max(0, i - 6), i + 1)
        val nf = frame.length.toLong
        val sx = frame.sum; val sy = frame.map(x => daily((u, x))).sum
        val sxx = frame.map(x => x * x).sum
        val sxy = frame.map(x => x * daily((u, x))).sum
        val slope = if (nf >= 3)
          Some((nf * sxy - sx * sy).toDouble / (nf * sxx - sx * sx).toDouble / 10000.0)
        else None
        val (gn, gv, gs) = got((u, d))
        assert(gn === nf); assert(gv === daily((u, d)).toDouble / 10000.0)
        (gs, slope) match {
          case (Some(a), Some(b)) => assert(bits(a) === bits(b), s"($u,$d)")
          case (None, None)       =>
          case _                  => fail(s"($u,$d) null mismatch")
        }
        checked += 1
      }
    }
    assert(checked === got.size)
  }

  test("agg_activity_bitmask: mask bits equal the weekday set; popcount consistent") {
    import spark.implicits._
    val got = q("agg_activity_bitmask").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"))
      .collect().map(r => (r.getLong(0), (r.getLong(1) + 3) % 7))
    ev.groupBy(_._1).foreach { case (u, xs) =>
      val wds = xs.map(_._2).toSet
      val mask = wds.foldLeft(0L)((m, w) => m | (1L << w.toInt))
      val (gm, gc) = got(u)
      assert(gm === mask, s"user $u mask")
      assert(gc === wds.size.toLong, s"user $u popcount")
      assert(gc === java.lang.Long.bitCount(gm).toLong)
    }
  }

  test("agg_cohort_ltv: cumulative revenue triangle recomputes; cum monotone") {
    import spark.implicits._
    val rows = q("agg_cohort_ltv").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2) * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    val d0 = ev.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val cells = ev.groupBy(e => (d0(e._1), e._2 - d0(e._1))).view
      .mapValues(_.map(_._3).sum).toMap
    assert(rows.map(r => (r._1, r._2)).toSet === cells.keySet)
    rows.groupBy(_._1).foreach { case (cd, rs) =>
      var cum = 0L
      rs.sortBy(_._2).foreach { case (_, off, rev, cumLtv) =>
        val sv = cells((cd, off))
        cum += sv
        assert(rev === sv.toDouble / 10000.0, s"($cd,$off) revenue")
        assert(cumLtv === cum.toDouble / 10000.0, s"($cd,$off) cum")
      }
    }
  }

  test("agg_survival_km: KM curve matches a JVM fold; survival is monotone non-increasing") {
    import spark.implicits._
    val rows = q("agg_survival_km").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val spans = ev.groupBy(_._1).view.mapValues(ds =>
      (ds.map(_._2).min, ds.map(_._2).max)).toMap
    val maxd = spans.values.map(_._2).max
    val lives = spans.values.map { case (fd, ld) => (ld - fd, ld == maxd) }.toSeq
    val deaths = lives.filter(!_._2).groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    var surv = 1.0
    val expRows = deaths.keys.toSeq.sorted.map { t =>
      val n = lives.count(_._1 >= t).toLong
      val f = 1.0 - deaths(t).toDouble / n.toDouble
      surv = surv * f
      (t, n, deaths(t), surv)
    }
    assert(rows.length === expRows.length)
    rows.zip(expRows).foreach { case ((t, n, d, s0), (et, en, ed, es)) =>
      assert(t === et); assert(n === en); assert(d === ed)
      assert(bits(s0) === bits(es), s"t=$t surv")
    }
    assert(rows.map(_._4).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("src_csv_quarantine: exactly the injected rows quarantine; clean sum exact") {
    import spark.implicits._
    val r = q("src_csv_quarantine").collect().head
    val nCustomers = Tables.customer(spark, sf).count()
    assert(r.getLong(0) === nCustomers, "clean count")
    assert(r.getLong(1) === 3L, "quarantined count")
    val expBal = Tables.customer(spark, sf).select($"c_acctbal").collect()
      .map(x => BigDecimal(x.getDouble(0) * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum.toDouble / 10000.0
    assert(r.getDouble(2) === expBal, "clean balance")
  }

  test("agg_dp_counts: hash-seeded Laplace noise recomputes bitwise; margin pinned") {
    import spark.implicits._
    val got = q("agg_dp_counts").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.nonEmpty)
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    def margin(x: Double): Double = { val f = x - math.floor(x); math.min(f, 1.0 - f) }
    val counts = Tables.events(spark, sf).groupBy($"event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet === counts.keySet)
    counts.foreach { case (t, n) =>
      val h = java.lang.Long.parseLong(md5hex(t + ":dp1").substring(0, 8), 16)
      val uc = (h.toDouble + 0.5) / 4294967296.0 - 0.5
      val inner = -math.log(1.0 - 2.0 * math.abs(uc)) * 2.0 * 1.0e9 + 0.5
      assert(margin(inner) > 1e-3, s"$t ln quantization margin ${margin(inner)}")
      val mag = math.floor(inner).toLong
      val noise = (if (uc < 0) -mag else mag).toDouble / 1.0e9
      val (gn, gNoisy) = got(t)
      assert(gn === n)
      assert(bits(gNoisy) === bits(n.toDouble + noise), s"$t noisy")
      assert(gNoisy !== n.toDouble, s"$t noise degenerate")
    }
  }

  test("win_seasonal_decompose: components recompute; v reconstructs within quantization") {
    import spark.implicits._
    val rows = q("win_seasonal_decompose").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select((unix_millis($"ts") / lit(86400000L)).cast("long").as("d"), $"value")
      .collect().map(r => r.getLong(0) ->
        BigDecimal(r.getDouble(1) * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    val daily = ev.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val ds = daily.keys.toSeq.sorted
    rows.zipWithIndex.foreach { case ((d, wd, v, tr, se, re), i) =>
      assert(d === ds(i))
      assert(wd === (d + 3) % 7)
      assert(v === daily(d).toDouble / 10000.0)
      val frame = ds.slice(math.max(0, i - 3), math.min(ds.length, i + 4))
      if (frame.length == 7) {
        val expTrend = frame.map(daily).sum.toDouble / 7.0 / 10000.0
        assert(tr === Some(expTrend), s"day $d trend")
        // additive reconstruction up to det-quantization (5e-10)
        assert(math.abs(v - (tr.get + se.get + re.get)) < 1e-9, s"day $d reconstruct")
      } else {
        assert(tr.isEmpty && se.isEmpty && re.isEmpty, s"day $d edge")
      }
    }
    // per-weekday seasonal is a single shared value
    rows.filter(_._5.isDefined).groupBy(_._2).foreach { case (wd, rs) =>
      assert(rs.map(_._5.get).distinct.length === 1, s"weekday $wd seasonal")
    }
  }

  test("agg_mix_shift: decomposition recomputes; effects reconstruct the overall delta") {
    import spark.implicits._
    val rows = q("agg_mix_shift").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8)))
      .toMap
    assert(rows.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"event_type", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"), $"value")
      .collect().map(r => (r.getString(0), r.getLong(1),
        BigDecimal(r.getDouble(2) * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
    val (mind, maxd) = (ev.map(_._2).min, ev.map(_._2).max)
    val mid = mind + (maxd - mind + 1) / 2
    def q9(x: Double) = math.floor(x * 1.0e9 + 0.5) / 1.0e9
    val types = ev.map(_._1).distinct.sorted
    val n1t = ev.count(_._2 < mid).toDouble; val n2t = ev.count(_._2 >= mid).toDouble
    var deltaSum = 0.0
    types.foreach { t =>
      val p1 = ev.filter(e => e._1 == t && e._2 < mid)
      val p2 = ev.filter(e => e._1 == t && e._2 >= mid)
      val (w1, w2) = (p1.length / n1t, p2.length / n2t)
      val a1 = p1.map(_._3).sum.toDouble / p1.length / 10000.0
      val a2 = p2.map(_._3).sum.toDouble / p2.length / 10000.0
      val (gn1, gn2, gw1, gw2, ga1, ga2, gwi, gmx) = rows(t)
      assert(gn1 === p1.length.toLong && gn2 === p2.length.toLong, t)
      assert(gw1 === q9(w1) && gw2 === q9(w2), t)
      assert(ga1 === q9(a1) && ga2 === q9(a2), t)
      assert(gwi === q9(w2 * (a2 - a1)), t)
      assert(gmx === q9((w2 - w1) * a1), t)
      deltaSum += gwi + gmx
    }
    // Σ(within + mix) reconstructs ā₂ − ā₁ up to quantization of the terms
    val overall1 = ev.filter(_._2 < mid).map(_._3).sum.toDouble / n1t / 10000.0
    val overall2 = ev.filter(_._2 >= mid).map(_._3).sum.toDouble / n2t / 10000.0
    assert(math.abs(deltaSum - (overall2 - overall1)) < 1e-6)
  }

  test("sql_recursive: bounded path walk matches a JVM BFS-with-multiplicity replay") {
    import spark.implicits._
    val got = q("sql_recursive").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.nonEmpty)
    val edges = graft.ops.GraphOps.copurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj: Map[Long, Seq[Long]] = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val seeds = Tables.part(spark, sf).select($"p_partkey").collect()
      .map(_.getLong(0)).filter(_ < 5)
    // depth-bounded UNION ALL walk: multiplicity = number of paths
    var frontier = seeds.map(s0 => s0 -> 1L).toSeq
    val paths = scala.collection.mutable.Map[(Long, Long), Long]() // (node, depth) -> n
    frontier.foreach { case (n, c) => paths((n, 0L)) = paths.getOrElse((n, 0L), 0L) + c }
    (1 to 2).foreach { depth =>
      val next = scala.collection.mutable.Map[Long, Long]()
      frontier.foreach { case (n, c) =>
        adj.getOrElse(n, Seq.empty).foreach { m =>
          next(m) = next.getOrElse(m, 0L) + c
        }
      }
      next.foreach { case (n, c) => paths((n, depth.toLong)) = c }
      frontier = next.toSeq
    }
    val exp = paths.toSeq.groupBy(_._1._1).view.mapValues { xs =>
      (xs.map(_._1._2).min, xs.map(_._2).sum)
    }.toMap
    assert(got === exp)
    seeds.foreach(s0 => assert(got(s0)._1 === 0L))
  }

  test("win_peaks: strict local maxima with shoulder prominence recompute") {
    import spark.implicits._
    val got = q("win_peaks").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val ev = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val daily = ev.groupBy(e => (e._1, e._2)).view.mapValues(_.map(v =>
      BigDecimal(v._3 * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum).toMap
    val exp = daily.keys.groupBy(_._1).toSeq.flatMap { case (u, ks) =>
      val ds = ks.map(_._2).toSeq.sorted
      ds.sliding(3).collect {
        case Seq(p, c, n) if daily((u, c)) > daily((u, p)) && daily((u, c)) > daily((u, n)) =>
          (u, c, daily((u, c)).toDouble / 10000.0,
            (daily((u, c)) - math.max(daily((u, p)), daily((u, n)))).toDouble / 10000.0)
      }.toSeq
    }.toSet
    assert(got.toSet === exp)
    assert(got.nonEmpty)
    got.foreach { case (_, _, _, prom) => assert(prom > 0.0) }
  }

  test("agg_window_funnel: depth distribution matches a JVM chain replay") {
    import spark.implicits._
    val got = q("agg_window_funnel").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    assert(got.keySet.subsetOf(Set(1L, 2L, 3L)))
    val T = 86400000L
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_millis($"ts").as("ms"), $"event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byUser = ev.groupBy(_._1)
    val expDepths = byUser.toSeq.flatMap { case (_, xs) =>
      val vs = xs.filter(_._3 == "view").map(_._2).distinct.sorted
      val cs = xs.filter(_._3 == "click").map(_._2).distinct.sorted
      val ps = xs.filter(_._3 == "purchase").map(_._2).distinct.sorted
      if (vs.isEmpty) None
      else Some(vs.map { v =>
        cs.find(_ >= v) match {
          case Some(c) if c - v <= T =>
            ps.find(_ >= c) match {
              case Some(p) if p - c <= T => 3L
              case _ => 2L
            }
          case _ => 1L
        }
      }.max)
    }
    val exp = expDepths.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got === exp)
    assert(got.values.sum === byUser.count(_._2.exists(_._3 == "view")).toLong)
  }

  test("agg_decay_sum: exact power-of-two decay matches a JVM recompute bitwise") {
    import spark.implicits._
    val got = q("agg_decay_sum").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"), $"value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val daily = ev.groupBy(e => (e._1, e._2)).view.mapValues(_.map(v =>
      BigDecimal(v._3 * 10000).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum).toMap
    val maxd = daily.keys.map(_._2).max
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    daily.keys.groupBy(_._1).foreach { case (u, ks) =>
      val inWin = ks.map(_._2).filter(d => maxd - d <= 30).toSeq
      val sw = inWin.map(d => daily((u, d)) * (1L << (30 - (maxd - d)).toInt)).sum
      val (nd, ld, dec) = got(u)
      assert(nd === inWin.length.toLong, s"user $u")
      assert(ld === inWin.max)
      assert(bits(dec) === bits(sw.toDouble / 1073741824.0 / 10000.0), s"user $u decayed")
    }
  }

  test("agg_growth_accounting: daily decomposition reconciles with the active-user ledger") {
    import spark.implicits._
    val rows = q("agg_growth_accounting").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(rows.nonEmpty)
    val active = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byUser = active.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val expNew = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val expRet = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val expRes = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val expChu = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    byUser.values.foreach { ds =>
      ds.zipWithIndex.foreach { case (d, i) =>
        if (i == 0) expNew(d) += 1
        else if (ds(i - 1) == d - 1) expRet(d) += 1
        else expRes(d) += 1
        if (i == ds.length - 1 || ds(i + 1) > d + 1) expChu(d + 1) += 1
      }
    }
    val allDays = (expNew.keySet ++ expRet.keySet ++ expRes.keySet ++ expChu.keySet)
    assert(rows.keySet === allDays)
    allDays.foreach { d =>
      assert(rows(d) === ((expNew(d), expRet(d), expRes(d), expChu(d))), s"day $d")
    }
    // every day's active count = new + retained + resurrected
    val activePerDay = active.groupBy(_._2).view.mapValues(_.length.toLong)
    activePerDay.foreach { case (d, n) =>
      val (nw, rt, rs, _) = rows(d)
      assert(nw + rt + rs === n, s"day $d ledger")
    }
  }

  test("win_interval_union: islands cover all sessions, are disjoint and ordered") {
    import spark.implicits._
    val rows = q("win_interval_union").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    // islands strictly ordered and disjoint: next start > previous end
    rows.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(1)._2 > w(0)._3,
        s"islands ${w(0)._1}/${w(1)._1} overlap")
    }
    rows.foreach { case (_, s0, e0, len, n) =>
      assert(len === e0 - s0); assert(n >= 1L)
    }
    // recompute islands from a JVM sweep over the same session frame
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", unix_millis($"ts").as("ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sessions = ev.groupBy(_._1).toSeq.flatMap { case (u, xs) =>
      val sorted = xs.sortBy(e => (e._3, e._2))
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
      var start = sorted.head._3; var end = sorted.head._3
      sorted.tail.foreach { e =>
        if (e._3 - end > 1800000L) { out += ((u, start, end)); start = e._3 }
        end = e._3
      }
      out += ((u, start, end))
      out.toSeq
    }
    val swept = sessions.sortBy(s => (s._2, s._1)) // (start, user) order
    var islands = List[(Long, Long, Long)]() // (start, end, n)
    swept.foreach { case (_, s0, e0) =>
      islands match {
        case (is, ie, n) :: rest if s0 <= ie =>
          islands = (is, math.max(ie, e0), n + 1) :: rest
        case _ => islands = (s0, e0, 1L) :: islands
      }
    }
    val expIslands = islands.reverse
    assert(rows.length === expIslands.length)
    rows.zip(expIslands).foreach { case ((_, s0, e0, _, n), (es, ee, en)) =>
      assert(s0 === es); assert(e0 === ee); assert(n === en)
    }
  }

  test("win_set_jaccard: day-over-day type-set similarity recomputes; no-yesterday is NULL") {
    import spark.implicits._
    val rows = q("win_set_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(rows.nonEmpty)
    val types = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / lit(86400000L)).cast("long").as("d"),
        $"event_type")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val sets = types.groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).toSet).toMap
    assert(rows.keySet === sets.keySet)
    sets.foreach { case ((u, d), today) =>
      val yesterday = sets.get((u, d - 1))
      val (na, nb, j) = rows((u, d))
      assert(na === today.size.toLong)
      assert(nb === yesterday.map(_.size.toLong))
      val expJ = yesterday.map { y =>
        val ni = (today & y).size
        math.floor(ni.toDouble / (today.size + y.size - ni).toDouble * 10000.0 + 0.5) / 10000.0
      }
      assert(j === expJ, s"($u,$d)")
    }
  }

  test("win_attribution: every purchase credits its latest prior click/view") {
    import spark.implicits._
    val got = q("win_attribution").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getString(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).toMap
    assert(got.nonEmpty)
    val ev = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", unix_millis($"ts").as("ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    var purchases = 0
    ev.groupBy(_._2).foreach { case (u, xs) =>
      val timeline = xs.sortBy(e => (e._4, e._1))
      timeline.zipWithIndex.foreach { case ((id, _, ty, ms), i) =>
        if (ty == "purchase") {
          purchases += 1
          val touch = timeline.take(i).filter(e => e._3 == "click" || e._3 == "view")
            .lastOption
          val (gu, gms, gid, gty, ggap) = got(id)
          assert(gu === u && gms === ms)
          assert(gid === touch.map(_._1), s"purchase $id touch id")
          assert(gty === touch.map(_._3))
          assert(ggap === touch.map(t => ms - t._4))
        }
      }
    }
    assert(purchases === got.size)
  }
}
