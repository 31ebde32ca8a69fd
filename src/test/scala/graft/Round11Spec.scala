package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.unix_millis

/** Independent JVM cross-checks for round-11 operators — each test
  * recomputes the op's answer from raw collected inputs with plain Scala
  * (no Spark expressions), so an oracle-and-op shared misunderstanding
  * can't hide (SURVEY.md §5's two-witness discipline).
  */
class Round11Spec extends SparkSpec {

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("agg_ks_test equals a brute-force two-sample KS over collected prices") {
    import spark.implicits._
    val rows = Tables.orders(spark, sf)
      .select($"o_totalprice",
        unix_millis($"o_orderdate".cast("timestamp")).as("ms"))
      .collect()
      .map(r => (math.round(r.getDouble(0) * 100), r.getLong(1) < 883612800000L))
    val a = rows.filter(_._2).map(_._1).sorted
    val b = rows.filterNot(_._2).map(_._1).sorted
    val pts = (a ++ b).distinct.sorted
    var best = -1L; var bestV = Long.MaxValue
    pts.foreach { v =>
      val ca = a.count(_ <= v).toLong
      val cb = b.count(_ <= v).toLong
      val diff = math.abs(ca * b.length - cb * a.length)
      if (diff > best || (diff == best && v < bestV)) { best = diff; bestV = v }
    }
    val got = q("agg_ks_test").collect().head
    assert(got.getLong(0) === a.length.toLong, "n_a")
    assert(got.getLong(1) === b.length.toLong, "n_b")
    assert(got.getDouble(2) === bestV.toDouble / 100.0, "at_price")
    val d = best.toDouble / (a.length.toLong * b.length)
    assert(got.getDouble(3) === math.floor(d * 10000.0 + 0.5) / 10000.0, "d_stat")
  }

  test("agg_kendall_tau equals the O(n²) pair count over daily series") {
    import spark.implicits._
    val daily = Tables.events(spark, sf)
      .select(unix_millis($"ts").as("ms"), $"event_type")
      .collect()
      .map(r => (r.getLong(0) / 86400000L, r.getString(1)))
      .groupBy(_._1).toSeq
      .map { case (d, rs) =>
        (d, rs.count(_._2 == "view").toLong, rs.count(_._2 == "purchase").toLong)
      }.sortBy(_._1)
    var c = 0L; var disc = 0L; var tx = 0L; var ty = 0L; var n0 = 0L
    for (i <- daily.indices; j <- (i + 1) until daily.length) {
      val dx = daily(i)._2 - daily(j)._2
      val dy = daily(i)._3 - daily(j)._3
      n0 += 1
      if (dx * dy > 0) c += 1 else if (dx * dy < 0) disc += 1
      if (dx == 0) tx += 1
      if (dy == 0) ty += 1
    }
    val got = q("agg_kendall_tau").collect().head
    assert(got.getLong(0) === n0)
    assert(got.getLong(1) === c, "concordant")
    assert(got.getLong(2) === disc, "discordant")
    assert(got.getLong(3) === tx, "ties_x")
    assert(got.getLong(4) === ty, "ties_y")
    val tau = (c - disc).toDouble / math.sqrt((n0 - tx).toDouble * (n0 - ty))
    assert(got.getDouble(5) === math.floor(tau * 10000.0 + 0.5) / 10000.0)
  }

  test("graph_random_walk replays step-for-step against a plain-Scala walk") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cp = li.toSeq.groupBy(_._1).values.toSeq.flatMap { rs =>
      val ps = rs.map(_._2).distinct.toSeq
      for (x <- ps; y <- ps if x < y) yield (x, y)
    }.toSet // canonical pairs (dedup across orders)
    val adj = (cp.toSeq ++ cp.toSeq.map { case (x, y) => (y, x) })
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    val seeds = adj.toSeq.map { case (n, ns) => (n, ns.length) }
      .sortBy { case (n, d) => (-d, n) }.take(4).map(_._1)
    val wantRows = seeds.flatMap { w =>
      var cur = w
      Seq((w, 0L, w)) ++ (1 to 4).map { step =>
        cur = adj(cur).minBy(b => (md5hex(s"${w}_${step}_$b"), b))
        (w, step.toLong, cur)
      }
    }.sortBy(r => (r._1, r._2))
    val got = q("graph_random_walk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === wantRows)
  }

  test("llm_chunk_cdc chunking matches a plain-Scala replay and boundaries are content-local") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1))
    val want = docs.map { case (d, toks) =>
      val chunks = scala.collection.mutable.ArrayBuffer[Long]()
      var sz = 0L
      toks.foreach { t =>
        sz += 1
        if ("01".contains(md5hex(t).charAt(0))) { chunks += sz; sz = 0 }
      }
      if (sz > 0) chunks += sz
      (d, toks.length.toLong, chunks.length.toLong, chunks.max)
    }.sortBy(_._1)
    val got = q("llm_chunk_cdc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === want)
    // content-definedness: the same token always carries the same boundary
    // coin, so a one-token prefix insertion shifts chunk ids, not contents
    val coin0 = "01".contains(md5hex("table").charAt(0))
    assert(coin0 === "01".contains(md5hex("table").charAt(0)))
  }

  test("llm_embed_quantize: exact max error recompute and the int8 error bound") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, sf)
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).map(v => math.round(v.toDouble * 10000)).toArray)
    val dims = vecs.head.length
    val wantMax = (0 until dims).map { p =>
      val qs = vecs.map(_(p))
      val qmin = qs.min; val d = qs.max - qs.min
      if (d == 0) 0L
      else qs.map { qv =>
        val c = (2 * 255 * (qv - qmin) + d) / (2 * d)
        math.abs(255 * (qv - qmin) - c * d)
      }.max
    }
    val got = q("llm_embed_quantize").collect()
    got.zipWithIndex.foreach { case (r, i) =>
      val maxErr = r.getDouble(2)
      assert(maxErr === wantMax(i).toDouble / 2550000.0, s"dim ${i + 1}")
      val range = r.getDouble(1)
      // affine int8: error can never exceed half a quantization step
      assert(maxErr <= range / 255.0 / 2.0 + 1e-12, s"bound dim ${i + 1}")
    }
  }

  test("llm_semdedup: bucket sizes partition the vectors and drops come from real pairs") {
    import spark.implicits._
    val n = Tables.embeddings(spark, sf).count()
    val rows = q("llm_semdedup").collect()
    assert(rows.map(_.getLong(1)).sum === n, "bucket sizes partition N")
    rows.foreach { r =>
      val (nv, np, nd) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(np <= nv * (nv - 1) / 2, "pairs bounded by C(bucket,2)")
      assert(nd <= np, "each drop needs a pair")
      assert(nd <= nv - (if (np > 0) 1 else 0), "a non-empty pair set keeps ≥1")
    }
  }

  test("stream_throttle: admission accounting reconciles and respects the cap") {
    import spark.implicits._
    val perUser = Tables.events(spark, sf)
      .select($"user_id", unix_millis($"ts").as("ms")).collect()
      .map(r => (r.getLong(0), r.getLong(1) / 60000L))
      .groupBy(_._1).view.mapValues(_.groupBy(_._2).values.map(_.size.toLong).toSeq)
      .toMap
    val got = q("stream_throttle").collect()
    assert(got.map(_.getLong(1)).sum ===
      perUser.values.map(_.sum).sum, "total events")
    got.foreach { r =>
      val u = r.getLong(0)
      val ws = perUser(u)
      assert(r.getLong(1) === ws.sum, s"user $u n_events")
      assert(r.getLong(2) === ws.map(math.min(_, 3L)).sum, s"user $u admitted")
      assert(r.getLong(3) === r.getLong(1) - r.getLong(2))
      assert(r.getLong(4) === ws.size.toLong, s"user $u n_windows")
    }
  }

  test("agg_anova equals a plain-Scala ANOVA over collected order values") {
    import spark.implicits._
    val rows = Tables.orders(spark, sf)
      .select(unix_millis($"o_orderdate".cast("timestamp")).as("ms"),
        $"o_totalprice")
      .collect()
      .map(r => ((r.getLong(0) / 86400000L % 7), math.round(r.getDouble(1) * 100)))
    val groups = rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.map(_._2.toDouble) }
    val n = rows.length.toDouble
    val m = rows.map(_._2).sum.toDouble / n
    val ssb = groups.map(g => g.length * math.pow(g.sum / g.length - m, 2)).sum
    val ssw = groups.map(g => g.map(x => math.pow(x - g.sum / g.length, 2)).sum).sum
    val k = groups.size
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    val got = q("agg_anova").collect().head
    assert(got.getLong(0) === rows.length.toLong)
    assert(got.getLong(1) === k.toLong)
    // independent float paths + the op's 1e-4 quantization: exactness is
    // the oracle's job, this witnesses the statistic itself
    assert(math.abs(got.getDouble(2) - f) < 1e-4 + 1e-6 * f)
  }

  test("win_hampel flags exactly the |x - med| > 3 MAD rows of a JVM replay") {
    import spark.implicits._
    val daily = Tables.events(spark, sf)
      .select($"event_type", unix_millis($"ts").as("ms"), $"value").collect()
      .map(r => ((r.getString(0), r.getLong(1) / 86400000L), math.round(r.getDouble(2) * 10000)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .map { case ((t, d), v) => (t, d, v) }.sortBy(r => (r._1, r._2))
    val byType = daily.groupBy(_._1)
    val want = byType.flatMap { case (t, rs) =>
      val sorted = rs.sortBy(_._2)
      sorted.indices.map { i =>
        val win = sorted.slice(math.max(0, i - 6), i + 1).map(_._3).sorted
        val med = win((win.length + 1) / 2 - 1)
        val mad = win.map(x => math.abs(x - med)).sorted.apply((win.length + 1) / 2 - 1)
        ((t, sorted(i)._2), math.abs(sorted(i)._3 - med) > 3 * mad)
      }
    }.toMap
    val got = q("win_hampel").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getBoolean(5) === want((r.getString(0), r.getLong(1))),
        s"${r.getString(0)} day ${r.getLong(1)}")
    }
  }

  test("llm_lm_generate replays the greedy argmax chain in plain Scala") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => r.getString(1).split(" ", -1))
    val uni = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val bi = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    docs.foreach { toks =>
      toks.foreach(t => uni(t) += 1)
      toks.sliding(2).filter(_.length == 2).foreach(p => bi((p(0), p(1))) += 1)
    }
    var cur = uni.toSeq.minBy { case (t, c) => (-c, t) }._1
    val want = scala.collection.mutable.ArrayBuffer((0L, cur))
    for (step <- 1 to 10) {
      cur = bi.toSeq.filter(_._1._1 == cur)
        .minBy { case ((_, w2), c) => (-c, w2) }._1._2
      want += ((step.toLong, cur))
    }
    val got = q("llm_lm_generate").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === want.toSeq)
  }

  test("graph_butterflies equals the direct biclique count on collected edges") {
    import spark.implicits._
    val e = Tables.orders(spark, sf)
      .join(Tables.lineitem(spark, sf), $"l_orderkey" === $"o_orderkey")
      .select($"o_custkey", $"l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cn = scala.collection.mutable.Map[(Long, Long), Long]().withDefaultValue(0L)
    e.groupBy(_._1).values.foreach { rs =>
      val ps = rs.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) cn((ps(i), ps(j))) += 1
    }
    val butterflies = cn.values.map(c => c * (c - 1) / 2).sum
    val got = q("graph_butterflies").collect().head
    assert(got.getLong(0) === cn.size.toLong, "n_part_pairs")
    assert(got.getLong(1) === butterflies, "n_butterflies")
    assert(got.getLong(2) === cn.values.max, "max_common")
  }

  test("agg_cms_estimate never undercounts and is exact when no bucket collides") {
    val rows = q("agg_cms_estimate").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L, s"${r.getString(0)}: CMS undercounted")
      assert(r.getLong(2) >= r.getLong(1))
    }
  }

  test("win_rsi values stay in [0, 100] and flat-market rows are NULL") {
    val rows = q("win_rsi").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (!r.isNullAt(1)) {
        val v = r.getDouble(1)
        assert(v >= 0.0 && v <= 100.0)
      }
    }
  }

  test("agg_cuped equals the brute-force CUPED adjustment over collected events") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_millis($"ts"), $"value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1) < 1705363200000L,
        math.round(r.getDouble(2) * 100)))
    val per = ev.groupBy(_._1).toSeq.map { case (u, rs) =>
      (u, rs.filter(_._2).map(_._3).sum, rs.filterNot(_._2).map(_._3).sum)
    }
    val n = per.size.toLong
    val sx = per.map(_._2).sum; val sy = per.map(_._3).sum
    val sxy = per.map(r => r._2 * r._3).sum
    val sxx = per.map(r => r._2 * r._2).sum
    val theta = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    val got = q("agg_cuped").collect()
    assert(got.length === 2)
    got.foreach { r =>
      val arm = r.getLong(0)
      val grp = per.filter(_._1 % 2 == arm)
      assert(r.getLong(1) === grp.size.toLong, "n_users")
      val meanAdj = (grp.map(_._3).sum.toDouble / grp.size -
        theta * (grp.map(_._2).sum.toDouble / grp.size -
          sx.toDouble / n)) / 100.0
      assert(r.getDouble(3) === math.floor(meanAdj * 10000.0 + 0.5) / 10000.0,
        s"mean_adj arm $arm")
      assert(r.getDouble(4) === math.floor(theta * 10000.0 + 0.5) / 10000.0)
    }
  }

  test("win_theil_sen equals the brute-force pairwise-slope median") {
    import spark.implicits._
    val daily = Tables.events(spark, sf)
      .select($"event_type", unix_millis($"ts"))
      .collect().map(r => (r.getString(0), r.getLong(1) / 86400000L))
      .groupBy(identity).map { case ((t, d), rs) => (t, d, rs.size.toLong) }
      .toSeq
    val got = q("win_theil_sen").collect()
    got.foreach { r =>
      val t = r.getString(0)
      val series = daily.filter(_._1 == t).map(x => (x._2, x._3)).sortBy(_._1)
      val slopes = (for {
        i <- series.indices; j <- (i + 1) until series.length
      } yield (series(j)._2 - series(i)._2).toDouble /
          (series(j)._1 - series(i)._1).toDouble).sorted
      val m = slopes.length
      assert(r.getLong(1) === series.length.toLong, "n_days")
      assert(r.getLong(2) === m.toLong, "n_pairs")
      val med = (slopes((m - 1) / 2) + slopes(m / 2)) / 2.0
      assert(r.getDouble(3) === math.floor(med * 10000.0 + 0.5) / 10000.0, t)
    }
  }

  test("sort_zorder envelopes partition the data and counts total correctly") {
    import spark.implicits._
    val rows = Tables.lineitem(spark, sf)
      .select($"l_quantity".cast("long"),
        org.apache.spark.sql.functions.round($"l_extendedprice" * 100)
          .cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val xmin = rows.map(_._1).min; val xmax = rows.map(_._1).max
    val ymin = rows.map(_._2).min; val ymax = rows.map(_._2).max
    def z(x: Long, y: Long): Long = {
      val x8 = (x - xmin) * 256 / (xmax - xmin + 1)
      val y8 = (y - ymin) * 256 / (ymax - ymin + 1)
      (0 until 8).map(i =>
        (((x8 >> i) & 1L) << (2 * i)) + (((y8 >> i) & 1L) << (2 * i + 1))).sum
    }
    val expect = rows.groupBy { case (x, y) => z(x, y) >> 10 }
    val got = q("sort_zorder").collect()
    assert(got.map(_.getLong(1)).sum === rows.length.toLong, "total rows")
    got.foreach { r =>
      val c = r.getLong(0); val grp = expect(c)
      assert(r.getLong(1) === grp.size.toLong, s"n of cluster $c")
      assert(r.getLong(2) === grp.map(_._1).min, "qty_min")
      assert(r.getLong(3) === grp.map(_._1).max, "qty_max")
      assert(r.getLong(4) === grp.map(_._2).min, "cents_min")
      assert(r.getLong(5) === grp.map(_._2).max, "cents_max")
    }
    assert(got.map(_.getLong(0)).toSet === expect.keySet, "cluster ids")
  }

  private def p4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0

  test("agg_shapley matches a brute-force power-set computation") {
    import spark.implicits._
    val chan = Seq("click", "error", "signup", "view")
    val ev = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / 86400000L).cast("long"),
        $"event_type")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getString(2)))
    val cells = ev.groupBy(_._1).values.map { rs =>
      val types = rs.map(_._2).toSet
      val mask = chan.zipWithIndex.collect {
        case (c, i) if types(c) => 1 << i
      }.sum
      (mask, if (types("purchase")) 1L else 0L)
    }.toSeq
    val byMask = cells.groupBy(_._1).map { case (m, rs) =>
      m -> (rs.size.toLong, rs.map(_._2).sum)
    }
    def v(s: Int): Double = {
      val sub = byMask.filter { case (m, _) => (m & s) == m }.values
      val du = sub.map(_._1).sum
      if (du > 0) sub.map(_._2).sum.toDouble / du.toDouble else 0.0
    }
    val w = Seq(0.25, 1.0 / 12.0, 1.0 / 12.0, 0.25)
    val got = q("agg_shapley").collect()
    assert(got.length === 4)
    got.zip(chan).foreach { case (r, c) =>
      assert(r.getString(0) === c)
      val i = chan.indexOf(c); val b = 1 << i
      val exp = byMask.filter { case (m, _) => (m & b) == b }
        .values.map(_._1).sum
      assert(r.getLong(1) === exp, s"n_exposed of $c")
      val phi = (0 until 16).filter(s => (s & b) == 0).sorted
        .foldLeft(0.0) { (acc, s) =>
          acc + w(Integer.bitCount(s)) * (v(s | b) - v(s))
        }
      assert(r.getDouble(2) === p4(phi), s"phi of $c")
    }
  }

  test("agg_market_basket matches a brute-force rule computation") {
    import spark.implicits._
    val brandOf = Tables.part(spark, sf)
      .select($"p_partkey", $"p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val baskets = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey").collect()
      .map(r => (r.getLong(0), brandOf(r.getLong(1)))).distinct
    val nOrders = baskets.map(_._1).distinct.length.toDouble
    val single = baskets.groupBy(_._2).map { case (b, rs) => b -> rs.length }
    val pairs = baskets.groupBy(_._1).values.flatMap { rs =>
      val bs = rs.map(_._2).sorted
      for (i <- bs.indices; j <- (i + 1) until bs.length) yield (bs(i), bs(j))
    }.toSeq.groupBy(identity).iterator
      .collect { case (e, os) if os.size >= 5 => (e, os.size) }.toSeq
    val rules = pairs.map { case ((a, b), nab) =>
      (a, b, nab.toLong, p4(nab / nOrders),
        p4(nab.toDouble / single(a).toDouble),
        p4(nab.toDouble * nOrders / (single(a).toDouble * single(b).toDouble)))
    }.sortBy(r => (-r._6, r._1, r._2)).take(10)
    val gotByName = q("agg_market_basket").collect().map(r =>
      (r.getAs[String]("a"), r.getAs[String]("b"), r.getAs[Long]("n_ab"),
        r.getAs[Double]("support"), r.getAs[Double]("confidence"),
        r.getAs[Double]("lift")))
    assert(gotByName.toSeq === rules, "top-10 rules")
  }

  test("win_kalman equals the plain-Scala filter recursion") {
    import spark.implicits._
    val daily = Tables.events(spark, sf)
      .select($"event_type", (unix_millis($"ts") / 86400000L).cast("long"),
        $"value")
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2)))
      .groupBy(_._1).toSeq
      .map { case ((t, d), rs) =>
        (t, d, rs.map(x => math.round(x._2 * 10000)).sum.toDouble / 10000.0)
      }
    val got = q("win_kalman").collect()
    got.foreach { r =>
      val t = r.getString(0)
      val vs = daily.filter(_._1 == t).sortBy(_._2).map(_._3)
      assert(r.getLong(1) === vs.length.toLong, "n_days")
      var x = vs.head; var p = 400.0; var ssi = 0.0
      vs.tail.foreach { e =>
        val k = (p + 25.0) / (p + 25.0 + 400.0)
        val nx = x + k * (e - x)
        val np = (1.0 - k) * (p + 25.0)
        ssi += (e - x) * (e - x)
        x = nx; p = np
      }
      assert(r.getDouble(2) === p4(x), s"x_hat of $t")
      assert(r.getDouble(3) === p4(p), s"p_final of $t")
      assert(r.getDouble(4) ===
        p4(math.sqrt(ssi / math.max(vs.length - 1, 1).toDouble)),
        s"innov_rmse of $t")
    }
  }

  test("agg_winsorize clamps at the exact p05/p95 order statistics") {
    import spark.implicits._
    val cents = Tables.events(spark, sf)
      .select($"event_type",
        org.apache.spark.sql.functions.round($"value" * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val got = q("agg_winsorize").collect()
    got.foreach { r =>
      val t = r.getString(0)
      val vs = cents.filter(_._1 == t).map(_._2).sorted
      val n = vs.length
      // smallest v whose cumulative count reaches 5% / 95% of n
      val lo = vs(math.ceil(n / 20.0).toInt - 1)
      val hi = vs(math.ceil(n * 19 / 20.0).toInt - 1)
      assert(r.getLong(1) === n.toLong, "n")
      assert(r.getDouble(4) === lo.toDouble / 100.0, s"lo_cut of $t")
      assert(r.getDouble(5) === hi.toDouble / 100.0, s"hi_cut of $t")
      assert(r.getDouble(2) === p4(vs.sum.toDouble / n.toDouble / 100.0))
      val cl = vs.map(v => math.max(math.min(v, hi), lo))
      assert(r.getDouble(3) === p4(cl.sum.toDouble / n.toDouble / 100.0))
    }
  }

  test("win_stochastic equals a plain-Scala oscillator replay") {
    import spark.implicits._
    val daily = Tables.events(spark, sf)
      .select($"event_type", (unix_millis($"ts") / 86400000L).cast("long"),
        $"value")
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2)))
      .groupBy(_._1).toSeq
      .map { case ((t, d), rs) =>
        (t, d, rs.map(x => math.round(x._2 * 10000)).sum.toDouble / 10000.0)
      }
    val got = q("win_stochastic").collect()
    got.foreach { r =>
      val t = r.getString(0)
      val series = daily.filter(_._1 == t).sortBy(_._2)
      val vs = series.map(_._3)
      assert(r.getLong(1) === vs.length.toLong, "n_days")
      assert(r.getLong(2) === series.last._2, "last_day")
      def kAt(i: Int): Option[Double] = {
        val win = vs.slice(math.max(0, i - 13), i + 1)
        val (mn, mx) = (win.min, win.max)
        if (mx > mn) Some((vs(i) - mn) / (mx - mn) * 100.0) else None
      }
      val i = vs.length - 1
      val kLast = kAt(i)
      val dWin = (math.max(0, i - 2) to i).flatMap(kAt)
      kLast match {
        case Some(k) => assert(r.getDouble(3) === p4(k), s"pct_k of $t")
        case None    => assert(r.isNullAt(3), s"pct_k of $t")
      }
      if (dWin.isEmpty) assert(r.isNullAt(4), s"pct_d of $t")
      else assert(r.getDouble(4) === p4(dWin.sum / dWin.size), s"pct_d of $t")
    }
  }

  test("agg_price_index equals a plain-Scala basket computation") {
    import spark.implicits._
    val rows = Tables.lineitem(spark, sf)
      .select(org.apache.spark.sql.functions.year($"l_shipdate"),
        $"l_partkey", $"l_quantity".cast("long"),
        org.apache.spark.sql.functions.round($"l_extendedprice" * 100)
          .cast("long"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    def unit(y: Int): Map[Long, (Long, Double)] =
      rows.filter(_._1 == y).groupBy(_._2).map { case (pk, rs) =>
        val q = rs.map(_._3).sum; val c = rs.map(_._4).sum
        pk -> (q, p4(c.toDouble / q.toDouble / 100.0))
      }
    val y0 = unit(1996); val y1 = unit(1997)
    val both = y0.keySet.intersect(y1.keySet).toSeq
    def s(f: Long => Long): Long = both.map(f).sum
    val s00 = s(pk => math.round(y0(pk)._2 * y0(pk)._1.toDouble * 10000.0))
    val s10 = s(pk => math.round(y1(pk)._2 * y0(pk)._1.toDouble * 10000.0))
    val s01 = s(pk => math.round(y0(pk)._2 * y1(pk)._1.toDouble * 10000.0))
    val s11 = s(pk => math.round(y1(pk)._2 * y1(pk)._1.toDouble * 10000.0))
    val got = q("agg_price_index").collect().head
    assert(got.getLong(0) === both.length.toLong, "n_parts")
    assert(got.getDouble(1) === p4(s10.toDouble / s00.toDouble), "laspeyres")
    assert(got.getDouble(2) === p4(s11.toDouble / s01.toDouble), "paasche")
    assert(got.getDouble(3) === p4(math.sqrt(
      (s10.toDouble / s00.toDouble) * (s11.toDouble / s01.toDouble))),
      "fisher")
  }

  test("llm_readability equals a plain-Scala Flesch replay") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"lang", $"text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val per = docs.map { case (lang, text) =>
      val w = text.trim.split(" ", -1).length.toLong
      val sent = math.max("[.!?]+".r.findAllIn(text).size, 1).toLong
      val syl = "[aeiouy]+".r.findAllIn(text.toLowerCase).size.toLong
      val f = 206.835 - 1.015 * (w.toDouble / sent.toDouble) -
        84.6 * (syl.toDouble / w.toDouble)
      (lang, math.floor(f * 10000.0 + 0.5).toLong,
        math.round(w.toDouble / sent.toDouble * 10000.0))
    }
    val got = q("llm_readability").collect()
    got.foreach { r =>
      val grp = per.filter(_._1 == r.getString(0))
      assert(r.getLong(1) === grp.length.toLong, "n_docs")
      assert(r.getDouble(2) ===
        p4(grp.map(_._2).sum.toDouble / grp.length / 10000.0), "avg_flesch")
      assert(r.getDouble(3) ===
        p4(grp.map(_._3).sum.toDouble / grp.length / 10000.0), "avg_wps")
    }
  }

  test("llm_burstiness equals a plain-Scala VMR replay") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val nd = docs.length.toLong
    val perDoc = docs.flatMap { case (id, text) =>
      text.trim.split(" ", -1).map(t => (t, id))
    }.groupBy(identity).map { case ((t, id), os) => (t, id, os.length.toLong) }
    val agg = perDoc.groupBy(_._1).map { case (t, rs) =>
      t -> (rs.size.toLong, rs.map(_._3).sum, rs.map(x => x._3 * x._3).sum)
    }
    val top = agg.toSeq.map { case (t, (df, _, _)) => (-df, t) }.sorted
      .take(20).map(_._2)
    val got = q("llm_burstiness").collect()
    assert(got.map(_.getString(0)).toSeq === top, "top-20 terms by df")
    got.foreach { r =>
      val (df, sc, sq) = agg(r.getString(0))
      assert(r.getLong(1) === df, "df")
      assert(r.getLong(2) === sc, "total_count")
      val vmr = (nd.toDouble * sq.toDouble - sc.toDouble * sc.toDouble) /
        (nd.toDouble * sc.toDouble)
      assert(r.getDouble(3) === p4(vmr), s"vmr of ${r.getString(0)}")
    }
  }

  test("graph_motifs equals a brute-force triple census") {
    val edges = GraphSpec.backboneEdges(spark, sf)
    val eset = edges.toSet
    val bySrc = edges.groupBy(_._1)
    val p2 = edges.flatMap { case (a, b) =>
      bySrc.getOrElse(b, Nil).collect { case (_, c) if c != a => (a, b, c) }
    }
    val ffl = p2.count { case (a, _, c) => eset((a, c)) }
    val cyc = p2.count { case (a, b, c) =>
      a < b && a < c && eset((c, a))
    }
    val rec = edges.count { case (s, d) => s < d && eset((d, s)) }
    val got = q("graph_motifs").collect().head
    assert(got.getLong(0) === edges.length.toLong, "n_edges")
    assert(got.getLong(1) === ffl.toLong, "n_ffl")
    assert(got.getLong(2) === cyc.toLong, "n_cycle3")
    assert(got.getLong(3) === rec.toLong, "n_reciprocal")
  }

  test("sort_hilbert equals a plain-Scala xy2d walk and partitions the data") {
    import spark.implicits._
    val rows = Tables.lineitem(spark, sf)
      .select($"l_quantity".cast("long"),
        org.apache.spark.sql.functions.round($"l_extendedprice" * 100)
          .cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val xmin = rows.map(_._1).min; val xmax = rows.map(_._1).max
    val ymin = rows.map(_._2).min; val ymax = rows.map(_._2).max
    def hilbert(x0: Long, y0: Long): Long = {
      var hx = (x0 - xmin) * 256 / (xmax - xmin + 1)
      var hy = (y0 - ymin) * 256 / (ymax - ymin + 1)
      var d = 0L
      for (bit <- 7 to 0 by -1) {
        val sv = 1L << bit
        val rx = (hx / sv) % 2; val ry = (hy / sv) % 2
        d += sv * sv * (if (rx == 1 && ry == 0) 3L
          else if (rx == 1 && ry == 1) 2L
          else if (rx == 0 && ry == 1) 1L else 0L)
        val xm = hx % sv; val ym = hy % sv
        val nx = if (ry == 0) { if (rx == 1) sv - 1 - ym else ym } else xm
        val ny = if (ry == 0) { if (rx == 1) sv - 1 - xm else xm } else ym
        hx = nx; hy = ny
      }
      d
    }
    val expect = rows.groupBy { case (x, y) => hilbert(x, y) / 1024 }
    val got = q("sort_hilbert").collect()
    assert(got.map(_.getLong(1)).sum === rows.length.toLong, "total rows")
    assert(got.map(_.getLong(0)).toSet === expect.keySet, "cluster ids")
    got.foreach { r =>
      val grp = expect(r.getLong(0))
      assert(r.getLong(1) === grp.size.toLong, s"n of ${r.getLong(0)}")
      assert(r.getLong(2) === grp.map(_._1).min, "qty_min")
      assert(r.getLong(3) === grp.map(_._1).max, "qty_max")
      assert(r.getLong(4) === grp.map(_._2).min, "cents_min")
      assert(r.getLong(5) === grp.map(_._2).max, "cents_max")
    }
    // Hilbert adjacency sanity: consecutive d cells are plane-adjacent, so
    // the 64-cluster envelopes should tile at least as tightly as Morton's
    assert(got.length <= 64, "cluster count bounded")
  }

  test("src_rowgroup_stats matches a direct footer read and the row-count invariant") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(s"$sf/lineitem.parquet")
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    val expect = try {
      r.getFooter.getBlocks.asScala.toList.zipWithIndex.flatMap {
        case (blk, rg) => blk.getColumns.asScala.toList.map { cc =>
          (rg.toLong, cc.getPath.toDotString) ->
            (cc.getValueCount, cc.getTotalSize, cc.getTotalUncompressedSize)
        }
      }.toMap
    } finally r.close()
    val nRows = Tables.lineitem(spark, sf).count()
    val got = q("src_rowgroup_stats").collect()
    assert(got.length === expect.size, "chunk count")
    got.foreach { row =>
      val k = (row.getLong(0), row.getString(1))
      val (nv, cb, ub) = expect(k)
      assert(row.getLong(2) === nv, s"n_values of $k")
      assert(row.getLong(3) === cb, s"compressed of $k")
      assert(row.getLong(4) === ub, s"uncompressed of $k")
    }
    // every column's value count across row groups must equal the table
    val perCol = got.groupBy(_.getString(1))
      .map { case (_, rs) => rs.map(_.getLong(2)).sum }
    perCol.foreach(v => assert(v === nRows, "n_values == row count"))
  }

  test("graph_simrank equals a plain-Scala integer-quantized iteration") {
    import spark.implicits._
    val scale = 1000000000L
    val lp = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey" % 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val und = lp.groupBy(_._1).values.flatMap { ps =>
      val cells = ps.map(_._2).sorted
      for (i <- cells.indices; j <- (i + 1) until cells.length
           if cells(i) != cells(j)) yield (cells(i), cells(j))
    }.toSeq.groupBy(identity).iterator
      .collect { case (e, os) if os.size >= 2 => e }.toSeq
    val adj = (und ++ und.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val verts = adj.keys.toSeq.sorted
    var sk: Map[(Long, Long), Long] =
      verts.map(v => (v, v) -> scale).toMap
    for (_ <- 1 to 3) {
      val nxt = scala.collection.mutable.Map[(Long, Long), Long]()
      for (x <- verts; y <- verts if x != y) {
        val ssum = (for (i <- adj(x); j <- adj(y)) yield
          sk.getOrElse((i, j), 0L)).sum
        val sq = (4L * ssum) / (5L * adj(x).size * adj(y).size)
        if (sq > 0) nxt((x, y)) = sq
      }
      sk = nxt.toMap ++ verts.map(v => (v, v) -> scale).toMap
    }
    val expect = sk.toSeq.collect { case ((a, b), sq) if a < b =>
      (a, b, sq.toDouble / scale.toDouble)
    }.sortBy { case (a, b, sr) => (-sr, a, b) }.take(20)
    val got = q("graph_simrank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === expect, "top-20 simrank pairs")
  }

  test("agg_cross_corr equals a plain-Scala dense-spine correlation") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .filter($"event_type".isin("view", "purchase"))
      .select($"event_type", (unix_millis($"ts") / 86400000L).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byDay = ev.groupBy(_._2).map { case (d, rs) =>
      d -> (rs.count(_._1 == "view").toLong,
        rs.count(_._1 == "purchase").toLong)
    }
    val d0 = byDay.keys.min; val d1 = byDay.keys.max
    val spine = (d0 to d1).map(d => byDay.getOrElse(d, (0L, 0L)))
    val got = q("agg_cross_corr").collect()
    assert(got.length === 15)
    got.foreach { r =>
      val lag = r.getLong(0).toInt
      val pairs = (d0 to d1).flatMap { d =>
        val d2 = d + lag
        if (d2 >= d0 && d2 <= d1)
          Some((spine((d - d0).toInt)._1, spine((d2 - d0).toInt)._2))
        else None
      }
      val n = pairs.length.toLong
      assert(r.getLong(1) === n, s"n_days at lag $lag")
      val sx = pairs.map(_._1).sum; val sy = pairs.map(_._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val dx = n * sxx - sx * sx; val dy = n * syy - sy * sy
      if (dx > 0 && dy > 0) {
        val rr = (n * sxy - sx * sy).toDouble /
          math.sqrt(dx.toDouble * dy.toDouble)
        assert(r.getDouble(2) === p4(rr), s"r at lag $lag")
      } else assert(r.isNullAt(2), s"r at lag $lag")
    }
  }

  test("agg_emd equals a plain-Scala CDF-area computation") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .filter($"event_type".isin("view", "purchase"))
      .select($"event_type",
        org.apache.spark.sql.functions.round($"value" * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val values = ev.map(_._2).distinct.sorted
    val na = ev.count(_._1 == "view").toLong
    val nb = ev.count(_._1 == "purchase").toLong
    var cuma = 0L; var cumb = 0L; var tsum = BigInt(0)
    values.zipWithIndex.foreach { case (v, i) =>
      cuma += ev.count(e => e._1 == "view" && e._2 == v)
      cumb += ev.count(e => e._1 == "purchase" && e._2 == v)
      val gap = if (i + 1 < values.length) values(i + 1) - v else 0L
      tsum += (BigInt(cuma) * nb - BigInt(cumb) * na).abs * gap
    }
    val got = q("agg_emd").collect().head
    assert(got.getLong(0) === na, "n_view")
    assert(got.getLong(1) === nb, "n_purchase")
    assert(got.getLong(2) === values.length.toLong, "n_values")
    val emd = tsum.toDouble / (na.toDouble * nb.toDouble) / 100.0
    assert(got.getDouble(3) === p4(emd), "emd")
  }

  test("agg_top_paths and agg_entry_exit equal a plain-Scala session replay") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_millis($"ts"), $"event_id", $"event_type")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val sessions = ev.groupBy(e => (e._1, e._2 / 86400000L)).values.map { rs =>
      rs.sortBy(e => (e._2, e._3)).map(_._4)
    }.toSeq
    val nS = sessions.length.toLong
    val topPaths = sessions.map(_.mkString(">"))
      .groupBy(identity).toSeq
      .map { case (p, os) => (p, os.size.toLong) }
      .sortBy { case (p, n) => (-n, p) }.take(10)
    val gotP = q("agg_top_paths").collect()
    gotP.zip(topPaths).foreach { case (r, (p, n)) =>
      assert(r.getString(0) === p, "path")
      assert(r.getLong(1) === n, s"n of $p")
      assert(r.getDouble(2) === p4(n.toDouble / nS.toDouble), s"share of $p")
    }
    val entryExit = sessions.map(s => (s.head, s.last))
      .groupBy(identity).map { case (k, os) => k -> os.size.toLong }
    val gotE = q("agg_entry_exit").collect()
    assert(gotE.map(r => (r.getString(0), r.getString(1))).toSet ===
      entryExit.keySet, "cell set")
    gotE.foreach { r =>
      val n = entryExit((r.getString(0), r.getString(1)))
      assert(r.getLong(2) === n)
      assert(r.getDouble(3) === p4(n.toDouble / nS.toDouble))
    }
  }

  test("agg_returns equals a plain-Scala brand rollup") {
    import spark.implicits._
    val brandOf = Tables.part(spark, sf)
      .select($"p_partkey", $"p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val lines = Tables.lineitem(spark, sf)
      .select($"l_partkey", $"l_returnflag").collect()
      .map(r => (brandOf(r.getLong(0)), r.getString(1) == "R"))
    val expect = lines.groupBy(_._1).toSeq
      .map { case (b, rs) => (b, rs.length.toLong, rs.count(_._2).toLong) }
      .filter(_._2 >= 50)
      .map { case (b, n, nr) => (b, n, nr, p4(nr.toDouble / n.toDouble)) }
      .sortBy { case (b, _, _, rate) => (-rate, b) }.take(10)
    val got = q("agg_returns").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === expect)
  }

  test("agg_weibull_fit equals a plain-Scala KM + regression replay") {
    import spark.implicits._
    val spans = Tables.events(spark, sf)
      .select($"user_id", (unix_millis($"ts") / 86400000L).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values.toSeq.map { rs => // values: a Map.map of
        (rs.map(_._2).min, rs.map(_._2).max)  // (fd, ld) pairs would
      }                                       // dedup users by fd
    val maxd = spans.map(_._2).max
    val lt = spans.map { case (fd, ld) => (ld - fd, ld == maxd) }
    val deaths = lt.filterNot(_._2).groupBy(_._1)
      .map { case (t, rs) => t -> rs.size.toLong }
    val pts = deaths.keys.toSeq.sorted.scanLeft((0L, 1.0)) { case ((_, s), t) =>
      val nRisk = lt.count(_._1 >= t).toLong
      (t, s * (1.0 - deaths(t).toDouble / nRisk.toDouble))
    }.tail.filter { case (t, s) => t >= 1 && s > 0.0 && s < 1.0 }
      .map { case (t, s) =>
        (math.floor(math.log(t.toDouble) * 1.0e6 + 0.5).toLong,
          math.floor(math.log(-math.log(s)) * 1.0e6 + 0.5).toLong)
      }
    val n = pts.length.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val got = q("agg_weibull_fit").collect().head
    assert(got.getLong(0) === n, "n_points")
    if (n * sxx - sx * sx > 0) {
      val k = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
      assert(got.getDouble(1) === p4(k), "shape")
      if (n * sxy - sx * sy != 0) {
        val lam = math.exp(-((sy.toDouble - k * sx.toDouble) / n.toDouble /
          1.0e6) / k)
        assert(got.getDouble(2) === p4(lam), "scale_days")
      } else assert(got.isNullAt(2), "degenerate scale is NULL")
    } else {
      assert(got.isNullAt(1), "degenerate shape is NULL")
      assert(got.isNullAt(2), "degenerate scale is NULL")
    }
  }

  test("src_csv_gzip round-trips customer losslessly through gzip CSV") {
    import spark.implicits._
    val expect = Tables.customer(spark, sf)
      .join(Tables.nation(spark, sf), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        graft.ops.Relational.msum($"c_acctbal").as("bal"))
      .orderBy($"n_name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val got = q("src_csv_gzip").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === expect.toSeq)
  }

  test("sink_clustered_write: z-partitioned files have tighter envelopes") {
    val got = q("sink_clustered_write").collect()
    assert(got.length === 2)
    val byLayout = got.map(r => r.getString(0) ->
      (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val (cn, cq, cp_) = byLayout("clustered")
    val (sn, sq, sp) = byLayout("scattered")
    assert(cn === 8L && sn === 8L, "8 files per layout")
    Seq(cq, cp_, sq, sp).foreach(v => assert(v >= 0.0 && v <= 1.0))
    // the entire point of the op: clustering shrinks per-file envelopes
    assert(cq < sq, s"qty envelope: clustered $cq !< scattered $sq")
    assert(cp_ < sp, s"price envelope: clustered ${cp_} !< scattered $sp")
  }

  test("win_mann_kendall equals the O(n²) sign-pair count") {
    import spark.implicits._
    val daily = Tables.events(spark, sf)
      .select($"event_type", (unix_millis($"ts") / 86400000L).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).map { case ((t, d), rs) => (t, d, rs.size.toLong) }
      .toSeq
    val got = q("win_mann_kendall").collect()
    got.foreach { r =>
      val t = r.getString(0)
      val series = daily.filter(_._1 == t).sortBy(_._2).map(_._3)
      val n = series.length.toLong
      var s = 0L
      for (i <- series.indices; j <- (i + 1) until series.length)
        s += java.lang.Long.signum(series(j) - series(i))
      val tieTerm = series.groupBy(identity).values
        .map { g => val tk = g.size.toLong; tk * (tk - 1) * (2 * tk + 5) }
        .sum
      val var18 = n * (n - 1) * (2 * n + 5) - tieTerm
      assert(r.getLong(1) === n, s"n_days of $t")
      assert(r.getLong(2) === s, s"s_stat of $t")
      assert(r.getLong(3) === var18, s"var18 of $t")
      if (var18 > 0) {
        val num = if (s > 0) (s - 1).toDouble
          else if (s < 0) (s + 1).toDouble else 0.0
        assert(r.getDouble(4) === p4(num / math.sqrt(var18.toDouble / 18.0)),
          s"z of $t")
      } else assert(r.isNullAt(4))
    }
  }

  test("graph_temporal_density equals a plain-Scala monthly census") {
    import spark.implicits._
    val lp = Tables.lineitem(spark, sf)
      .select((org.apache.spark.sql.functions.year($"l_shipdate") * 100 +
        org.apache.spark.sql.functions.month($"l_shipdate")).cast("long"),
        $"l_orderkey", $"l_partkey")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).distinct
    val byYm = lp.groupBy(_._1)
    val got = q("graph_temporal_density").collect()
    assert(got.map(_.getLong(0)).toSeq === byYm.keys.toSeq.sorted, "months")
    got.foreach { r =>
      val rows = byYm(r.getLong(0))
      val nParts = rows.map(_._3).distinct.length.toLong
      val edges = rows.groupBy(_._2).values.flatMap { os =>
        val ps = os.map(_._3).distinct.sorted
        for (i <- ps.indices; j <- (i + 1) until ps.length)
          yield (ps(i), ps(j))
      }.toSet
      assert(r.getLong(1) === nParts, s"n_parts ${r.getLong(0)}")
      assert(r.getLong(2) === edges.size.toLong, s"n_edges ${r.getLong(0)}")
      if (nParts > 1)
        assert(r.getDouble(3) === p4(2.0 * edges.size.toDouble /
          (nParts.toDouble * (nParts - 1).toDouble)))
      else assert(r.isNullAt(3))
    }
  }

  test("agg_odds_ratio equals a plain-Scala 2x2 computation") {
    import spark.implicits._
    // .toSeq BEFORE the map — a Map.map of (arm, conv) pairs would dedup
    val cells = Tables.events(spark, sf)
      .select($"user_id", $"event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).toSeq.map { case (u, rs) =>
        (u % 2, rs.exists(_._2 == "purchase"))
      }
    val a = cells.count(x => x._1 == 1 && x._2).toLong
    val b = cells.count(x => x._1 == 1 && !x._2).toLong
    val c = cells.count(x => x._1 == 0 && x._2).toLong
    val d = cells.count(x => x._1 == 0 && !x._2).toLong
    val got = q("agg_odds_ratio").collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
      === ((a, b, c, d)), "2x2 cells")
    if (a > 0 && b > 0 && c > 0 && d > 0) {
      val or = a.toDouble * d.toDouble / (b.toDouble * c.toDouble)
      val se = math.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
      assert(got.getDouble(4) === p4(or), "odds_ratio")
      assert(got.getDouble(5) === p4(math.exp(math.log(or) - 1.96 * se)))
      assert(got.getDouble(6) === p4(math.exp(math.log(or) + 1.96 * se)))
    } else (4 to 6).foreach(i => assert(got.isNullAt(i)))
  }

  test("agg_nrr equals a plain-Scala cohort-revenue replay") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select($"user_id",
        (org.apache.spark.sql.functions.year($"ts") * 100 +
          org.apache.spark.sql.functions.month($"ts")).cast("long"),
        org.apache.spark.sql.functions.round($"value" * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val um = ev.groupBy(e => (e._1, e._2)).toSeq
      .map { case ((u, ym), rs) => (u, ym, rs.map(_._3).sum) }
    val cohort = um.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).min }
    val cells = um.groupBy(r => (cohort(r._1), r._2)).toSeq
      .map { case ((c, ym), rs) => (c, ym, rs.map(_._3).sum) }
      .sortBy(r => (r._1, r._2))
    val base = cells.collect { case (c, ym, rev) if c == ym => c -> rev }.toMap
    val got = q("agg_nrr").collect()
    assert(got.length === cells.length)
    got.zip(cells).foreach { case (r, (c, ym, rev)) =>
      assert((r.getLong(0), r.getLong(1)) === ((c, ym)))
      assert(r.getDouble(2) === p4(rev.toDouble / 100.0), "revenue")
      if (base(c) > 0)
        assert(r.getDouble(3) === p4(rev.toDouble / base(c).toDouble), "nrr")
      else assert(r.isNullAt(3))
    }
  }

  test("win_ulcer equals a plain-Scala drawdown replay") {
    import spark.implicits._
    val daily = Tables.events(spark, sf)
      .select($"event_type", (unix_millis($"ts") / 86400000L).cast("long"),
        org.apache.spark.sql.functions.round($"value" * 100).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(e => (e._1, e._2)).toSeq
      .map { case ((t, d), rs) => (t, d, rs.map(_._3).sum) }
    val got = q("win_ulcer").collect()
    got.foreach { r =>
      val t = r.getString(0)
      val series = daily.filter(_._1 == t).sortBy(_._2).map(_._3)
      var peak = 0L; var sum2 = 0L; var nonzero = 0
      series.foreach { c =>
        peak = math.max(peak, c)
        val dd = if (peak > 0)
          (c - peak).toDouble / peak.toDouble * 100.0 else 0.0
        if (dd != 0.0) nonzero += 1
        sum2 += math.round(dd * dd * 1.0e6)
      }
      // the metric must not be vacuous: a level series that fluctuates
      // has real drawdown days (the cum-sum formulation had zero)
      assert(nonzero > 0, s"degenerate ulcer series for $t")
      assert(r.getLong(1) === series.length.toLong, s"n_days of $t")
      assert(r.getDouble(2) === p4(math.sqrt(
        sum2.toDouble / series.length.toDouble / 1.0e6)), s"ulcer of $t")
    }
  }

  test("agg_sprt equals the brute-force sequential LLR scan") {
    import spark.implicits._
    val trials = Tables.events(spark, sf)
      .select((unix_millis($"ts") / 86400000L).cast("long"),
        $"user_id", $"event_type")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getString(2) == "purchase"))
      .groupBy(_._1).toSeq
      .map { case (k, rs) => (k, rs.exists(_._2)) }
      .sortBy(_._1)
    var cum = 0L
    var firstH1 = Option.empty[Long]; var firstH0 = Option.empty[Long]
    trials.zipWithIndex.foreach { case ((_, hit), i) =>
      cum += (if (hit) 223143551L else -182321557L)
      if (cum >= 2944438979L && firstH1.isEmpty) firstH1 = Some(i + 1L)
      if (cum <= -2944438979L && firstH0.isEmpty) firstH0 = Some(i + 1L)
    }
    val got = q("agg_sprt").collect().head
    assert(got.getLong(0) === trials.size.toLong, "n_trials")
    assert(got.getLong(1) === trials.count(_._2).toLong, "n_success")
    assert(got.getDouble(2) ===
      math.floor(cum.toDouble / 1.0e9 * 10000.0 + 0.5) / 10000.0, "llr_final")
    val expectDecision =
      if (firstH1.exists(a => firstH0.forall(a <= _))) "accept_h1"
      else if (firstH0.nonEmpty) "accept_h0" else "continue"
    assert(got.getString(3) === expectDecision, "decision")
    val expectN = (firstH1.toSeq ++ firstH0.toSeq).sorted.headOption
    if (expectN.isEmpty) assert(got.isNullAt(4))
    else assert(got.getLong(4) === expectN.get, "n_at_decision")
  }
}
