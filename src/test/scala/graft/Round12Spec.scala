package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.unix_millis

/** Independent JVM cross-checks for round-12 operators — plain-Scala
  * replays from raw collected inputs (the SURVEY.md §5 two-witness
  * discipline, same as Round11Spec).
  */
class Round12Spec extends SparkSpec {

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def p4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0

  test("agg_quantile_shift equals a plain-Scala per-arm rank pick") {
    import spark.implicits._
    val rows = Tables.orders(spark, sf)
      .select($"o_custkey", $"o_totalprice", $"o_orderkey")
      .collect()
      .map(r => (r.getLong(0) % 2, math.round(r.getDouble(1) * 100), r.getLong(2)))
    def pick(arm: Long, p: Int): Long = {
      val sorted = rows.filter(_._1 == arm).sortBy(t => (t._2, t._3))
      sorted(((p * sorted.length + 99) / 100) - 1)._2
    }
    val got = q("agg_quantile_shift").collect()
    assert(got.length === 3)
    got.foreach { r =>
      val p = r.getLong(0).toInt
      val (ca, cb) = (pick(0, p), pick(1, p))
      assert(r.getDouble(1) === ca.toDouble / 100.0, s"p$p value_a")
      assert(r.getDouble(2) === cb.toDouble / 100.0, s"p$p value_b")
      assert(r.getDouble(3) === (cb - ca).toDouble / 100.0, s"p$p shift")
      assert(r.getDouble(4) === p4((cb - ca).toDouble / ca.toDouble), s"p$p rel")
    }
  }

  test("agg_bootstrap_diff_ci equals a plain-Scala replicate replay") {
    import spark.implicits._
    val rows = Tables.orders(spark, sf)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1) % 2, math.round(r.getDouble(2) * 100)))
    def coin(r: Int, ok: Long): Boolean =
      java.lang.Long.parseLong(md5hex(s"${r}_$ok").take(4), 16) % 2 == 0
    val diffs = (0 until 32).map { r =>
      val in = rows.filter(t => coin(r, t._1))
      val (a, b) = (in.filter(_._2 == 0), in.filter(_._2 == 1))
      (r.toLong,
        a.map(_._3).sum.toDouble / a.length - b.map(_._3).sum.toDouble / b.length)
    }
    val sorted = diffs.sortBy(t => (t._2, t._1)).map(_._2)
    val (lo, hi) = (sorted(1), sorted(30)) // ranks 2 and 31 of 32
    val (aa, bb) = (rows.filter(_._2 == 0), rows.filter(_._2 == 1))
    val dm = aa.map(_._3).sum.toDouble / aa.length -
      bb.map(_._3).sum.toDouble / bb.length
    val got = q("agg_bootstrap_diff_ci").collect().head
    assert(got.getDouble(0) === math.floor(dm + 0.5) / 100.0, "diff_mean")
    assert(got.getDouble(1) === math.floor(lo + 0.5) / 100.0, "ci_lo")
    assert(got.getDouble(2) === math.floor(hi + 0.5) / 100.0, "ci_hi")
    // the interval is a real interval around the point estimate
    assert(got.getDouble(1) <= got.getDouble(2))
  }

  test("win_atr equals a plain-Scala true-range fold and is not vacuous") {
    import spark.implicits._
    val daily = Tables.events(spark, sf)
      .select((unix_millis($"ts") / 86400000L).cast("long"),
        unix_millis($"ts"), $"event_id",
        org.apache.spark.sql.functions.round($"value" * 100).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (d, rs) =>
        val close = rs.maxBy(t => (t._2, t._3))._4
        (d, rs.map(_._4).min, rs.map(_._4).max, close)
      }
    val trs = daily.zipWithIndex.map { case ((d, lo, hi, _), i) =>
      if (i == 0) (d, hi - lo)
      else {
        val pc = daily(i - 1)._4
        (d, math.max(hi - lo, math.max(math.abs(hi - pc), math.abs(lo - pc))))
      }
    }
    val got = q("win_atr").collect()
    assert(got.length === trs.length)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) === trs(i)._1, s"day $i")
      assert(r.getDouble(1) === trs(i)._2.toDouble / 100.0, s"tr day $i")
      val from = math.max(0, i - 13)
      val window = trs.slice(from, i + 1).map(_._2)
      assert(r.getDouble(2) ===
        p4(window.sum.toDouble / window.length / 100.0), s"atr day $i")
    }
    // daily revenue fluctuates — the true range must not be identically 0
    assert(trs.count(_._2 > 0) > 0, "vacuous ATR series")
  }

  test("llm_entropy_outliers: quantized entropy recomputes per document") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = q("llm_entropy_outliers").collect()
    assert(got.length > 0)
    got.foreach { r =>
      val toks = docs(r.getLong(0)).split(" ", -1)
      val tf = toks.groupBy(identity).map { case (_, xs) => xs.length.toLong }
      val n = toks.length.toLong
      val sq = tf.map(c => math.round(c.toDouble * math.log(c.toDouble) * 1e9)).sum
      val hs = math.round(math.log(n.toDouble) * 1e9) * n - sq
      assert(r.getLong(1) === n, s"n of ${r.getLong(0)}")
      assert(r.getLong(2) === tf.size.toLong, s"types of ${r.getLong(0)}")
      assert(r.getDouble(3) === hs.toDouble / (n.toDouble * 1e9),
        s"entropy of ${r.getLong(0)}")
    }
  }

  test("agg_bayes_ab equals the closed-form posterior replay") {
    import spark.implicits._
    val rows = Tables.events(spark, sf)
      .select($"user_id", $"event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byArm = rows.groupBy(_._1).toSeq
      .map { case (u, es) => (u % 2, es.exists(_._2 == "purchase")) }
      .groupBy(_._1)
    def stats(arm: Long) = {
      val xs = byArm(arm); (xs.size.toLong, xs.count(_._2).toLong)
    }
    val ((na, ca), (nb, cb)) = (stats(0), stats(1))
    def pm(n: Long, c: Long) = (c + 1.0) / (n + 2.0)
    def pv(n: Long, c: Long) = pm(n, c) * (1.0 - pm(n, c)) / (n + 3.0)
    val got = q("agg_bayes_ab").collect().head
    assert(got.getLong(0) === na && got.getLong(1) === ca)
    assert(got.getLong(2) === nb && got.getLong(3) === cb)
    assert(got.getDouble(4) === p4(pm(na, ca)))
    assert(got.getDouble(5) === p4(pm(nb, cb)))
    assert(got.getDouble(6) ===
      p4((pm(nb, cb) - pm(na, ca)) / math.sqrt(pv(na, ca) + pv(nb, cb))))
  }

  test("agg_effect_size equals a plain-Scala pooled-sd replay") {
    import spark.implicits._
    val rows = Tables.events(spark, sf)
      .select($"event_type", $"value").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 10000)))
      .groupBy(_._1)
    def mom(t: String) = {
      val q = rows(t).map(_._2)
      val (n, s1) = (q.length.toLong, q.sum)
      val s2 = q.map(x => BigInt(x) * BigInt(x)).sum
      (n, s1, s2)
    }
    val got = q("agg_effect_size").collect()
    assert(got.length === rows.size * (rows.size - 1) / 2)
    got.foreach { r =>
      val (ta, tb) = (r.getString(0), r.getString(1))
      val ((na, s1a, s2a), (nb, s1b, s2b)) = (mom(ta), mom(tb))
      def v(n: Long, s1: Long, s2: BigInt) =
        (s2.toDouble - s1.toDouble * s1.toDouble / n) / (n - 1.0)
      val (ma, mb) = (s1a.toDouble / na, s1b.toDouble / nb)
      val sp2 = ((na - 1.0) * v(na, s1a, s2a) + (nb - 1.0) * v(nb, s1b, s2b)) /
        (na + nb - 2.0)
      val d = (ma - mb) / math.sqrt(sp2)
      assert(r.getDouble(4) === p4(d), s"$ta-$tb cohen_d")
      assert(r.getDouble(5) ===
        p4(d * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0))), s"$ta-$tb hedges_g")
    }
  }

  test("win_donchian: channel bounds recompute and breakouts actually occur") {
    import spark.implicits._
    val daily = Tables.events(spark, sf)
      .select((unix_millis($"ts") / 86400000L).cast("long"),
        org.apache.spark.sql.functions.round($"value" * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).toSeq.map { case (d, rs) => (d, rs.map(_._2).sum) }
      .sortBy(_._1)
    val got = q("win_donchian").collect()
    got.foreach { r =>
      val d = r.getLong(0)
      val i = daily.indexWhere(_._1 == d)
      val win = daily.slice(math.max(0, i - 20), i).map(_._2)
      assert(win.nonEmpty)
      assert(r.getDouble(2) === win.max.toDouble / 100.0, s"hi day $d")
      assert(r.getDouble(3) === win.min.toDouble / 100.0, s"lo day $d")
      assert(r.getBoolean(4) === (daily(i)._2 > win.max), s"up day $d")
      assert(r.getBoolean(5) === (daily(i)._2 < win.min), s"down day $d")
    }
    // a fluctuating series must break the channel at least once somewhere
    assert(got.exists(r => r.getBoolean(4) || r.getBoolean(5)),
      "vacuous channel: no breakout on the whole series")
  }

  test("graph_degree_joint: cells recompute from raw degrees, mass = |E|") {
    import spark.implicits._
    val cp = graft.ops.GraphOps.copurchase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = (cp.map(_._1) ++ cp.map(_._2)).groupBy(identity)
      .map { case (v, xs) => v -> xs.length.toLong }
    def bkt(d: Long): Long = (62 to 0 by -1).find(p => (1L << p) <= d).get.toLong
    val cells = cp.map { case (a, b) =>
      val (x, y) = (bkt(deg(a)), bkt(deg(b)))
      (math.min(x, y), math.max(x, y))
    }.groupBy(identity).map { case (k, xs) => k -> xs.length.toLong }
    val got = q("graph_degree_joint").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === cells)
    assert(got.values.sum === cp.length.toLong, "cell mass must equal |E|")
  }

  test("agg_hll_merge: union of daily sketches ≡ whole-corpus sketch, brackets exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val row = q("agg_hll_merge").collect().head
    val (nDays, merged, exact, naive) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(nDays > 0)
    // mergeability: the unioned daily sketches estimate EXACTLY what one
    // whole-corpus sketch estimates (same binary algebra, not just close)
    val whole = Tables.events(spark, sf)
      .agg(hll_sketch_estimate(hll_sketch_agg($"user_id")))
      .collect().head.getLong(0)
    assert(merged === whole, "union of dailies must equal the one-shot sketch")
    // HLL error bound: within 5% of the exact distinct
    assert(math.abs(merged - exact) <= 0.05 * exact,
      s"estimate $merged vs exact $exact")
    // and the naive sum of daily distincts genuinely overcounts (users
    // active on many days) — the number this op exists to correct
    assert(naive > exact, "naive sum should overcount repeat users")
  }

  test("src_binaryfile digests match the source text bytes") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = q("src_binaryfile").collect()
    assert(got.length === docs.size)
    got.foreach { r =>
      val t = docs(r.getLong(0))
      assert(r.getLong(1) === t.getBytes("UTF-8").length.toLong)
      assert(r.getString(2) === md5hex(t))
    }
  }
}
