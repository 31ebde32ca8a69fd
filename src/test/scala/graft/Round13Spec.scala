package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{get_json_object, unix_millis}

/** Independent JVM cross-checks for round-13 operators — plain-Scala
  * replays from raw collected inputs (the SURVEY.md §5 two-witness
  * discipline, same as Round11Spec/Round12Spec).
  */
class Round13Spec extends SparkSpec {

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  test("llm_bpe_train: every merge equals a plain-Scala greedy BPE trainer") {
    import spark.implicits._
    // reference trainer: distinct words with multiplicity, 20 rounds of
    // (count adjacent pairs) -> (argmax, ties to smallest pair) ->
    // (greedy left-to-right merge application per word)
    var words: Map[Vector[String], Long] = Tables.documents(spark, sf)
      .select($"text").collect().iterator
      .flatMap(_.getString(0).split(" ").iterator.filter(_.nonEmpty))
      .toSeq.groupBy(identity)
      .map { case (w, xs) => w.map(_.toString).toVector -> xs.length.toLong }
    val expect = (1 to 20).map { k =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, cnt) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + cnt
      val ((l, r), n) = counts.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.head
      words = words.groupMapReduce { case (syms, _) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result()
      }(_._2)(_ + _)
      (k.toLong, l, r, l + r, n)
    }
    val got = q("llm_bpe_train").collect()
      .map(rw => (rw.getLong(0), rw.getString(1), rw.getString(2),
        rw.getString(3), rw.getLong(4))).toSeq
    assert(got === expect)
    // the trainer actually RE-SEGMENTS: some later merge must consume an
    // earlier merge's output symbol (multi-char lhs or rhs)
    assert(got.exists(m => m._2.length > 1 || m._3.length > 1))
  }

  test("llm_bpe_encode: per-language stats equal a plain-Scala encode replay") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select($"lang", $"text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val counts: Map[String, Long] = docs.iterator
      .flatMap(_._2.split(" ").iterator.filter(_.nonEmpty))
      .toSeq.groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    // reference trainer to the FINAL segmentation (same rule as the
    // llm_bpe_train replay, tracked per original word)
    var segOf: Map[String, Vector[String]] =
      counts.keys.map(w => w -> w.map(_.toString).toVector).toMap
    for (_ <- 1 to 20) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- segOf; i <- 0 until syms.length - 1)
        pc((syms(i), syms(i + 1))) =
          pc.getOrElse((syms(i), syms(i + 1)), 0L) + counts(w)
      val ((l, r), _) = pc.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.head
      segOf = segOf.map { case (w, syms) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        w -> out.result()
      }
    }
    def p4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    val expect = docs.iterator
      .flatMap { case (lang, t) =>
        t.split(" ").iterator.filter(_.nonEmpty).map(lang -> _) }
      .toSeq.groupBy(_._1).toSeq.map { case (lang, ws) =>
        val wsTok = ws.length.toLong
        val bpe = ws.iterator.map(x => segOf(x._2).length.toLong).sum
        val ch = ws.iterator.map(_._2.length.toLong).sum
        (lang, wsTok, bpe, ch, p4(ch.toDouble / bpe), p4(bpe.toDouble / wsTok))
      }.sortBy(_._1)
    val got = q("llm_bpe_encode").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got === expect)
    // BPE must actually compress: fewer chars per corpus than char-level,
    // i.e. chars_per_token > 1 somewhere after 20 merges
    assert(got.exists(_._5 > 1.0))
  }

  test("agg_var_cvar equals a plain-Scala tail computation") {
    import spark.implicits._
    val cents = Tables.lineitem(spark, sf)
      .select($"l_shipdate".cast("string"), $"l_extendedprice", $"l_discount")
      .collect()
      .map(r => r.getString(0) ->
        math.round(r.getDouble(1) * (1 - r.getDouble(2)) * 100))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val sorted = cents.toSeq.sortBy { case (d, c) => (c, d) }
    val n = sorted.length.toLong
    val k = ((n * 5 + 99) / 100).toInt
    val tail = sorted.take(k)
    val row = q("agg_var_cvar").collect().head
    assert(row.getLong(0) === n && row.getLong(1) === k.toLong)
    assert(row.getDouble(2) === tail.last._2.toDouble / 100.0)
    val cvar = math.floor(tail.map(_._2).sum.toDouble /
      (100.0 * k) * 10000.0 + 0.5) / 10000.0
    assert(row.getDouble(3) === cvar)
    assert(row.getDouble(4) === tail.head._2.toDouble / 100.0)
  }

  test("graph_degree_delta equals a plain-Scala two-snapshot degree diff") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select($"user_id", get_json_object($"props", "$.k").cast("long"),
        unix_millis($"ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mx = ev.map(_._3).max
    def snap(cut: Long): Map[Long, (Long, Long)] =
      ev.filter(_._3 <= cut).groupBy(_._1).map { case (u, xs) =>
        u -> (xs.map(_._2).distinct.length.toLong, xs.length.toLong)
      }
    val a = snap(mx - 7200000L)
    val b = snap(mx - 3600000L)
    val expect = b.toSeq.flatMap { case (u, (d2, n2)) =>
      val (d1, n1) = a.getOrElse(u, (0L, 0L))
      if (!a.contains(u) || d2 != d1 || n2 != n1)
        Some((u, d1, d2, d2 - d1, n1, n2))
      else None
    }.sortBy(_._1)
    val got = q("graph_degree_delta").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got === expect)
  }

  test("llm_sample_temperature: alpha=1/2 actually flattens the source mix") {
    val rows = q("llm_sample_temperature").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // budget respected and selection exact: n_selected = min(target, n)
    assert(rows.map(_._4).sum <= 1000L)
    rows.foreach { case (s, n, _, t, sel, _) =>
      assert(sel === math.min(t, n), s"source $s selected $sel of target $t")
    }
    // the sampler's point: the smallest source gets a LARGER sampling
    // rate (target/n) than the largest — the alpha<1 flattening
    val smallest = rows.minBy(_._2)
    val largest = rows.maxBy(_._2)
    if (smallest._2 < largest._2) {
      val rs = smallest._4.toDouble / smallest._2
      val rl = largest._4.toDouble / largest._2
      assert(rs >= rl,
        s"smallest source rate $rs < largest source rate $rl — not flattened")
    }
  }

  test("llm_ann_ivfpq: refined recall beats the plain-IVF row, ranking is exact") {
    val rows = q("llm_ann_ivfpq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4)))
    assert(rows.length === 10)
    // the output is the exact re-rank of the ADC shortlist: true_d2 must
    // be non-decreasing down the rows (approx_d2 need not be)
    val t = rows.map(_._4)
    assert(t.zip(t.tail).forall { case (a, b) => a <= b },
      s"re-ranked true_d2 not sorted: ${t.toSeq}")
    // nprobe=2: candidates come from at most 2 coarse cells
    assert(rows.map(_._2).distinct.length <= 2)
    // the judge's composed-index bar: recall(ivfpq, k=10) >= the plain
    // nprobe=1 IVF row's recall@5 on the same corpus
    val recallIvfPq = rows.map(_._5).sum.toDouble / 10.0
    val recallIvf = q("llm_ann_recall").collect().head.getDouble(2)
    assert(recallIvfPq >= recallIvf,
      s"IVFPQ recall $recallIvfPq < plain-IVF recall $recallIvf")
  }
}
