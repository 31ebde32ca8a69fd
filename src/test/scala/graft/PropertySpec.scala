package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import org.apache.spark.sql.functions._

import graft.expr.{StableHash64, TopKAgg}

/** ScalaCheck property layer (SURVEY.md §5.3): algebraic invariants of the
  * engine's primitives over generated inputs. Spark-touching properties cap
  * minSuccessful low (each case runs real jobs); pure-JVM properties run the
  * full default 100.
  */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val token: Gen[String] = Gen.choose(1, 8).flatMap(n =>
    Gen.stringOfN(n, Gen.alphaLowerChar))
  private val text: Gen[String] = Gen.choose(0, 12).flatMap(n =>
    Gen.listOfN(n, token).map(_.mkString(" ")))

  // --- pure JVM: full 100 cases ---

  property("stable_hash64 equals the documented FNV-1a fold (pure)") =
    Prop.forAllNoShrink(Gen.asciiPrintableStr) { s =>
      val ref = s.getBytes("UTF-8").foldLeft(0xcbf29ce484222325L)((h, b) =>
        (h ^ (b & 0xffL)) * 0x100000001b3L)
      StableHash64.hash(s.getBytes("UTF-8")) == ref
    }

  property("TopKAgg: reduce/merge in any split order equals global sort-take") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(-1e6, 1e6), Gen.chooseNum(0L, 1000L))),
      Gen.chooseNum(0, 10)) { (xs, cut) =>
      val agg = new TopKAgg(3)
      val (l, r) = xs.splitAt(math.min(cut, xs.length))
      val viaAgg = agg.finish(agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce)))
      val expected = xs.sortBy { case (s, id) => (-s, id) }.take(3)
      viaAgg == expected
    }

  // --- Spark-backed: 10 cases each ---

  property("exact dedup is idempotent and keeps one row per normalized text") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0L, 50L), text))) { rows =>
      rows.isEmpty || {
        def dedup(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(sha2(lower(trim($"text")), 256).as("h"))
            .agg(min($"id").as("id"), first(lower(trim($"text"))).as("text"))
            .select($"id", $"text")
        val df = rows.toDF("id", "text")
        val once = dedup(df)
        val twice = dedup(once)
        once.count() == rows.map(r => r._2.trim.toLowerCase).distinct.size &&
          twice.count() == once.count()
      }
    }

  property("float_dot is symmetric and self-cosine is 1") =
    forAll(Gen.listOfN(8, Gen.chooseNum(-10f, 10f))) { v =>
      v.exists(math.abs(_) > 1e-3) ==> {
        val df = Seq((v, v)).toDF("a", "b")
        val r = df.select(
          graft.expr.FloatVec.floatDot($"a", $"b").as("ab"),
          graft.expr.FloatVec.floatDot($"b", $"a").as("ba"),
          graft.expr.FloatVec.floatCosine($"a", $"a").as("self")).head()
        r.getDouble(0) == r.getDouble(1) && math.abs(r.getDouble(2) - 1.0) < 1e-9
      }
    }

  property("intersect + except partition the left multiset-distinct") =
    forAll(Gen.listOf(Gen.chooseNum(0L, 30L)), Gen.listOf(Gen.chooseNum(0L, 30L))) {
      (a, b) =>
        a.nonEmpty ==> {
          val da = a.toDF("x")
          val db = b.toDF("x")
          val inter = da.intersect(db).count()
          val exc = da.except(db).count()
          inter + exc == a.distinct.size
        }
    }

  property("running window sum equals per-key prefix sums") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(-100L, 100L)))) { rows =>
      rows.nonEmpty ==> {
        val indexed = rows.zipWithIndex.map { case ((k, v), i) => (k, i.toLong, v) }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"k").orderBy($"i")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val got = indexed.toDF("k", "i", "v")
          .withColumn("rs", sum($"v").over(w))
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
        val expected = indexed.groupBy(_._1).flatMap { case (k, rs) =>
          rs.sortBy(_._2).scanLeft((k, -1L, 0L)) { case ((_, _, acc), (_, i, v)) =>
            (k, i, acc + v)
          }.drop(1).map { case (k2, i, acc) => (k2, i) -> acc }
        }
        got == expected
      }
    }

  property("connected components: labels are fixpoint and equal min reachable id") =
    forAll(Gen.chooseNum(2, 8), Gen.listOf(Gen.zip(Gen.chooseNum(0L, 7L), Gen.chooseNum(0L, 7L)))) {
      (n, edgesRaw) =>
        val vertices = (0L until n.toLong).toList
        val edges = edgesRaw.map { case (a, b) => (a % n, b % n) }.filter(e => e._1 != e._2)
        // brute-force union-find
        val parent = scala.collection.mutable.Map(vertices.map(v => v -> v): _*)
        def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = vertices.map(v => v -> {
          // min id in the component
          val root = find(v)
          vertices.filter(u => find(u) == root).min
        }).toMap
        val got = graph.GraphBridge.connectedComponents(
          spark, vertices.toDF("id"), edges.toDF("a", "b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == expected
    }

  property("DataFrame CC equals GraphX CC on random graphs") =
    forAll(Gen.chooseNum(2, 8), Gen.listOf(Gen.zip(Gen.chooseNum(0L, 7L), Gen.chooseNum(0L, 7L)))) {
      (n, edgesRaw) =>
        val vertices = (0L until n.toLong).toList
        val edges = edgesRaw.map { case (a, b) => (a % n, b % n) }
          .filter(e => e._1 != e._2)
          .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
        val graphx = graph.GraphBridge.connectedComponents(
          spark, vertices.toDF("id"), edges.toDF("a", "b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val df = api.GraphAlgebra.connectedComponentsDf(
          vertices.toDF("part"), edges.toDF("a", "b"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        df == graphx
    }

  property("salted join equals the plain join for any salt count") =
    forAll(Gen.chooseNum(2, 16),
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, 3L), Gen.chooseNum(0L, 100L)))) {
      (salts, rows) =>
        val probe = rows.toDF("k", "v")
        val build = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("k", "tag")
        val salted = api.Skew.saltedJoin(probe, build, "k", salts)
          .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
        val plain = probe.join(build, "k")
          .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
        salted == plain
    }

  property("SortedMapDot is commutative and matches a reference fold") =
    forAll(Gen.listOf(Gen.zip(Gen.stringOfN(1, Gen.alphaLowerChar), Gen.chooseNum(1L, 50L))),
      Gen.listOf(Gen.zip(Gen.stringOfN(1, Gen.alphaLowerChar), Gen.chooseNum(1L, 50L)))) {
      (m1raw, m2raw) =>
        val m1 = m1raw.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        val m2 = m2raw.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
        val expected = m1.map { case (k, v) => v * m2.getOrElse(k, 0L) }.sum
        val df = Seq((m1.toSeq.sortBy(_._1), m2.toSeq.sortBy(_._1))).toDF("a", "b")
        val ab = df.select(graft.expr.MapDot.sortedMapDot(col("a"), col("b"))).head().getLong(0)
        val ba = df.select(graft.expr.MapDot.sortedMapDot(col("b"), col("a"))).head().getLong(0)
        ab == expected && ba == expected
    }

  property("banded range join equals brute force for random windows and values") =
    forAll(
      Gen.nonEmptyListOf(Gen.chooseNum(-5000L, 5000L)),
      Gen.chooseNum(-2000L, 2000L), Gen.chooseNum(2L, 3000L)) { (ts, lo, width) =>
      val hi = lo + width
      graft.plans.BandRangeJoin.install(spark)
      val l = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id1", "t1")
      val r = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id2", "t2")
      // t2 - t1 ∈ [lo, hi] with strict/inclusive mix exercised by the data
      val joined = l.join(r, col("t2") >= col("t1") + lit(lo) && col("t2") <= col("t1") + lit(hi))
        .select(col("id1"), col("id2"))
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val brute = (for {
        (t1, i1) <- ts.zipWithIndex
        (t2, i2) <- ts.zipWithIndex
        if t2 >= t1 + lo && t2 <= t1 + hi
      } yield (i1.toLong, i2.toLong)).toSet
      joined == brute
    }

  property("pround4 on integer quotients equals the IEEE double fold, half boundaries included") =
    forAll(Gen.chooseNum(1L, 80L), Gen.chooseNum(0L, 80L), Gen.chooseNum(0L, 80L)) {
      (common, extra1, extra2) =>
        // (common, denom) has the llm_dedup_minhash verification-Jaccard shape:
        // j = common / (n1 + n2 - common) with n1, n2 >= common. The fixed pair
        // 2469/20000 = 0.12345 scales to exactly 1234.5 — the half boundary
        // where plain round(x, 4) divides Spark from DuckDB.
        val denom = common + extra1 + extra2
        val cases = Seq((common, denom), (2469L, 20000L), (1L, 20000L), (3L, 40000L))
        val got = cases.toDF("a", "b")
          .select(ops.LlmOps.pround4(col("a").cast("double") / col("b")).as("p"))
          .collect().map(_.getDouble(0)).toSeq
        val expected = cases.map { case (a, b) =>
          math.floor(a.toDouble / b * 10000.0 + 0.5) / 10000.0
        }
        got == expected
    }

  property("packChunks: per-group offsets are gapless and chunk = off div C") =
    forAll(Gen.chooseNum(8, 64),
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0, 2), text))) { (c, docsRaw) =>
      val docs = docsRaw.zipWithIndex.map { case ((g, t), i) => (s"g$g", i.toLong, t) }
        .toDF("source", "doc_id", "text")
      val packed = api.TextPipeline.packChunks(
          docs, col("source"), col("doc_id"), col("text"), c)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      packed.groupBy(_._1).forall { case (_, rows) =>
        val sorted = rows.sortBy(_._2)
        var off = 0L
        sorted.forall { case (_, _, nTok, startOff, chunk) =>
          val ok = startOff == off && chunk == off / c
          off += nTok
          ok
        }
      }
    }

  property("winnowing guarantee: docs sharing a >= k+w-1-token substring share a fingerprint") =
    forAll(
      Gen.choose(0, 8).flatMap(Gen.listOfN(_, token)),
      Gen.choose(6, 10).flatMap(Gen.listOfN(_, token)), // >= k+w-1 = 6 shared tokens
      Gen.choose(0, 8).flatMap(Gen.listOfN(_, token)),
      Gen.choose(0, 8).flatMap(Gen.listOfN(_, token)),
      Gen.choose(0, 8).flatMap(Gen.listOfN(_, token))) { (pa, shared, sa, pb, sb) =>
      val docs = Seq(
        (1L, (pa ++ shared ++ sa).mkString(" ")),
        (2L, (pb ++ shared ++ sb).mkString(" "))).toDF("id", "text")
      val fps = graft.api.TextPipeline.winnowing(docs, $"id", $"text").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      // a window of w consecutive k-gram hashes lies entirely inside the
      // shared run in BOTH docs; its min is selected in both
      fps.getOrElse(1L, Set.empty).intersect(fps.getOrElse(2L, Set.empty)).nonEmpty
    }

  property("sessionizeCore equals a sequential fold over each user's timeline") =
    forAll(Gen.listOf(Gen.zip(Gen.chooseNum(0L, 2L), Gen.chooseNum(0L, 4L * 3600000L)))) {
      events =>
        events.nonEmpty ==> {
          // unique event ids make the (tms, event_id) order total on both sides
          val rows = events.zipWithIndex.map { case ((u, t), i) => (u, t, i.toLong) }
          val got = graft.ops.Relational
            .sessionizeCore(rows.toDF("user_id", "tms", "event_id"))
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
            .toSet
          // reference: plain fold over the sorted timeline per user
          val expect = rows.groupBy(_._1).flatMap { case (u, es) =>
            val sorted = es.sortBy(e => (e._2, e._3))
            val sessions = sorted.tail.foldLeft(List(List(sorted.head))) { (acc, e) =>
              if (e._2 - acc.head.head._2 > 1800000L) List(e) :: acc
              else (e :: acc.head) :: acc.tail
            }.reverse
            sessions.zipWithIndex.map { case (s, i) =>
              val ts = s.map(_._2)
              (u, i + 1L, s.length.toLong, ts.min, ts.max - ts.min)
            }
          }.toSet
          got == expect
        }
    }

  property("skyline sweep (candidate reduction + rows-frame) equals brute-force dominance") = {
    import org.apache.spark.sql.expressions.Window
    // tiny value ranges on purpose: duplicates and exact ties are the
    // adversarial cases for the sweep's frame semantics
    forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(1, 20), Gen.chooseNum(1L, 20L)))) { pts0 =>
      val pts = pts0.map { case (p, d) => (p.toDouble, d) }
      val g = pts.toDF("price", "day")
        .groupBy($"price", $"day").agg(count(lit(1)).as("n"))
      val cand = g
        .withColumn("mind", min($"day").over(Window.partitionBy($"price")))
        .filter($"day" === $"mind").drop("mind")
      val sweep = Window.orderBy($"price".desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val sky = cand.withColumn("mp", min($"day").over(sweep))
        .filter($"mp".isNull || $"day" < $"mp")
        .select($"price", $"day").collect()
        .map(r => (r.getDouble(0), r.getLong(1))).toSet
      val set = pts.toSet
      val exp = set.filter(p =>
        !set.exists(o => o != p && o._1 >= p._1 && o._2 <= p._2))
      sky == exp
    }
  }

  property("holt struct-accumulator fold equals the JVM recurrence bitwise") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-100.0, 100.0))) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("d", "v")
      val r = df
        .agg(sort_array(collect_list(struct($"d", $"v"))).as("fr"))
        .withColumn("vs", expr("transform(fr, x -> x.v)"))
        .withColumn("st", expr(
          "aggregate(slice(vs, 2, size(vs) - 1)," +
            " named_struct('l', element_at(vs, 1), 't', cast(0.0 as double))," +
            " (acc, e) -> named_struct(" +
            "'l', 0.5 * e + 0.5 * (acc.l + acc.t)," +
            "'t', 0.5 * ((0.5 * e + 0.5 * (acc.l + acc.t)) - acc.l)" +
            " + 0.5 * acc.t))"))
        .select($"st.l", $"st.t").collect().head
      var l = vs.head; var t = 0.0
      vs.tail.foreach { e =>
        val lNew = 0.5 * e + 0.5 * (l + t)
        t = 0.5 * ((0.5 * e + 0.5 * (l + t)) - l) + 0.5 * t
        l = lNew
      }
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(l) &&
      java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(t)
    }

  property("DistScan prefix sum/max/min equals in-JVM exclusive scan") =
    forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(-1000L, 1000L),
        Gen.chooseNum(-50L, 50L))),
      Gen.oneOf("sum", "max", "min")) { (xs0, kind) =>
      // unique composite order key (k, i) — the helper's total-order contract
      val xs = xs0.zipWithIndex.map { case ((k, v), i) => (k, i.toLong, v) }
      val df = xs.toDF("k", "i", "x")
      val got = api.DistScan
        .withPrefixAgg(df, "p", $"x", kind, $"k", $"i")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> Option(r.get(3))).toMap
      var acc = Option.empty[Long]
      val want = xs.sortBy(t => (t._1, t._2)).map { t =>
        val out = (t._1, t._2) -> acc
        acc = Some(kind match {
          case "sum" => acc.getOrElse(0L) + t._3
          case "max" => math.max(acc.getOrElse(Long.MinValue), t._3)
          case _     => math.min(acc.getOrElse(Long.MaxValue), t._3)
        })
        out
      }.toMap
      got == want
    }

  property("DistScan.withGlobalRank equals the sort index") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-1000L, 1000L))) { ks =>
      val xs = ks.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      val df = xs.toDF("k", "i")
      val got = api.DistScan.withGlobalRank(df, "r", $"k", $"i")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = xs.sortBy(identity).zipWithIndex
        .map { case (t, i) => t -> (i + 1L) }.toMap
      got == want
    }
}
