package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, avg, col, desc, stddev, struct, sum, udf}

/** Self-tests of the harness's own measuring parts. Runs as a plain main:
  * `python3 perfbench/run.py --self-test`; exits 1 on the first failure.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(body: => Unit): Unit = {
    try { body; println(s"PASS $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }
  }

  def main(args: Array[String]): Unit = {
    val data = args.headOption.getOrElse("perfbench/data/sf0.1")
    val spark = Main.newSpark(4)
    import spark.implicits._

    check("the timed action evaluates every column; count() does not") {
      val n = 1000L
      val seen = spark.sparkContext.longAccumulator("udf-rows")
      val touch = udf { (x: Long) => seen.add(1); x * 3 }
      def frame: DataFrame = spark.range(n).withColumn("t", touch(col("id")))
      Fingerprint.of(frame)
      assert(seen.value == n, s"digest evaluated the UDF ${seen.value} times, want $n")
      seen.reset()
      assert(frame.count() == n)
      assert(seen.value == 0, s"count() evaluated the UDF ${seen.value} times, want 0")
    }

    check("the digest does not depend on row order or partition count") {
      val df = spark.range(5000).select(($"id" % 37).as("k"), ($"id" * 2.5).as("v"),
        ($"id" % 11).cast("string").as("s"))
      val base = Fingerprint.of(df.repartition(1))
      assert(Fingerprint.of(df.repartition(7).orderBy(desc("v"))) == base)
      assert(Fingerprint.of(df.coalesce(3).orderBy("s", "k")) == base)
      assert(base.rows == 5000)
      assert(Fingerprint.of(df.limit(4999)) != base, "a dropped row must change the digest")
      assert(Fingerprint.of(df.withColumn("v", $"v" + 1)) != base,
        "a changed value must change the digest")
    }

    check("a float aggregate digests the same over any partition count") {
      val rnd = new scala.util.Random(3)
      val xs = Seq.fill(20000)((rnd.nextInt(5), rnd.nextDouble() * 1000, rnd.nextFloat()))
        .toDF("k", "x", "f")
      def agg(parts: Int): DataFrame = xs.repartition(parts).groupBy("k").agg(
        sum("x").as("s"), stddev("x").as("sd"), sum("f").cast("float").as("sf"),
        array(sum("x"), avg("x")).as("arr"), struct(avg("x").as("m")).as("st"))
      val bits = Seq(1, 7).map(p => agg(p).orderBy("k").collect().map(_.getDouble(1)).toSeq)
      assert(bits(0) != bits(1), "the sums must differ in their last bits for this to test")
      val base = Fingerprint.of(agg(1))
      assert(Fingerprint.of(agg(7)) == base, "the digest follows the partition count")
      assert(Fingerprint.of(agg(7).withColumn("s", $"s" * (1 + 1e-7))) != base,
        "a changed float value must change the digest")
    }

    check("a throwing key is counted as failed and never timed") {
      val out = Files.createTempDirectory("perfbench-selftest")
      val registry: Map[String, Main.Query] = Map(
        "boom" -> ((_, _) => throw new IllegalStateException("deliberate")),
        "fine" -> ((s, _) => s.range(10).toDF()))
      val o = Main.Opts(Seq("boom", "fine"), 7L, 2, trace = false, data, out, 4, warm = false)
      val w = new Main.Workload(o, registry, spark, data)
      w.run(o.passes, None)
      val calls = w.calls.toSeq
      assert(calls.size == 4, s"two whole passes make every call twice: $calls")
      val boom = calls.filter(_.contains("\"key\":\"boom\""))
      assert(boom.size == 2 && boom.forall(_.contains("\"ok\":false")), boom)
      assert(boom.head.contains("\"error\":\"IllegalStateException\""), boom)
      assert(!boom.head.contains("\"ms\""), s"a failed call carries a time: $boom")
      assert(calls.exists(c => c.contains("\"key\":\"fine\"") && c.contains("\"ms\"")))
      Files.delete(out)
    }

    check("a Ckpt.cp() call is attributed to Ckpt.scala under the open phase") {
      val sc = spark.sparkContext
      val listener = new LayerListener
      val tracer = new Tracer(sc)
      sc.addSparkListener(listener)
      val q = tracer.open(-1L, "query", "cp")
      var phaseId = -1L
      tracer.phase(q, "ops.build") {
        phaseId = java.lang.Long.parseLong(sc.getLocalProperty(Tracer.SpanProp))
        import graft.api.Ckpt._
        graft.Tables.region(spark, data).cp()
      }
      tracer.close(q, None)
      LayerListener.drain(sc)
      sc.removeSparkListener(listener)
      val ckpt = listener.jobs.values.filter(_.site == "Ckpt.scala").toSeq
      assert(ckpt.nonEmpty, s"no Ckpt.scala job among ${listener.jobs.values.map(_.site)}")
      assert(ckpt.forall(_.span == phaseId), "the Ckpt job is not parented by ops.build")
    }

    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
