package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.row_number

/** Closed-loop driver for one workload. Every call runs a registry key from
  * the outside, `fn(session, dir)`, and is timed until its last row went
  * through [[Fingerprint.of]]. It writes raw records to `--out`; the Python
  * front end turns them into metrics and checks the digests against pins.
  *
  * {{{
  * perfbench.Main --keys k1,k2 --seed 7 --passes 2 --trace 0
  *   --data perfbench/data/sf0.1 --out <dir> [--cores 4] [--warm 1]
  *   [--warm-keys k1,k2]
  * }}}
  */
object Main {
  type Query = (SparkSession, String) => DataFrame

  final case class Opts(keys: Seq[String], seed: Long, passes: Int, trace: Boolean,
                        data: String, out: Path, cores: Int, warm: Boolean,
                        warmKeys: Seq[String] = Nil)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    Opts(list("keys"), m("seed").toLong, m.getOrElse("passes", "1").toInt,
      m.getOrElse("trace", "0") == "1", m("data"), Paths.get(m("out")),
      m.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt,
      m.getOrElse("warm", "1") == "1", list("warm-keys"))
  }

  def newSpark(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Generic warm-up, the same for every workload, so the first timed call
    * does not pay class loading and code generation for the common
    * machinery: a scan, a shuffle aggregate, a join and a window.
    */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    spark.range(1000).count()
    val li = graft.Tables.lineitem(spark, dir)
    Fingerprint.of(li.groupBy($"l_returnflag").count()
      .join(li.limit(1).select($"l_returnflag"), Seq("l_returnflag"), "left"))
    Fingerprint.of(graft.Tables.orders(spark, dir).withColumn("r",
      row_number().over(Window.partitionBy($"o_custkey").orderBy($"o_orderdate"))))
  }

  /** Error class of a failed call: the Spark error condition when there is one. */
  def condition(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }.getOrElse(t.getClass.getSimpleName)

  /** Heap the program keeps alive: bytes in use after a full GC. Spark frees
    * the blocks of unreachable RDDs (cached or checkpointed) asynchronously,
    * once a GC has found them, so this collects again until the figure stops
    * falling.
    */
  def liveHeapBytes(): Long = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = used()
    var rounds = 1
    var next = { Thread.sleep(200); used() }
    while (next < last * 0.99 && rounds < 10) {
      last = next
      rounds += 1
      next = { Thread.sleep(200); used() }
    }
    math.min(last, next)
  }

  /** One client in a closed loop over its own `spark.newSession()`: it sends
    * its next call only when the previous one returned.
    */
  final class Workload(o: Opts, registry: Map[String, Query], spark: SparkSession,
                       dir: String) {
    val calls = ArrayBuffer[String]()
    val passes = ArrayBuffer[String]()
    /** The largest [[liveHeapBytes]] seen after a pass. */
    var liveHeapPeak = 0L
    private val session = spark.newSession()
    private val keyIndex = o.keys.sorted.zipWithIndex.toMap
    private var passNo = 0

    /** One call: never timed when it throws (only NonFatal is caught). */
    def call(pass: Int, key: String, tracer: Option[Tracer]): Unit = {
      val fn = registry(key)
      val start = Clock.nowMs
      val q = tracer.map(_.open(-1L, "query", key))
      var ok = false
      def rec(fields: (String, Any)*): Unit = calls += Json.obj(Seq[(String, Any)](
        "pass" -> pass, "key" -> key, "traced" -> tracer.isDefined,
        "span" -> q.map(_.id).getOrElse(-1L)) ++ fields: _*)
      try {
        val d = (tracer, q) match {
          case (Some(t), Some(span)) =>
            val df = t.phase(span, "ops.build")(fn(session, dir))
            t.phase(span, "catalyst.plan")(df.queryExecution.executedPlan)
            val digest = t.phase(span, "exec.action")(Fingerprint.of(df))
            val phases = df.queryExecution.tracker.phases
            Seq("analysis" -> QueryPlanningTracker.ANALYSIS,
              "optimization" -> QueryPlanningTracker.OPTIMIZATION,
              "planning" -> QueryPlanningTracker.PLANNING).foreach { case (n, p) =>
              span.attrs(s"catalyst_${n}_ms") = phases.get(p).map(_.durationMs).getOrElse(0L)
            }
            digest
          case _ => Fingerprint.of(fn(session, dir))
        }
        val end = Clock.nowMs
        ok = true
        rec("ok" -> true, "start_ms" -> start, "end_ms" -> end, "ms" -> (end - start),
          "rows" -> d.rows, "digest" -> d.hex)
      } catch {
        case NonFatal(e) =>
          rec("ok" -> false, "start_ms" -> start, "end_ms" -> Clock.nowMs,
            "error" -> condition(e), "error_type" -> e.getClass.getName,
            "message" -> String.valueOf(e.getMessage).take(300))
      } finally {
        for (t <- tracer; span <- q) {
          span.attrs("ok") = ok
          t.close(span, None)
        }
      }
    }

    /** `count` whole closed-loop passes. A pass calls every key once, in an
      * order drawn from the seed, so a run's calls (and so its failures) do
      * not depend on how fast they go. With a tracer, every other key is
      * traced and the other half in the next pass, so over a pair of passes
      * each key runs once traced and once not.
      */
    def run(count: Int, tracer: Option[Tracer]): Unit =
      for (_ <- 1 to count) {
        val p = passNo
        val order = new scala.util.Random(o.seed * 1000003L + p).shuffle(o.keys.sorted)
        val start = Clock.nowMs
        order.foreach(key => call(p, key, tracer.filter(_ => (keyIndex(key) + p) % 2 == 1)))
        val end = Clock.nowMs
        passes += Json.obj("pass" -> p, "start_ms" -> start, "end_ms" -> end, "order" -> order)
        liveHeapPeak = math.max(liveHeapPeak, liveHeapBytes())
        passNo += 1
      }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val registry = graft.SparkEntry.queries
    val unknown = (o.keys ++ o.warmKeys).filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")
    Files.createDirectories(o.out)

    // Set-up: the SparkContext and the generic warm-up, on a cold JVM
    val dir = o.data
    var spark: SparkSession = null
    val setupMs = timeMs {
      spark = newSpark(o.cores)
      warmUp(spark, dir)
    }
    System.err.println(f"[perfbench] set-up: ${setupMs / 1000}%.3f s")

    // JIT warm pass: the warm keys (default: all) once each, untimed and
    // outside setup_s, so the timed passes do not start on cold code paths
    if (o.warm) {
      val warm = o.copy(keys = if (o.warmKeys.nonEmpty) o.warmKeys else o.keys)
      val t = timeMs(new Workload(warm, registry, spark, dir).run(1, None))
      System.err.println(f"[perfbench] warm pass: ${t / 1000}%.3f s")
    }
    val w = new Workload(o, registry, spark, dir)
    val layers = ArrayBuffer[(String, Any)]()
    if (!o.trace) w.run(o.passes, None)
    else {
      // traced and untraced calls alternate within each pass (see
      // Workload.run), so both sides see the same warmth; only traced calls
      // record spans, and the listener ignores jobs outside a span
      val sc = spark.sparkContext
      val listener = new LayerListener
      val tracer = new Tracer(sc)
      sc.addSparkListener(listener)
      w.run(o.passes, Some(tracer))
      LayerListener.drain(sc)
      sc.removeSparkListener(listener)
      val lines = tracer.spans.asScala.iterator.map(_.json) ++ listener.jobLines ++
        listener.stageLines
      Files.write(o.out.resolve("trace.jsonl"), lines.toSeq.asJava)

      // per-fixture table resolution, and the co-purchase base materialized
      // on its own, each the median of three
      val fixtures = Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
      val resolve = fixtures.map { f =>
        f -> median((1 to 3).map(_ => timeMs {
          if (f == "events") graft.Tables.events(spark, dir) else graft.Tables.t(spark, dir, f)
        }))
      }
      layers += "tables_resolve_ms" -> resolve.map(_._2)
      layers += "tables_fixtures" -> resolve.map(_._1)
      layers += "copurchase_ms" -> (1 to 3).map(_ => timeMs {
        Fingerprint.of(graft.ops.GraphOps.copurchase(spark, dir))
      })
    }

    Files.write(o.out.resolve("calls.jsonl"), w.calls.asJava)
    Files.write(o.out.resolve("passes.jsonl"), w.passes.asJava)
    val summary = Seq[(String, Any)]("setup_ms" -> setupMs, "cores" -> o.cores,
      "live_heap_bytes" -> w.liveHeapPeak) ++ layers
    Files.writeString(o.out.resolve("summary.json"), Json.obj(summary: _*))
    spark.stop()
  }
}
