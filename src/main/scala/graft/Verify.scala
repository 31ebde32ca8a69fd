package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Robustness contract (round 14 — CORRECTNESS_r13.json came back `{}`):
  *  - `oracle_sql.json` is written FIRST, before any query runs, so even a
  *    time-capped/killed run leaves the full oracle map on disk.
  *  - Per-key results stream to `verify_keys.jsonl` (one line per key,
  *    appended + flushed as each dump lands) — a truncated run is
  *    diagnosable key-by-key instead of all-or-nothing.
  *  - Dumps run on a small THREAD POOL (default 8, SPARK_GRAFT_VERIFY_THREADS
  *    to override). Each worker gets its own `spark.newSession()` — shared
  *    SparkContext, isolated SQLConf — so no worker's session state can
  *    reach a sibling's planning. Results are unaffected by concurrency:
  *    every declared op is deterministic under the hash-match discipline
  *    (order-independent accumulation + total-order final sort).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated key filter for fast local iteration
    // (the driver always calls with exactly two args → full surface)
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, c) => (a, b, Some(c.split(",").toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val progress = Paths.get(s"$outDir/verify_keys.jsonl")
    Files.deleteIfExists(progress)
    def emit(line: String): Unit = this.synchronized {
      Files.writeString(progress, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    val keys = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.sortBy(_._1)
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]()
    keys.foreach(queue.add)
    val nThreads = math.max(1, math.min(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "8").toInt, keys.size))
    val failed = new java.util.concurrent.atomic.AtomicInteger(0)
    val workers = (1 to nThreads).map { _ =>
      new Thread(() => {
        val session = spark.newSession()
        var next = queue.poll()
        while (next != null) {
          val (name, fn) = next
          val t0 = System.nanoTime()
          try {
            fn(session, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            emit(s"""{"key": ${q(name)}, "ok": true, "ms": ${(System.nanoTime() - t0) / 1000000}}""")
          } catch { case e: Throwable =>
            failed.incrementAndGet()
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            emit(s"""{"key": ${q(name)}, "ok": false, "error": ${q(String.valueOf(e.getMessage).take(300))}}""")
          }
          next = queue.poll()
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"),
      s"""{"keys": ${keys.size}, "failed": ${failed.get()}}""")
    spark.stop()
  }
}
