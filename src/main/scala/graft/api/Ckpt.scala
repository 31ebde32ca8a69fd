package graft.api

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for the iterative family (PageRank/HITS/eigen/CC/
  * k-core/SSSP loops and the multi-consumer frames of the pair ops).
  *
  * Default is `localCheckpoint()`: eager, no configuration, and the right
  * cost model on the local harness — but it pins RDD blocks to the
  * executors that computed them, so a lost executor loses the lineage-
  * truncated state with no way to recompute it. That is the wrong
  * durability story for a multi-hour 100 TB cluster run. Setting
  * `-Dgraft.checkpoint.dir=<hdfs-or-dfs-path>` switches every call site to
  * RELIABLE `checkpoint()` into that directory (the SparkContext checkpoint
  * dir is initialized lazily from the property on first use): executor loss
  * then costs a re-read from the DFS, not a job failure. Results are
  * bit-identical on either path — both truncate lineage; only the storage
  * contract changes (ApiSpec pins one iterative op across the two paths).
  *
  * Besides `cp()`, every materialization here is [[materialize]]: ONE job
  * that checkpoints an RDD and returns a small result per partition — a
  * frame's row count for [[cpCounted]], the CSR kernel's block shapes. A
  * declared partitioning comes only from the explicit `repartition(n,
  * keys)` under [[cpCounted]]'s rows; no session conf is written.
  */
object Ckpt {

  /** Reliable-checkpoint directory, if the deployment set one.
    *
    * Cleanup contract: `SparkContext.setCheckpointDir` creates a fresh
    * UUID subdirectory under this path per JVM, and checkpointed data
    * accumulates there for the life of the application. A long-running
    * deployment should either enable
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (best-effort
    * GC-driven deletion) or sweep the directory between runs.
    */
  def dir: Option[String] = sys.props.get("graft.checkpoint.dir")

  /** The `graft.checkpoint.dir` value this object last applied to the
    * SparkContext — lets [[CkptOps.cp]] notice when the context's dir was
    * set by someone else (a test, the deployment) or when the property
    * changed, instead of silently deferring to a stale dir.
    */
  @volatile private var appliedDir: Option[String] = None

  /** `df` checkpointed and counted by ONE [[materialize]] job over the
    * copied rows of its plan (adaptive execution runs the plan's shuffle
    * stages as jobs of their own first). With `keys`, `df` is first
    * repartitioned on them into `spark.sql.shuffle.partitions` partitions
    * — an explicit count, which adaptive execution never coalesces — and
    * the result declares that `HashPartitioning`
    * ([[GraftSqlBridge.materialized]]), so a loop step keyed on `keys`
    * runs exchange-free (ScaleSpec pins it).
    */
  def cpCounted(df: DataFrame, keys: Column*): (DataFrame, Long) = {
    val src = if (keys.isEmpty) df
      else df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, keys: _*)
    val rows = src.queryExecution.toRdd.map(_.copy())
    val n = materialize(rows)(_.size.toLong).sum
    (GraftSqlBridge.materialized(src, rows, n), n)
  }

  /** Whether `graft.checkpoint.dir` is set, applying it to `sc` first.
    * (Re-)applies whenever the configured dir is not the one THIS object
    * applied — a dir pre-set by a test or the deployment must not silently
    * override -Dgraft.checkpoint.dir. getCheckpointDir can't be compared
    * directly (setCheckpointDir appends a UUID subdir), hence the
    * appliedDir bookkeeping.
    */
  private def reliable(sc: SparkContext): Boolean = dir match {
    case Some(d) =>
      Ckpt.synchronized {
        if (!appliedDir.contains(d) || sc.getCheckpointDir.isEmpty) {
          sc.setCheckpointDir(d)
          appliedDir = Some(d)
        }
      }
      true
    case None => false
  }

  /** The RDD counterpart of [[CkptOps.cp]]: marks `rdd` for a local (or,
    * under `graft.checkpoint.dir`, a persisted reliable) checkpoint and
    * runs the ONE job that materializes it, returning `f` of each
    * partition — the build job of a loop's blocks doubles as the job that
    * reports their shape.
    */
  def materialize[T, U: ClassTag](rdd: RDD[T])(f: Iterator[T] => U): Array[U] = {
    if (reliable(rdd.sparkContext)) {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else rdd.localCheckpoint()
    rdd.sparkContext.runJob(rdd, f)
  }

  implicit class CkptOps(private val df: DataFrame) extends AnyVal {

    /** Eager lineage truncation: `localCheckpoint()` by default, reliable
      * `checkpoint()` under `-Dgraft.checkpoint.dir` (see [[Ckpt]]).
      */
    def cp(): DataFrame =
      if (reliable(df.sparkSession.sparkContext)) df.checkpoint()
      else df.localCheckpoint()
  }
}
