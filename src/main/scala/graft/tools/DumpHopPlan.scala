package graft.tools

import org.apache.spark.sql.SparkSession

import graft.api.GraphAlgebra

/** Dev utility: explain ONE hop of the shared frontier loop's DataFrame
  * regime (`GraphAlgebra.frontierHop`, behind bfsHops, multiBfsHops and
  * reachClosure when the vertex set is above the broadcast gate; below it
  * a hop is a CSR kernel job with no query plan). The loop's per-hop
  * subplan is hidden behind checkpoint leaves in the final query plan, so
  * this dumps the first hop of the 8-landmark pass in isolation: the
  * vertex-keyed bit_or aggregate and the first-reach mask projection.
  *
  * Run: `sbt 'runMain graft.tools.DumpHopPlan <sf-dir>'`.
  */
object DumpHopPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .getOrElse(sys.error("usage: DumpHopPlan <sf-dir>"))
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("ERROR")
    import graft.api.Ckpt._
    val cp = graft.ops.GraphOps.copurchase(spark, sfDir).select($"a", $"b")
    val adj = cp.unionAll(cp.select($"b".as("a"), $"a".as("b"))).cp()
    val lm = graft.Tables.part(spark, sfDir)
      .orderBy($"p_partkey").limit(8).select($"p_partkey".as("src"))
      .collect().map(_.getLong(0)).toSeq
    // hop 0 of a pass: frontier and visited are the same seed frame
    val seed = lm.zipWithIndex.map { case (s, i) => (s, 1L << i) }
      .toDF("id", "mask").cp()
    println("===== one frontier hop (expansion + first-reach) =====")
    GraphAlgebra.frontierHop(adj, seed, lm.size, seed, lm.size,
      GraphAlgebra.BroadcastMaxRows).explain("formatted")
    spark.stop()
  }
}
