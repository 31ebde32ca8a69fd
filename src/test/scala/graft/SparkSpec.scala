package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test base: one local SparkSession per suite, UTC, small shuffle
  * partitioning to match the harness posture (Verify/Bench run local[4]).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** The job-start properties and submitted stages of every Spark job
    * `body` runs. The listener bus is asynchronous, so a marker job run
    * after `body` drains it: its start event follows all of body's events.
    */
  def sparkEventsDuring(body: => Unit): (Seq[java.util.Properties], Seq[StageInfo]) = {
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.marker") == marker)
          drained.countDown()
        else if (drained.getCount > 0)
          jobs.add(Option(e.properties).getOrElse(new java.util.Properties))
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (drained.getCount > 0) stages.add(e.stageInfo)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.test.marker", marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus not drained")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (jobs.asScala.toSeq, stages.asScala.toSeq)
  }
}

object SparkSpec {
  // One session for the whole JVM test run (suites run in one forked JVM).
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
