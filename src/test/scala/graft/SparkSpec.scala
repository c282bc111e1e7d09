package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (SURVEY §5.2 tier 3). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** (jobs, stages) that `f` runs, counted by a SparkListener. */
  def jobsAndStages(f: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler._
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.graft.ListenerDrain(sc) }
    finally sc.removeSparkListener(listener)
    (jobs.get, stages.get)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", "/root/repo/target/spark-warehouse")
      // the cluster-deployment extensions are ON in tests so the suite
      // exercises exactly what a production session gets (incl. the
      // MERGE INTO rewrite, which only binds at session build)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
