package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (one JVM-wide SparkContext). */
object SparkSpecBase {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.configure(
      SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.spark
  lazy val sf: String = "/root/testdata/sf0.001"
  def tables: graft.core.Tables = graft.core.Tables(spark, sf)

  /** Spark jobs started while `f` runs. Listener events arrive
    * asynchronously but in order, so the count runs between two marker
    * jobs: once the closing marker is seen, every job `f` started has
    * been seen too, and no earlier job leaks in. */
  def jobsStarted(f: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val started = new java.util.concurrent.atomic.AtomicInteger
    val markers = new java.util.concurrent.CountDownLatch(2)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == id))
          markers.countDown()
        else if (markers.getCount == 1) started.incrementAndGet()
    }
    def marker(): Unit = {
      sc.setJobGroup(id, "jobsStarted marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(l)
    try {
      marker(); f; marker()
      assert(markers.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener never saw the marker jobs")
      started.get
    } finally sc.removeSparkListener(l)
  }
}
