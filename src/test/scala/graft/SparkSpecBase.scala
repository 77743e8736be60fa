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

  /** Spark jobs started while `f` runs ([[QueryProfile.measure]]). */
  def jobsStarted(f: => Any): Int = QueryProfile.measure(spark)(f)._2.jobs
}
