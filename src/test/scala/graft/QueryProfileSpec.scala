package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** [[QueryProfile.measure]]: scan-stage and shuffle attribution, the
  * streaming split from the shared listener bus, isolation between
  * consecutive measurements; and [[Fixtures.workDir]]'s shutdown
  * deletion. */
class QueryProfileSpec extends SparkSpec {

  test("a parquet count() makes one scan stage") {
    val orders = tables.orders
    val (n, p) = QueryProfile.measure(spark)(orders.count())
    assert(n > 0)
    assert(p.scanStages == 1, p)
    assert(p.jobs >= 1 && p.stages >= p.scanStages, p)
    assert(p.batches == 0, p)
  }

  test("a shuffled join of two parquet tables makes two scan stages and writes shuffle") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val t = graft.core.Tables(s, sf)
    val joined = t.orders.join(t.customer, col("o_custkey") === col("c_custkey"))
    val (_, p) = QueryProfile.measure(spark)(joined.count())
    assert(p.scanStages == 2, p)
    assert(p.shuffleWriteBytes > 0 && p.shuffleReadBytes > 0, p)
    assert(p.taskRunMs >= 0 && p.spillBytes >= 0, p)
  }

  test("an AvailableNow stream over 3 files, one per trigger, reports 3 batches") {
    val tmp = Fixtures.workDir("graft_qprofile_")
    (0 until 3).foreach(i => spark.range(i * 10, i * 10 + 10).toDF("k")
      .coalesce(1).write.mode("append").parquet(s"$tmp/src"))
    val schema = spark.read.parquet(s"$tmp/src").schema
    val (q, p) = QueryProfile.measure(spark) {
      val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/src")
        .writeStream.format("noop")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    assert(p.batches == 3 && q.recentProgress.length == 3, p)
    assert(p.triggerMs >= p.addBatchMs && p.jobs >= 3, p)
  }

  test("back-to-back measurements each see only their own jobs") {
    val sc = spark.sparkContext
    val (_, first) = QueryProfile.measure(spark)(
      (1 to 3).foreach(_ => sc.parallelize(1 to 10, 2).count()))
    val (_, second) = QueryProfile.measure(spark)(sc.parallelize(1 to 10, 2).count())
    assert((first.jobs, first.stages) == ((3, 3)))
    assert((second.jobs, second.stages) == ((1, 1)))
    assert(first.scanStages == 0 && second.scanStages == 0)
  }

  test("a workDir dir is registered for deletion at shutdown") {
    val dir = new java.io.File(Fixtures.workDir("graft_qprofile_"))
    assert(dir.isDirectory && dir.getName.startsWith("graft_qprofile_"))
    // ShutdownHookManager is private[spark]; its static forwarder is public
    val registered = Class.forName("org.apache.spark.util.ShutdownHookManager")
      .getMethod("hasShutdownDeleteDir", classOf[java.io.File])
      .invoke(null, dir).asInstanceOf[Boolean]
    assert(registered)
  }
}
