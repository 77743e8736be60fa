package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Job/stage-count receipts (round 19, VERDICT r18 #4/#8): a
  * SparkListener counts the jobs and stages one run of a query's timed
  * story (`SparkEntry.timed`, what Bench times) submits — the "how
  * many passes does this operator make" receipt the r18 verdict asked
  * for on the q149/q152 MG fold, and the audit tool for the
  * redundant-pass hunt (q100/q107/q146). Counting from the
  * scheduler (not the event log) keeps the receipt one `runMain` with
  * no sandbox history files.
  *
  * Usage: `sbt "runMain graft.tools.JobCounts [qname ...]"` with
  * SPARK_GRAFT_SF_DIR/SPARK_GRAFT_CPUS as in the bench. Prints one
  * JSON line per query: jobs, stages, and stage names (first 80 chars)
  * for attribution. Findings go to OPTIMIZATION_r19.md. */
object JobCounts {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val names = if (args.nonEmpty) args.toSeq else Seq(
      "q149_heavy_hitters", "q152_hot_ngrams", "q100_tfidf",
      "q107_bigram_ppl", "q146_verbatim_spans", "q17_rank",
      "q174_pca_whiten", "q154_ann_ivfpq")

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    // the receipt that matters for the pass-elimination claims: how
    // many STAGES scanned the parquet source (FileScanRDD in the
    // stage's RDD chain) = how many passes the query made over the
    // corpus files
    val scanStages = new java.util.concurrent.atomic.AtomicInteger(0)
    val stageNames = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val lis = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (s.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD")))
          scanStages.incrementAndGet()
        stageNames.add(s.stageInfo.name.take(60)); ()
      }
    }

    names.foreach { name =>
      val q = graft.SparkEntry.timed(name)
      // warm pass: JIT + page cache + one-time fixtures (graft.Fixtures)
      q(spark, sfDir).count()
      jobs.set(0); stages.set(0); scanStages.set(0); stageNames.clear()
      spark.sparkContext.addSparkListener(lis)
      val t0 = System.nanoTime()
      q(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener delivery is async; give the bus a moment to drain
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(lis)
      import scala.jdk.CollectionConverters._
      val sn = stageNames.asScala.groupBy(identity)
        .map { case (k, v) => s""""$k":${v.size}""" }.mkString("{", ",", "}")
      println(f"""{"probe":"job_counts","query":"$name","jobs":${jobs.get()},"stages":${stages.get()},"scan_stages":${scanStages.get()},"sec":$sec%.3f,"stage_names":$sn}""")
    }
    spark.stop()
    sys.exit(0)
  }
}
