package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** What Spark did while one piece of driver code ran: the run telemetry
  * a wall time alone cannot explain.
  *
  *   - `jobs` started and `stages` completed (a skipped stage never
  *     completes, so AQE-reused and cached stages do not count);
  *   - `scanStages`: completed stages whose RDD chain holds a
  *     `FileScanRDD`, i.e. passes over the source files;
  *   - task-summed shuffle read and write bytes, spill bytes (memory +
  *     disk) and executor run time of those stages;
  *   - the streaming split, summed over every micro-batch of every
  *     stream that reported progress (every session's streams post to
  *     the SparkContext's one listener bus): `batches`, Σ
  *     triggerExecution (all a micro-batch does; wall − trigger is a
  *     replay's floor), Σ addBatch (execution including the sink
  *     write), Σ (walCommit + commitOffsets) (offset- and commit-log
  *     I/O) and Σ state-store update, removal and commit time
  *     (task-summed across partitions, so not comparable to wall). */
final case class QueryProfile(
    jobs: Int, stages: Int, scanStages: Int,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    taskRunMs: Long,
    batches: Int, triggerMs: Long, addBatchMs: Long, commitMs: Long,
    stateMs: Long) {

  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"scan_stages":$scanStages,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""spill_bytes":$spillBytes,"task_run_ms":$taskRunMs,"batches":$batches,""" +
      s""""trigger_ms":$triggerMs,"add_batch_ms":$addBatchMs,"commit_ms":$commitMs,""" +
      s""""state_ms":$stateMs}"""
}

object QueryProfile {

  /** Run `body` and profile it. The listener bus is drained before the
    * listener attaches, so no earlier event leaks in, and again after
    * `body`, so every event it caused is counted; Spark posts a job's
    * and a stream's events before the action that ran them returns.
    * Counts everything on the SparkContext meanwhile: run nothing else
    * on it concurrently. The drains are not part of `body`, so a clock
    * read inside `body` excludes them. */
  def measure[A](spark: SparkSession)(body: => A): (A, QueryProfile) = {
    val sc = spark.sparkContext
    GraftSqlBridge.drainListenerBus(sc)
    val c = new Collector
    sc.addSparkListener(c)
    try {
      val a = body
      GraftSqlBridge.drainListenerBus(sc)
      (a, c.profile)
    } finally sc.removeSparkListener(c)
  }

  private final class Collector extends SparkListener {
    private var jobs, stages, scanStages, batches = 0
    private var shuffleRead, shuffleWrite, spill, taskRun = 0L
    private var trigger, addBatch, commit, state = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        stages += 1
        if (i.rddInfos.exists(_.name.contains("FileScanRDD"))) scanStages += 1
        Option(i.taskMetrics).foreach { m =>
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
          taskRun += m.executorRunTime
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case e: QueryProgressEvent => synchronized {
        val p = e.progress
        def ms(k: String): Long =
          Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)
        batches += 1
        trigger += ms("triggerExecution")
        addBatch += ms("addBatch")
        commit += ms("walCommit") + ms("commitOffsets")
        p.stateOperators.foreach(so =>
          state += so.allUpdatesTimeMs + so.allRemovalsTimeMs + so.commitTimeMs)
      }
      case _ =>
    }

    def profile: QueryProfile = synchronized(QueryProfile(jobs, stages,
      scanStages, shuffleRead, shuffleWrite, spill, taskRun, batches,
      trigger, addBatch, commit, state))
  }
}
