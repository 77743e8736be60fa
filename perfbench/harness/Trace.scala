package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One span: a timed call into a layer, inside op `op`. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** Benchmark-side tracing. Off (the end-to-end run) it only runs the
  * body; on (the traced run) it keeps spans and per-op counters in
  * memory — they are written once, when the run ends. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Per-op counters recorded at the same boundaries as the spans. */
  val counts = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private var nextSpan = 0
  private val stack = mutable.Stack.empty[Int]
  private var op = -1

  def beginOp(id: Int): Unit = { op = id; stack.clear() }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = { nextSpan += 1; nextSpan }
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, parent, op, name, t0, t1)
        add(s"span.$name", (t1 - t0) / 1e6)
        stack.pop()
      }
    }

  def add(key: String, v: Double): Unit = if (on) {
    val m = counts.getOrElseUpdate(op, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  /** Planning layer: force Catalyst + the graft.plans rules to a
    * physical plan and count its shape. */
  def plan(df: org.apache.spark.sql.DataFrame): Unit = if (on) {
    val p = span("plan")(df.queryExecution.executedPlan)
    val nodes = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.initialPlan)
      case _ =>
        nodes += n
        n.children.foreach(walk)
        n.subqueries.foreach(walk)
    }
    walk(p)
    add("plan.exchanges", nodes.count(_.isInstanceOf[ShuffleExchangeExec]))
    add("plan.reused_exchanges", nodes.count(_.isInstanceOf[ReusedExchangeExec]))
    add("plan.broadcasts", nodes.count(_.isInstanceOf[BroadcastExchangeExec]))
    add("plan.scans", nodes.count(n => n.nodeName.contains("Scan") &&
      n.children.isEmpty))
  }

  /** Self time per layer (the span-name prefix before the first dot):
    * a span's duration minus the part its child spans cover. */
  def selfTimes: Map[(Int, String), Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum
      ((s.op, s.name.takeWhile(_ != '.')), (s.endNs - s.startNs - covered) / 1e9)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** Scheduler counters per job/stage, attributed to ops afterwards by
  * time: one closed-loop client runs one op at a time, so a job belongs
  * to the op whose wall interval holds its start. */
final class SchedulerCollector extends SparkListener {
  import SchedulerCollector._
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.Map.empty[Int, Stage]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).submitMs = e.stageInfo.submissionTime.getOrElse(0L)
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val s = stage(e.stageId)
    s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId)
    s.doneMs = i.completionTime.getOrElse(0L)
    s.tasks = i.numTasks
    val m = i.taskMetrics
    if (m != null) {
      s.runMs = m.executorRunTime; s.cpuNs = m.executorCpuTime; s.gcMs = m.jvmGCTime
      s.shuffleW = m.shuffleWriteMetrics.bytesWritten
      s.shuffleR = m.shuffleReadMetrics.totalBytesRead
      s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
      s.input = m.inputMetrics.bytesRead; s.inputRecords = m.inputMetrics.recordsRead
      s.output = m.outputMetrics.bytesWritten
    }
  }

  /** Execution-layer counters for the op that ran in [startMs, endMs]. */
  def forWindow(startMs: Long, endMs: Long): Map[String, Double] = synchronized {
    val js = jobs.filter(j => j.startMs >= startMs && j.startMs <= endMs).toSeq
    val ss = js.flatMap(_.stages).distinct.flatMap(stages.get).filter(_.doneMs > 0)
    // op wall not covered by any running job
    val covered = js.map(j => (j.startMs, math.min(j.endMs, endMs))).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        val lo = math.max(a, reach)
        (acc + math.max(0L, b - lo), math.max(reach, b))
      }._1
    val mb = 1024.0 * 1024.0
    Map(
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> ss.size.toDouble,
      "exec.scan_stages" -> ss.count(_.inputRecords > 0).toDouble,
      "exec.tasks" -> ss.map(_.tasks).sum.toDouble,
      "exec.task_run_s" -> ss.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> ss.map(_.gcMs).sum / 1e3,
      "exec.queue_s" -> ss.filter(s => s.firstLaunchMs != Long.MaxValue && s.submitMs > 0)
        .map(s => math.max(0L, s.firstLaunchMs - s.submitMs)).sum / 1e3,
      "exec.driver_gap_s" -> math.max(0L, endMs - startMs - covered) / 1e3,
      "exec.shuffle_write_mb" -> ss.map(_.shuffleW).sum / mb,
      "exec.shuffle_read_mb" -> ss.map(_.shuffleR).sum / mb,
      "exec.spill_mb" -> ss.map(_.spill).sum / mb,
      "exec.input_mb" -> ss.map(_.input).sum / mb,
      "exec.output_mb" -> ss.map(_.output).sum / mb)
  }
}

object SchedulerCollector {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final class Stage(val id: Int) {
    var submitMs = 0L; var doneMs = 0L; var firstLaunchMs = Long.MaxValue
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleW = 0L; var shuffleR = 0L; var spill = 0L
    var input = 0L; var inputRecords = 0L; var output = 0L
  }
}

/** Streaming progress per query run (the `changeStream` drains; every
  * drain restarts the same checkpointed query, so the run id tells them
  * apart). */
final class StreamCollector extends StreamingQueryListener {
  import StreamingQueryListener._
  val progress = mutable.Map.empty[java.util.UUID, mutable.ArrayBuffer[Map[String, Long]]]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    progress.getOrElseUpdate(e.progress.runId, mutable.ArrayBuffer.empty) +=
      (d + ("rows" -> e.progress.numInputRows))
  }
  def forRun(id: java.util.UUID): Seq[Map[String, Long]] =
    synchronized(progress.get(id).map(_.toSeq).getOrElse(Nil))
}
