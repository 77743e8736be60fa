package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** What one op run sees: its id, its output path, the tracer, and a
  * map the op fills with what its output check needs. */
final class OpCtx(val id: Int, val out: String, val tracer: Tracer) {
  val info = mutable.LinkedHashMap.empty[String, Any]
}

/** One op of a workload. `body` is timed; `check` runs after the clock
  * stops and records what the output check needs, or throws. */
final case class Op(name: String, body: OpCtx => Unit,
    check: OpCtx => Unit = _ => ())

trait Workload {
  /** Build the fixtures under `dir`; called several times, the last
    * build serves the run. */
  def fixture(dir: String): Unit
  /** The seeded op sequence of round `r`; empty when the seeded inputs
    * hold no more rounds. */
  def round(r: Int): Seq[Op]
  /** End-of-run receipts (after the timed region). */
  def finish(): Map[String, Any] = Map.empty
}

/** The benchmark's JVM side: starts a session, builds fixtures, runs a
  * warm round, then closed-loop rounds of one workload for a fixed
  * time, and writes every op record as JSON. `perfbench/run.py` turns
  * the records into metrics. */
object Harness {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("dump-oracle")) {
      writeJson(a("dump-oracle"), graft.SparkEntry.oracleSql); return
    }
    val workload = a("workload")
    val data = a("data"); val work = a("work")
    val seconds = a("seconds").toDouble
    val tracer = new Tracer(a("trace") == "1")
    val reps = a.getOrElse("fixture-reps", "3").toInt
    val nproc = Runtime.getRuntime.availableProcessors
    val spec = mapper.readTree(new java.io.File(s"$data/spec.json"))

    val spark = session(nproc, work)
    val sessionS = (System.currentTimeMillis -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    log(f"session ready in $sessionS%.2f s")
    val sched = new SchedulerCollector
    val streams = new StreamCollector
    if (tracer.on) {
      spark.sparkContext.addSparkListener(sched)
      spark.streams.addListener(streams)
    }
    val ctx = WorkloadCtx(spark, data, work, spec, tracer, sched, streams,
      seed = a("seed").toLong)
    val wl: Workload = workload match {
      case "pig_scripts" => new PigScripts(ctx)
      case "federated" => new Federated(ctx)
      case "curation" => new Curation(ctx)
      case "table_churn" => new TableChurn(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val fixtureS = (0 until reps).map { i =>
      val t0 = System.nanoTime(); wl.fixture(s"$work/fixture$i"); (System.nanoTime() - t0) / 1e9
    }
    log(s"fixtures built in ${fixtureS.mkString(", ")} s")

    val records = mutable.ArrayBuffer.empty[Map[String, Any]]
    val windows = mutable.Map.empty[Int, (Long, Long)]
    var nextId = 0
    def runOp(op: Op, phase: String, round: Int): Unit = {
      nextId += 1
      val c = new OpCtx(nextId, s"$work/out/op$nextId", tracer)
      tracer.beginOp(c.id)
      val w0 = System.currentTimeMillis
      val t0 = System.nanoTime()
      val res = Try(tracer.span("op")(op.body(c)))
      val wall = (System.nanoTime() - t0) / 1e9
      windows(c.id) = (w0, System.currentTimeMillis)
      val checked = res.flatMap(_ => Try(op.check(c)))
      log(f"$phase%s ${op.name}%s $wall%.3f s ${if (checked.isSuccess) "ok" else "FAILED"}%s")
      records += Map("id" -> c.id, "name" -> op.name, "phase" -> phase,
        "round" -> round, "wall_s" -> wall, "out" -> c.out,
        "ok" -> checked.isSuccess,
        "err" -> (checked match {
          case Failure(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          case Success(_) => null }),
        "info" -> c.info.toMap)
    }

    val warm0 = System.nanoTime()
    wl.round(0).foreach(runOp(_, "warm", 0))
    val warmS = (System.nanoTime() - warm0) / 1e9

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    var r = 1
    val timed0 = System.nanoTime()
    val deadline = timed0 + (seconds * 1e9).toLong
    var stop = false
    while (!stop) {
      val ops = wl.round(r)
      if (ops.isEmpty) stop = true
      else {
        val cpu0 = os.getProcessCpuTime
        val t0 = System.nanoTime()
        var done = 0
        val it = ops.iterator
        while (it.hasNext && !(rounds.nonEmpty && System.nanoTime() > deadline)) {
          runOp(it.next(), "timed", r); done += 1
        }
        if (done == ops.size)
          rounds += Map("round" -> r, "wall_s" -> (System.nanoTime() - t0) / 1e9,
            "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9)
        stop = System.nanoTime() > deadline
        r += 1
      }
    }
    val timedS = (System.nanoTime() - timed0) / 1e9

    val extras = wl.finish()
    if (tracer.on) {
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      val self = tracer.selfTimes
      records.indices.foreach { i =>
        val rec = records(i)
        val id = rec("id").asInstanceOf[Int]
        val (w0, w1) = windows(id)
        val layer = sched.forWindow(w0, w1) ++
          tracer.counts.getOrElse(id, mutable.Map.empty).toMap ++
          self.collect { case ((op, l), s) if op == id => s"self.${l}_s" -> s }
        records(i) = rec + ("layer" -> layer)
      }
      writeJson(s"$work/spans.json", tracer.spans.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq)
    }
    // the context cleaner frees shuffle and broadcast state once GC has
    // found it unreachable: collect, let it run, collect again
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val conf = spark.sparkContext.getConf
    writeJson(a("out"), Map(
      "session_s" -> sessionS, "fixture_s" -> fixtureS, "warm_s" -> warmS,
      "warm_done" -> true, "timed_s" -> timedS, "rounds" -> rounds.toSeq,
      "ops" -> records.toSeq, "heap_mb" -> heapMb, "extras" -> extras,
      "spark" -> Map("master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "version" -> spark.version,
        "adaptive" -> conf.get("spark.sql.adaptive.enabled", "")),
      "nproc" -> nproc))
    spark.stop()
  }

  private def log(msg: String): Unit = println(s"[perfbench] $msg")

  private def session(nproc: Int, work: String): SparkSession = {
    val s = graft.core.GraftSession.configure(SparkSession.builder()
      .master(s"local[$nproc]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def writeJson(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    mapper.writeValue(f, v)
  }
}
