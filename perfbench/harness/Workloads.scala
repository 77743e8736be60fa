package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

final case class WorkloadCtx(spark: SparkSession, data: String, work: String,
    spec: JsonNode, tracer: Tracer, sched: SchedulerCollector,
    streams: StreamCollector, seed: Long) {
  /** The seeded op order of round `r`. */
  def shuffled[T](r: Int, xs: Seq[T]): Seq[T] =
    new scala.util.Random(seed * 1000003L + r).shuffle(xs)

  /** Scheduler jobs started while `body` ran (traced run only). */
  def jobsDuring[T](body: => T): (T, Int) =
    if (!tracer.on) (body, 0)
    else {
      val bus = org.apache.spark.perfbench.ListenerBus
      bus.drain(spark.sparkContext)
      val n0 = sched.jobs.size
      val v = body
      bus.drain(spark.sparkContext)
      (v, sched.synchronized(sched.jobs.size) - n0)
    }

  /** Write an op's result as STORE writes it (planned first, traced). */
  def write(df: DataFrame, out: String): Unit = {
    tracer.plan(df)
    tracer.span("exec")(df.write.mode("overwrite").parquet(out))
  }
}

/** The bundled PigMix-shaped scripts, submitted as Pig Latin text. */
final class PigScripts(c: WorkloadCtx) extends Workload {
  import graft.pig._
  val scripts: Seq[String] = Seq("l01", "l01flat", "l02", "l02macro", "l03", "l04",
    "l05", "l06", "l07", "l08", "l09", "l10", "l11", "l12", "l12multi", "l13",
    "l14", "l15", "l16", "l16cmp", "l17")
  private val text = scripts.map(n => n -> PigScript.resource(s"/pigmix/$n.pig")).toMap
  private var sorted = Map.empty[String, String]

  /** L14's merge join needs inputs sorted by key (the q215 fixture). */
  def fixture(dir: String): Unit = {
    val t = graft.core.Tables(c.spark, c.data)
    t.orders.select(col("o_orderkey"), col("o_orderstatus"))
      .repartitionByRange(8, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(s"$dir/orders_sorted")
    t.lineitem.select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .repartitionByRange(8, col("l_orderkey")).sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem_sorted")
    sorted = Map("SORTED_O" -> s"$dir/orders_sorted", "SORTED_L" -> s"$dir/lineitem_sorted")
  }

  def round(r: Int): Seq[Op] = c.shuffled(r, scripts).map { n =>
    Op(n, x => {
      val multi = n == "l12multi"
      val params = Map("DIR" -> c.data) ++ sorted ++
        (if (multi) Map("OUT" -> x.out) else Map.empty)
      val pre = x.tracer.span("pig.preprocess")(PigPreprocessor(text(n), params))
      val stmts = x.tracer.span("pig.parse")(PigParser.parseScript(pre))
      x.tracer.add("pig.statements", stmts.size)
      // a multi-STORE script writes its own sinks during compile
      val res = x.tracer.span("pig.compile")(
        PigCompiler.compile(c.spark, stmts, executeStores = multi))
      if (!multi) {
        val alias = res.stores.lastOption.map(_.alias).orElse(res.lastAlias).get
        c.write(graft.functions.BigNum.unwrapAll(res(alias)), x.out)
      }
    })
  }
}

/** The seeded FedPlans over three isolated cluster sessions, and the op
  * that runs one of them. Each plan also runs as a control: the same
  * plan with every table placed on cluster A. */
final class FedOps(c: WorkloadCtx, tables: Map[String, graft.fed.Federation.TableLoc]) {
  import graft.fed.Federation._
  private val p = c.spec.get("fed")
  private val clusters = Seq("A", "B", "C").map(id =>
    id -> Cluster(id, c.spark.newSession(), s"${c.work}/fed/$id")).toMap
  private val fed = tables.foldLeft(new Catalog()) { case (k, (t, l)) => k.register(t, l) }
  private val oneCluster = tables.foldLeft(new Catalog()) { case (k, (t, l)) =>
    k.register(t, l.copy(cluster = "A")) }
  private def dsum(cn: String) = sum(col(cn).cast(DecimalType(18, 2))).cast("double")

  /** q105 shape: one small cut edge. */
  private def q105(): FedPlan = FedBinary(
    FedStage(FedScan("orders"),
      _.filter(col("o_totalprice") > p.get("min_price").asDouble), "hi_orders"),
    FedScan("customer"),
    (o, cu) => o.join(cu, o("o_custkey") === cu("c_custkey")).groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"), dsum("o_totalprice").as("sum_price")),
    "join_agg")

  /** q130 shape: two cuts (orders→customer, then →nation). */
  private def q130(): FedPlan = FedBinary(
    FedBinary(
      FedStage(FedScan("orders"),
        _.filter(col("o_orderstatus") === p.get("status").asText), "status_orders"),
      FedScan("customer"),
      (o, cu) => o.join(cu, o("o_custkey") === cu("c_custkey"))
        .select(cu("c_nationkey"), o("o_totalprice")), "oc_join"),
    FedScan("nation"),
    (j, n) => j.join(n, j("c_nationkey") === n("n_nationkey")).groupBy(n("n_name"))
      .agg(count(lit(1)).as("n_orders"), dsum("o_totalprice").as("sum_price")),
    "with_nation")

  /** lineitem on B joined to orders on A: the cut edge ships the whole
    * orders projection (sf0.1: 150k rows). */
  private def bigcut(): FedPlan = FedBinary(
    FedStage(FedScan("lineitem"), _.filter(year(col("l_shipdate")) =!= p.get("skip_year").asInt)
      .select("l_orderkey", "l_quantity", "l_extendedprice"), "lines"),
    FedStage(FedScan("orders"), _.select("o_orderkey", "o_orderpriority"), "order_prio"),
    (l, o) => l.join(o, l("l_orderkey") === o("o_orderkey")).groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), dsum("l_quantity").as("sum_qty"),
        dsum("l_extendedprice").as("sum_price")),
    "lines_by_prio")

  private val plans = Map[String, () => FedPlan]("q105" -> q105 _, "q130" -> q130 _,
    "bigcut" -> bigcut _)

  /** The plan `name` and its control. */
  def pair(name: String): Seq[Op] =
    Seq(op(name, plans(name), fed), op(s"${name}_ctl", plans(name), oneCluster))

  private def labels(n: FedPlan): Map[String, FedPlan] = (n match {
    case FedScan(_) => Map.empty[String, FedPlan]
    case FedStage(i, _, _, _) => labels(i)
    case FedBinary(l, r, _, _) => labels(l) ++ labels(r)
  }) + (n.label -> n)

  private def op(name: String, mk: () => FedPlan, cat: Catalog): Op = Op(name, x => {
    val root = mk()
    val orch = new Orchestrator(cat, clusters)
    val t = x.tracer
    if (t.on) {
      val (pl, jobs) = c.jobsDuring(t.span("fed.plan")(orch.executionReport(root)))
      t.add("fed.plan_jobs", jobs)
      t.add("fed.cut_edges", pl.transfers.size)
      t.add("fed.clusters_used", pl.assignment.values.toSet.size)
      val byLabel = labels(root)
      t.add("fed.est_bytes", pl.transfers.map { case (l, _, _) =>
        estimatedBytes(byLabel(l), cat, c.spark).toDouble }.sum)
    }
    val df = t.span("fed.execute")(orch.execute(root))
    t.plan(df)
    t.span("fed.final")(df.write.mode("overwrite").parquet(x.out))
    if (t.on) {
      val files = orch.stagedPaths.flatMap { s =>
        val root = java.nio.file.Paths.get(s)
        if (!java.nio.file.Files.exists(root)) Nil
        else java.nio.file.Files.walk(root).iterator().asScala
          .filter(f => java.nio.file.Files.isRegularFile(f) &&
            f.getFileName.toString.endsWith(".parquet")).toSeq
      }
      val bytes = files.map(java.nio.file.Files.size).sum.toDouble
      t.add("fed.staged_files", files.size)
      t.add("fed.staged_mb", bytes / 1048576.0)
      t.add("fed.staged_bytes", bytes)
    }
    orch.cleanupStaged()
  })
}

/** The three FedPlans over parquet tables placed on clusters A, B, C. */
final class Federated(c: WorkloadCtx) extends Workload {
  import graft.fed.Federation.TableLoc
  private val ops = new FedOps(c, Map("orders" -> "A", "customer" -> "B", "nation" -> "C",
    "lineitem" -> "B").map { case (t, cl) => t -> TableLoc(cl, "parquet", s"${c.data}/$t.parquet") })
  def fixture(dir: String): Unit = ()
  def round(r: Int): Seq[Op] = c.shuffled(r, Seq("q105", "q130", "bigcut").flatMap(ops.pair))
}

/** An LLM data-curation chain over the seeded corpus, plus ANN serving
  * from an IVF-PQ index built at setup. */
final class Curation(c: WorkloadCtx) extends Workload {
  import graft.operators.{AnnIndex, Similarity, TextAnalysis}
  private val stories = Seq("q35_dedup_minhash", "q146_verbatim_spans",
    "q148_span_removal", "q107_bigram_ppl", "q100_tfidf", "q196_bpe_model_serve")
  private def docs = c.spark.read.parquet(s"${c.data}/documents.parquet")
  private def emb = c.spark.read.parquet(s"${c.data}/embeddings.parquet")
  private def queries(e: DataFrame) = e.filter(col("vec_id") % 50 === c.seed % 50)
  private var index = ""
  private var expected = Set.empty[(Long, Long, Double)]
  private var truth = Set.empty[(Long, Long)]

  def fixture(dir: String): Unit = {
    val e = emb
    val cents = Similarity.kMeansFit(e, "embedding", k = 16, iters = 3, init = "parallel")
    val pq = Similarity.pqTrain(e, "embedding", m = 16, nCodes = 256, iters = 3)
    AnnIndex.save(c.spark, s"$dir/idx", e, "vec_id", "embedding", cents, pq)
    index = s"$dir/idx"
    expected = Similarity.ivfPqTopK(corpus = e, queries = queries(e), corpusId = "vec_id",
        queryId = "vec_id", vecCol = "embedding", k = 5, centroids = cents, pq = pq,
        nProbe = 12, refine = 4)
      .select("query_id", "neighbor_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    truth = Similarity.bruteForceTopK(corpus = e, queries = queries(e), corpusId = "vec_id",
        queryId = "vec_id", vecCol = "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def story(n: String) = Op(n, x =>
    c.write(x.tracer.span("story")(graft.SparkEntry.queries(n)(c.spark, c.data)), x.out))

  /** q152 through the operator, its Misra-Gries capacity sized to the
    * corpus so the recall premise (minCount × capacity > n-grams) holds. */
  private val hotNgrams = Op("q152_hot_ngrams", x => {
    val grams = c.spec.get("ngrams4").asLong
    val cap = Integer.highestOneBit(math.max(1024L, grams / 3 + 1).toInt) * 2
    c.write(x.tracer.span("story")(TextAnalysis.hotNgrams(docs, "text", n = 4,
      minCount = 3L, capacity = cap)), x.out)
  })

  private val annServe = Op("ann_serve", x => {
    val t = x.tracer
    val e = emb
    val loaded = t.span("ann.load")(AnnIndex.load(c.spark, index))
    val served = AnnIndex.topK(loaded, queries(e), "vec_id", "embedding", k = 5,
      nProbe = 12, refine = 4, exactCorpus = Some(e))
      .select("query_id", "neighbor_id", "score")
    t.plan(served)
    val got = t.span("exec")(served.collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    x.info("served") = got.size
    x.info("recall") = got.count(g => truth((g._1, g._2))).toDouble / truth.size
    x.info("same_as_setup") = got == expected
  }, check = x => {
    require(x.info("same_as_setup") == true, "served answer differs from the setup answer")
    require(x.info("recall").asInstanceOf[Double] >= 0.9, s"recall ${x.info("recall")} < 0.9")
  })

  def round(r: Int): Seq[Op] = c.shuffled(r, stories.map(story) :+ hotNgrams :+ annServe)
}

/** A feed-declared VersionedTable over orders. Each round: the seeded
  * writes, then point, snapshot, time-travel and feed reads and a
  * federated read of the table (q105 shape: the versioned orders on
  * cluster A, customer on B) with its control, then one change-stream
  * drain. */
final class TableChurn(c: WorkloadCtx) extends Workload {
  import graft.operators.VersionedTable
  import graft.operators.VersionedTable.ColBound
  private val rounds = c.spec.get("churn")
  private val nOrders = c.spec.get("n_orders").asLong
  private var vt = ""
  private var version = 0L
  private val consumer = "perfbench"
  private def src = c.spark.read.parquet(s"${c.data}/orders.parquet")
  private lazy val fedOps = new FedOps(c, Map(
    "orders" -> graft.fed.Federation.TableLoc("A", graft.fed.Federation.VersionedFormat, vt),
    "customer" -> graft.fed.Federation.TableLoc("B", "parquet", s"${c.data}/customer.parquet")))

  def fixture(dir: String): Unit = {
    vt = s"$dir/t"
    version = VersionedTable.commit(c.spark, vt, src, -1L, "loader",
      clusterBy = Seq("o_orderkey"), clusterFiles = 16,
      meta = Map(VersionedTable.FeedKey -> "o_orderkey"))
    VersionedTable.initCursor(c.spark, vt, consumer, version)
  }

  private def newRows(keys: Seq[Long]): DataFrame =
    c.spark.range(keys.min, keys.max + 1).select(col("id").as("o_orderkey"),
      (col("id") % nOrders).as("o_custkey"), lit("O").as("o_orderstatus"),
      (lit(1000.0) + (col("id") % 1000).cast("double")).as("o_totalprice"),
      to_timestamp(lit("2000-01-01 00:00:00")).as("o_orderdate"),
      lit("3-MEDIUM").as("o_orderpriority"))

  private def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq

  private def recordDelta(x: OpCtx, s: VersionedTable.DeltaStats,
      jobs: Int): Unit = {
    version = s.version
    x.info ++= Map("version" -> s.version, "files_added" -> s.filesAdded,
      "files_removed" -> s.filesRemoved, "files_total" -> s.filesTotal,
      "bytes_added" -> s.bytesAdded, "bytes_table" -> s.bytesTable)
    vtCounts(x, jobs, s.filesAdded, s.filesRemoved, s.bytesAdded, s.filesTotal)
  }

  private def vtCounts(x: OpCtx, jobs: Int, added: Long, removed: Long,
      bytes: Long, total: Long): Unit = {
    val t = x.tracer
    t.add("vt.commits", 1); t.add("vt.jobs", jobs)
    t.add("vt.files_added", added); t.add("vt.files_removed", removed)
    t.add("vt.bytes_added", bytes); t.add("vt.live_files", total)
  }

  private def ops(r: Int, spec: JsonNode): Seq[Op] = {
    val m = spec.get("merge"); val d = spec.get("delete"); val u = spec.get("update")
    val merge = Op("merge", x => {
      val upd = longs(m.get("update_keys"))
      val changes = src.filter(col("o_orderkey").isin(upd: _*))
        .withColumn("o_totalprice", col("o_totalprice") + lit(m.get("price_delta").asDouble))
        .unionByName(newRows(longs(m.get("insert_keys"))))
      val (s, jobs) = c.jobsDuring(x.tracer.span("vt.merge")(VersionedTable.merge(
        c.spark, vt, changes, Seq("o_orderkey"), version, "merger")))
      recordDelta(x, s, jobs)
    })
    val delete = Op("delete", x => {
      val pred = s"o_orderkey >= ${d.get("lo").asLong} AND o_orderkey < ${d.get("hi").asLong}" +
        s" AND o_orderkey % ${d.get("mod").asInt} = ${d.get("rem").asInt}"
      val (s, jobs) = c.jobsDuring(x.tracer.span("vt.delete")(
        VersionedTable.deleteWhere(c.spark, vt, pred, version, "deleter")))
      if (s.version >= 0) version = s.version
      x.info ++= Map("version" -> s.version, "rows_deleted" -> s.rowsDeleted,
        "files_total" -> s.filesTotal, "bytes_dv" -> s.bytesDv)
      vtCounts(x, jobs, 0L, s.filesDropped, 0L, s.filesTotal)
      x.tracer.add("vt.bytes_dv", s.bytesDv); x.tracer.add("vt.files_scanned", s.filesScanned)
    })
    val update = Op("update", x => {
      val pred = s"o_orderkey >= ${u.get("lo").asLong} AND o_orderkey < ${u.get("hi").asLong}"
      val (s, jobs) = c.jobsDuring(x.tracer.span("vt.update")(VersionedTable.updateWhere(
        c.spark, vt, pred, Seq("o_orderstatus" -> s"'${u.get("status").asText}'",
          "o_totalprice" -> "o_totalprice + 1.5"), version, "updater")))
      s match {
        case Some(st) => recordDelta(x, st, jobs)
        case None => x.info("version") = -1L
      }
    })
    val append = Op("append", x => {
      val (s, jobs) = c.jobsDuring(x.tracer.span("vt.append")(VersionedTable.commitDelta(
        c.spark, vt, Some(newRows(longs(spec.get("append").get("keys")))), Nil,
        version, "appender")))
      recordDelta(x, s, jobs)
    })
    val points = longs(spec.get("point")).map { k =>
      Op("point_read", x => {
        val b = Seq(ColBound("o_orderkey", Some(k), Some(k)))
        if (x.tracer.on) {
          val (kept, total) = VersionedTable.prunedFiles(c.spark, vt, version, b)
          x.tracer.add("vt.files_kept", kept.size); x.tracer.add("vt.files_live", total)
        }
        val rows = x.tracer.span("vt.point_read")(VersionedTable.readWhere(c.spark, vt, b)
          .filter(col("o_orderkey") === k).select("o_orderstatus", "o_totalprice").collect())
        x.info ++= Map("key" -> k, "rows" -> rows.map(r => Seq(r.getString(0), r.getDouble(1))).toSeq)
      })
    }
    val snapshot = Op("snapshot_read", x => {
      val rows = x.tracer.span("vt.snapshot_read")(VersionedTable.read(c.spark, vt)
        .groupBy("o_orderstatus").agg(count(lit(1)),
          sum(col("o_totalprice").cast(DecimalType(18, 2)))).collect())
      x.info ++= Map("version" -> version, "groups" -> rows.map(r =>
        Seq(r.getString(0), r.getLong(1), r.getDecimal(2).toPlainString)).toSeq)
    })
    val travel = Op("timetravel_read", x => {
      // the table as it was four commits back: the round's writes come first
      val v = math.max(0L, version - 4)
      val row = x.tracer.span("vt.timetravel_read")(VersionedTable.readVersion(c.spark, vt, v)
        .agg(count(lit(1)), sum(col("o_totalprice").cast(DecimalType(18, 2)))).collect()(0))
      x.info ++= Map("version" -> v, "n" -> row.getLong(0), "sum" -> row.getDecimal(1).toPlainString)
    })
    val poll = Op("feed_poll", x => {
      val got = x.tracer.span("vt.feed_poll")(
        VersionedTable.pollChanges(c.spark, vt, consumer, Seq("o_orderkey")).map {
          case (df, from, to) =>
            val counts = df.groupBy("op").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            VersionedTable.ackChanges(c.spark, vt, consumer, from, to)
            (from, to, counts)
        })
      got.foreach { case (from, to, counts) =>
        x.info ++= Map("from" -> from, "to" -> to, "counts" -> counts)
        x.tracer.add("vt.feed_rows", counts.values.sum)
      }
    })
    val drain = Op("stream_drain", x => {
      val t0 = System.nanoTime()
      val q = x.tracer.span("stream.drain") {
        val q = VersionedTable.changeStream(c.spark, vt).writeStream.format("parquet")
          .option("path", s"${c.work}/sink").option("checkpointLocation", s"${c.work}/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }
      x.info("version") = version
      x.tracer.add("stream.drain_ms", (System.nanoTime() - t0) / 1e6)
      x.info("run") = q.runId
    }, check = x => {
      if (x.tracer.on) {
        org.apache.spark.perfbench.ListenerBus.drain(c.spark.sparkContext)
        val ps = c.streams.forRun(x.info("run").asInstanceOf[java.util.UUID])
        def total(keys: String*) = ps.map(p => keys.map(p.getOrElse(_, 0L)).sum).sum.toDouble
        x.tracer.add("stream.batches", ps.count(_.getOrElse("rows", 0L) > 0))
        x.tracer.add("stream.trigger_ms", total("triggerExecution"))
        x.tracer.add("stream.addbatch_ms", total("addBatch"))
        x.tracer.add("stream.log_commit_ms", total("walCommit", "commitOffsets"))
      }
      x.info("by_version") = c.spark.read.parquet(s"${c.work}/sink").groupBy("version")
        .count().collect().map(r => r.getLong(0).toString -> r.getLong(1)).toMap
    })
    // writes first, then reads, so every read sees one round of changes
    c.shuffled(r, Seq(merge, delete, update, append)) ++
      c.shuffled(r, Seq(snapshot, travel, poll) ++ points ++ fedOps.pair("q105")) :+ drain
  }

  def round(r: Int): Seq[Op] =
    if (r >= rounds.size) Nil else ops(r, rounds.get(r))

  override def finish(): Map[String, Any] = {
    def du(p: java.nio.file.Path): Long =
      java.nio.file.Files.walk(p).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size).sum
    val root = java.nio.file.Paths.get(vt)
    val live = VersionedTable.liveFiles(c.spark, vt, version).map { f =>
      val p = java.nio.file.Paths.get(f.stripPrefix("file:"))
      java.nio.file.Files.size(if (p.isAbsolute) p else root.resolve(p))
    }.sum
    Map("table_bytes" -> du(root), "live_bytes" -> live, "version" -> version)
  }
}
