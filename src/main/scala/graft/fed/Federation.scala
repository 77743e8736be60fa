package graft.fed

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** PigOut's federation surface rebuilt workflow-level on Spark
  * (SURVEY.md §2.8, §3.2, §7.4): a catalog of table placements, a cost
  * pass that cuts the dataflow DAG across clusters, and an orchestrator
  * that runs per-cluster stages and inserts parquet transfers at cut
  * edges — the Spark analogue of the reference's
  * partitioner → script generator → distcp → orchestrator pipeline.
  *
  * Degenerate case (every table reachable from one session — the common
  * sandbox/lakehouse case): the whole pipeline collapses to a single
  * Spark job and the shuffle does the "transfer", exactly as the survey
  * predicts. The machinery below only matters when clusters are
  * isolated (compute-near-data), which is why it stays OUTSIDE Catalyst:
  * cuts are workflow decisions, not expression rewrites.
  */
object Federation {

  /** Where a table lives: owning cluster + format + URI. */
  final case class TableLoc(cluster: String, format: String, uri: String)

  /** [[TableLoc.format]] token for a VERSIONED table
    * ([[graft.operators.VersionedTable]] dir): scans resolve through
    * the manifest (snapshot-pinned per orchestrator — see
    * Orchestrator.readLocation) instead of a raw format load. Register
    * replicas made by [[graft.operators.VersionedTable.replicate]]
    * under the same token and failover serves the SAME pinned source
    * snapshot at the replica. */
  val VersionedFormat = "graft-versioned"

  /** A raw format load of `loc` on `s`; parquet takes its schema from
    * the footer on the driver ([[graft.sources.ParquetFooter]]). */
  private def readFile(s: SparkSession, loc: TableLoc): DataFrame =
    if (loc.format == "parquet") graft.sources.ParquetFooter.read(s, loc.uri)
    else s.read.format(loc.format).load(loc.uri)

  /** An executable cluster: in production a Spark Connect endpoint per
    * physical cluster; in tests, isolated SparkSessions. `scratchUri` is
    * the cluster-local staging area for inbound transfers (the
    * reference's BinStorage temp dir; ours is parquet).
    *
    * `computeFactor` is the per-cluster load term of the cost model
    * (PigOut weighs cluster load alongside transfer sizes, SURVEY
    * §2.8): relative cost per byte processed on this cluster — 1.0 =
    * reference speed, 2.0 = twice as expensive (loaded/small cluster).
    * At the default every cluster prices compute identically, so the
    * greedy cut decision reduces to min-transfer exactly as before. */
  final case class Cluster(id: String, session: SparkSession, scratchUri: String,
      computeFactor: Double = 1.0)

  /** Start (once per JVM) an in-process Spark Connect SERVER bound to
    * `spark`'s context and return the effective gRPC port. Idempotent:
    * the service is context-global, so repeated calls reuse the
    * running server (the port conf is read at first start).
    *
    * This is the SURVEY §3.2/§7.4 full-case substrate: with a server
    * per physical cluster, the orchestrator addresses clusters by
    * `sc://host:port` URI and drives them through the SAME wire
    * protocol it would use in production — the sandbox degenerates to
    * one in-process server, but nothing in the orchestrator knows
    * that. */
  private val connectServerStarted = new java.util.concurrent.atomic.AtomicBoolean(false)

  def ensureConnectServer(spark: SparkSession): Int = {
    if (connectServerStarted.compareAndSet(false, true))
      org.apache.spark.sql.connect.service.SparkConnectService
        .start(spark.sparkContext)
    spark.sparkContext.getConf
      .getInt("spark.connect.grpc.binding.port", 15002)
  }

  /** Stop the in-process Connect server started by
    * [[ensureConnectServer]] (idempotent). Callers that start the
    * server for a bounded task MUST pair it with this: the gRPC
    * server's threads are non-daemon, so a forked JVM (Verify/Bench)
    * would otherwise never exit after main returns. */
  def stopConnectServer(): Unit =
    if (connectServerStarted.compareAndSet(true, false))
      Try(org.apache.spark.sql.connect.service.SparkConnectService
        .stop(None, None))

  /** A Cluster whose session is a Spark Connect CLIENT to `remoteUri`
    * (`sc://host:port`). `org.apache.spark.sql.connect.SparkSession`
    * extends the unified `SparkSession`, so the whole
    * planner/orchestrator stack runs unchanged over gRPC: reads,
    * stage functions, cut-edge parquet writes. Catalyst-stats size
    * estimation is driver-side-only and falls back to the catalog
    * heuristics for connect sessions (the existing `Try` paths);
    * scratch cleanup falls back to a driver-side delete for local
    * URIs (see deletePath). Close the session via
    * [[closeClusterSessions]] once results are consumed. */
  def connectCluster(id: String, remoteUri: String, scratchUri: String,
      computeFactor: Double = 1.0, failFast: Boolean = false): Cluster = {
    val builder = org.apache.spark.sql.connect.SparkSession.builder()
    val session =
      if (!failFast) builder.remote(remoteUri).create()
      else {
        // fault-detection profile: the default client retry policy
        // backs off for MINUTES on an unreachable/closed channel —
        // correct for a transient network blip, wrong when the caller
        // (executeWithFailover's liveness probe, a fault spec) needs
        // "cluster is gone" to surface in seconds
        import scala.concurrent.duration._
        val quick = org.apache.spark.sql.connect.client.RetryPolicy
          .defaultPolicy().copy(maxRetries = Some(2),
            initialBackoff = 50.millis, maxBackoff = Some(200.millis))
        org.apache.spark.sql.GraftSqlBridge.connectSession(
          org.apache.spark.sql.connect.client.SparkConnectClient.builder()
            .connectionString(remoteUri).retryPolicy(quick).build())
      }
    Cluster(id, session, scratchUri, computeFactor)
  }

  /** Close every connect-client session in `clusters` (gRPC channels
    * hold sockets; classic sessions are left alone — they share the
    * JVM's context). */
  def closeClusterSessions(clusters: Map[String, Cluster]): Unit =
    clusters.values.foreach { c =>
      c.session match {
        case cs: org.apache.spark.sql.connect.SparkSession => Try(cs.close())
        case _ => ()
      }
    }

  final class Catalog {
    private val tables =
      mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[TableLoc]]
    /** Primary location; re-registering replaces the primary. */
    def register(name: String, loc: TableLoc): this.type = {
      val locs = tables.getOrElseUpdate(name, mutable.ArrayBuffer.empty)
      if (locs.isEmpty) locs += loc else locs(0) = loc
      this
    }
    /** An additional copy of the table on another cluster — what makes
      * a lost PRIMARY cluster recoverable (failover re-resolves the
      * scan to a surviving replica). Replicas are the caller's claim
      * of byte-equivalence; the planner always prefers the primary. */
    def registerReplica(name: String, loc: TableLoc): this.type = {
      val locs = tables.getOrElse(name,
        throw new NoSuchElementException(s"replica before primary: $name"))
      locs += loc; this
    }
    def apply(name: String): TableLoc =
      tables.getOrElse(name,
        throw new NoSuchElementException(s"unknown table: $name")).head
    def locations(name: String): Seq[TableLoc] =
      tables.getOrElse(name,
        throw new NoSuchElementException(s"unknown table: $name")).toSeq
    def names: Seq[String] = tables.keys.toSeq
  }

  // ------------------------------------------------------------------
  // Catalog persistence (round 13): the coordinator's table placements
  // survive a restart. The catalog is bounded driver metadata (one
  // line per table location), persisted as a versioned log with the
  // SAME atomic create-exclusive CAS as table commits — a racing
  // coordinator save loses LOUDLY, a reader always sees a complete
  // catalog version, and history stays auditable. Cluster SESSIONS are
  // deliberately not persisted (they are live connections): a
  // restarted coordinator reconnects its clusters, loads the catalog,
  // and every placement/replica decision resumes where it left off.
  // ------------------------------------------------------------------

  final class CatalogConflict(msg: String) extends RuntimeException(msg)

  /** The latest persisted catalog version under `dir` (-1 = none). */
  def catalogVersion(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) return -1L
    val vs = f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".catalog"))
      .flatMap(n => n.stripPrefix("v").stripSuffix(".catalog").toLongOption)
    if (vs.isEmpty) -1L else vs.max
  }

  /** Persist `cat` as the child of `expectedVersion` (the table-commit
    * discipline: pass the version you loaded, or -1 for the first
    * save; omit to append at latest). Ordering and the
    * primary-vs-replica distinction are preserved exactly. Throws
    * [[CatalogConflict]] when another coordinator saved concurrently —
    * the caller re-loads, reconciles, re-saves; silent
    * last-writer-wins would drop the other coordinator's
    * registrations. */
  def saveCatalog(spark: SparkSession, cat: Catalog, dir: String,
      writerId: String = "coordinator",
      expectedVersion: Long = Long.MinValue): Long = {
    val newV =
      if (expectedVersion == Long.MinValue) catalogVersion(spark, dir) + 1
      else expectedVersion + 1
    val sb = new StringBuilder(s"version=$newV\n")
    cat.names.foreach { t =>
      cat.locations(t).zipWithIndex.foreach { case (loc, i) =>
        // non-empty enforced at WRITE time: split-based parsing drops
        // trailing empty tokens, so an empty uri/format would save fine
        // and then make every subsequent loadCatalog throw — the
        // round-trip invariant belongs at the producer
        Seq(t, loc.cluster, loc.format, loc.uri).foreach(s =>
          require(s.nonEmpty && !s.contains('\t') && !s.contains('\n'),
            s"catalog entries must be non-empty plain tokens, got " +
              s"'$s' in table=$t"))
        val kind = if (i == 0) "primary" else "replica"
        sb ++= s"table=$t\t$kind\t${loc.cluster}\t${loc.format}\t${loc.uri}\n"
      }
    }
    val won = graft.operators.VersionedTable.casCreate(spark,
      new org.apache.hadoop.fs.Path(s"$dir/v$newV.catalog"),
      new org.apache.hadoop.fs.Path(
        s"$dir/.tmp-$writerId-${java.util.UUID.randomUUID()}"), sb.toString)
    if (!won)
      throw new CatalogConflict(
        s"saveCatalog to $dir: lost the race for version $newV — " +
          "re-load, reconcile, re-save")
    newV
  }

  /** Load the latest persisted catalog (or a pinned `version`). */
  def loadCatalog(spark: SparkSession, dir: String,
      version: Long = -1L): Catalog = {
    val v = if (version >= 0) version else catalogVersion(spark, dir)
    require(v >= 0, s"loadCatalog: no persisted catalog under $dir")
    val p = new org.apache.hadoop.fs.Path(s"$dir/v$v.catalog")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val cat = new Catalog()
    body.linesIterator.filter(_.startsWith("table=")).foreach { l =>
      // limit -1: trailing empty tokens (a legacy line with an empty
      // uri) surface as the LOUD malformed-line error below instead of
      // silently shifting fields
      l.stripPrefix("table=").split("\t", -1) match {
        case Array(t, "primary", c, fmt, uri)
            if Seq(t, c, fmt, uri).forall(_.nonEmpty) =>
          cat.register(t, TableLoc(c, fmt, uri))
        case Array(t, "replica", c, fmt, uri)
            if Seq(t, c, fmt, uri).forall(_.nonEmpty) =>
          cat.registerReplica(t, TableLoc(c, fmt, uri))
        case other =>
          throw new IllegalStateException(
            s"loadCatalog: malformed line in v$v.catalog: $l")
      }
    }
    cat
  }

  // ------------------------------------------------------------------
  // Federated dataflow DAG (workflow-level, deliberately tiny)
  // ------------------------------------------------------------------

  /** Sentinel for FedStage.selectivity: derive the stage's output size
    * from Catalyst (`optimizedPlan.stats`) instead of a caller guess. */
  val DeriveSelectivity: Double = Double.NaN

  sealed trait FedPlan {
    def label: String
    // DAG nodes are identified by REFERENCE, not structure: a self-join
    // legitimately holds two distinct FedScan(t) instances that must be
    // priced and assigned separately — structural (case-class) equality
    // would collapse them under distinct/Map keys and undercount the
    // duplicated scan. Final here suppresses the case-class synthetics.
    final override def equals(o: Any): Boolean = o match {
      case r: AnyRef => this eq r
      case _ => false
    }
    final override def hashCode: Int = System.identityHashCode(this)
  }
  /** Leaf: scan a cataloged table. */
  final case class FedScan(table: String) extends FedPlan { def label = s"scan($table)" }
  /** Unary stage: any DataFrame pipeline (filter/project/agg/...).
    * `selectivity` is the caller's output/input size estimate for the
    * cost pass (PigOut-class heuristic, SURVEY §7.5.6 — the reference's
    * partitioner uses the same per-operator guesses). Left at
    * [[DeriveSelectivity]], the planner instead asks Catalyst: it builds
    * the (lazy, never-executed) stage plan and reads
    * `optimizedPlan.stats.sizeInBytes`, which accounts for column
    * pruning after projections — information a flat byte heuristic
    * cannot see. An explicit number still wins: the caller may know
    * runtime selectivity (e.g. a 1% filter) that size-only propagation
    * does not model. */
  final case class FedStage(input: FedPlan, f: DataFrame => DataFrame, label: String,
      selectivity: Double = DeriveSelectivity) extends FedPlan
  /** Binary stage: join/union of two subplans. */
  final case class FedBinary(left: FedPlan, right: FedPlan,
      f: (DataFrame, DataFrame) => DataFrame, label: String) extends FedPlan

  /** Result of planning: where each node runs + the transfers inserted
    * at cut edges (for observability/tests) + the cost model's price
    * for this placement (compute + transfer; NaN when unpriced). */
  final case class Placement(assignment: Map[FedPlan, String],
      transfers: Seq[(String, String, String)], cost: Double = Double.NaN)

  // ------------------------------------------------------------------
  // Cost model — PigOut-fidelity heuristics (SURVEY §7.5.6): base table
  // bytes from the filesystem, selectivity guesses per stage kind.
  // ------------------------------------------------------------------

  def tableBytes(spark: SparkSession, uri: String): Long = Try {
    val p = new org.apache.hadoop.fs.Path(uri)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }.getOrElse(1L)

  /** Lazily build the plan's DataFrame on `s` (no execution) and read
    * Catalyst's size estimate. None when any input is unreachable from
    * `s` (isolated clusters) — the caller falls back to heuristics. */
  private def catalystBytes(plan: FedPlan, catalog: Catalog, s: SparkSession): Option[Long] = Try {
    def build(p: FedPlan): DataFrame = p match {
      case FedScan(t) => readFile(s, catalog(t))
      case FedStage(in, f, _, _) => f(build(in))
      case FedBinary(l, r, f, _) => f(build(l), build(r))
    }
    build(plan).queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong
  }.toOption

  private[fed] def estimateBytes(plan: FedPlan, catalog: Catalog, anySession: SparkSession): Long = plan match {
    case FedScan(t) => tableBytes(anySession, catalog(t).uri)
    case st @ FedStage(in, _, _, sel) =>
      // Always estimate the INPUT recursively (inner explicit
      // annotations must keep winning — estimating the whole subtree
      // from Catalyst would silently discard them), then apply this
      // stage's own ratio: the caller's selectivity if given, else
      // Catalyst's output/input size ratio (sees column pruning), else
      // the PigOut-class 0.5 guess.
      val inBytes = estimateBytes(in, catalog, anySession)
      val ratio =
        if (!sel.isNaN) sel
        else (for {
          out <- catalystBytes(st, catalog, anySession)
          inn <- catalystBytes(in, catalog, anySession)
          if inn > 0
        } yield out.toDouble / inn).getOrElse(0.5)
      math.max(1L, (inBytes * ratio).toLong)
    case FedBinary(l, r, _, _) =>
      estimateBytes(l, catalog, anySession) + estimateBytes(r, catalog, anySession)
  }

  /** Observability: the planner's size estimate for a subplan. */
  def estimatedBytes(plan: FedPlan, catalog: Catalog, session: SparkSession): Long =
    estimateBytes(plan, catalog, session)

  /** Relative price of moving one byte across clusters vs processing
    * it in place. Transfers write + ship + re-read, so they price
    * above compute (the paper's transfer term dominates its load
    * term for cut decisions at equal cluster speeds). */
  val TransferWeight: Double = 2.0

  /** Network topology term (SURVEY §2.8: the paper weighs link
    * bandwidths, not just sizes): per-byte transfer price for a
    * specific (from, to) cluster pair. Missing entries fall back to
    * the symmetric pair, then to the global [[TransferWeight]] — an
    * empty map reproduces the topology-free model exactly. Asymmetric
    * entries are honored (egress-priced clouds, one-way replication
    * links). */
  type Links = Map[(String, String), Double]

  private def linkWeight(links: Links, from: String, to: String): Double =
    links.getOrElse((from, to), links.getOrElse((to, from), TransferWeight))

  /** Direct children of a DAG node. */
  private def children(p: FedPlan): Seq[FedPlan] = p match {
    case FedScan(_) => Nil
    case FedStage(in, _, _, _) => Seq(in)
    case FedBinary(l, r, _, _) => Seq(l, r)
  }

  /** Every node of the DAG, post-order, each REFERENCE once — a shared
    * sub-DAG is computed once, so it is visited (and priced) once; the
    * visited set also keeps the traversal linear where the naive
    * recursion would re-walk shared subtrees exponentially. */
  private[fed] def nodes(p: FedPlan): Seq[FedPlan] = {
    val seen = mutable.Set.empty[FedPlan] // identity semantics (see FedPlan.equals)
    val out = mutable.ArrayBuffer.empty[FedPlan]
    def walk(n: FedPlan): Unit = if (seen.add(n)) {
      children(n).foreach(walk); out += n
    }
    walk(p)
    out.toSeq
  }

  /** Price a COMPLETE assignment under the full cost model
    * (SURVEY §2.8; the paper's objective = intermediate-transfer
    * sizes + per-cluster load):
    *
    *   Σ_node  inputBytes(node) × computeFactor(cluster(node))
    * + Σ_edge  bytes(child) × TransferWeight   when the edge is cut
    *
    * `inputBytes` of a scan is the table itself; of a stage/join, the
    * estimated output bytes of its children — the data the node must
    * actually chew through where it runs. */
  def assignmentCost(root: FedPlan, assignment: Map[FedPlan, String],
      catalog: Catalog, clusters: Map[String, Cluster],
      links: Links = Map.empty): Double = {
    val anySession = clusters.values.head.session
    val bytes = mutable.Map.empty[FedPlan, Long]
    def outBytes(p: FedPlan): Long =
      bytes.getOrElseUpdate(p, estimateBytes(p, catalog, anySession))
    nodes(root).map { n =>
      val factor = clusters(assignment(n)).computeFactor
      val inBytes = n match {
        case FedScan(t) => tableBytes(anySession, catalog(t).uri)
        case _ => children(n).map(outBytes).sum
      }
      val compute = inBytes.toDouble * factor
      val transfer = children(n)
        .filter(c => assignment(c) != assignment(n))
        .map(c => outBytes(c).toDouble *
          linkWeight(links, assignment(c), assignment(n))).sum
      compute + transfer
    }.sum
  }

  /** Greedy cut assignment (mirrors the paper's greedy search, which it
    * found near-optimal): each node runs where its inputs live; at a
    * binary node with mixed clusters, pick the destination whose
    * incremental price — shipped bytes × TransferWeight + joined bytes
    * × the destination's computeFactor — is lower. With equal
    * computeFactors this is exactly "ship the cheaper side". */
  def plan(root: FedPlan, catalog: Catalog, clusters: Map[String, Cluster],
      links: Links = Map.empty): Placement = {
    val assign = mutable.Map.empty[FedPlan, String]
    val transfers = mutable.ArrayBuffer.empty[(String, String, String)]
    val anySession = clusters.values.head.session
    def factor(c: String): Double = clusters(c).computeFactor

    // memoized BY REFERENCE (assign's keys are identity — see
    // FedPlan.equals): a shared sub-DAG is walked once, so its transfer
    // is recorded once and traversal stays linear — the same contract
    // nodes() keeps for pricing
    def walk(p: FedPlan): String = if (assign.contains(p)) assign(p) else p match {
      case s @ FedScan(t) =>
        val c = catalog(t).cluster; assign(s) = c; c
      case st @ FedStage(in, _, _, _) =>
        val c = walk(in); assign(st) = c; c
      case b @ FedBinary(l, r, _, _) =>
        val cl = walk(l); val cr = walk(r)
        val c =
          if (cl == cr) cl
          else {
            val (lb, rb) = (estimateBytes(l, catalog, anySession), estimateBytes(r, catalog, anySession))
            val joined = (lb + rb).toDouble
            val costAtCr = lb * linkWeight(links, cl, cr) + joined * factor(cr) // ship left
            val costAtCl = rb * linkWeight(links, cr, cl) + joined * factor(cl) // ship right
            val (shipped, dest) = if (costAtCr <= costAtCl) (l, cr) else (r, cl)
            transfers += ((shipped.label, assign(shipped), dest))
            dest
          }
        assign(b) = c; c
    }
    walk(root)
    val a = assign.toMap
    Placement(a, transfers.toSeq, assignmentCost(root, a, catalog, clusters, links))
  }

  /** Exhaustive cut search: every non-scan node may run on ANY cluster
    * (scans are pinned to their data); the cheapest assignment under
    * [[assignmentCost]] wins. Exponential in non-scan node count — a
    * test/calibration harness for the paper's greedy-vs-exhaustive
    * comparison, not a production path. */
  def planExhaustive(root: FedPlan, catalog: Catalog,
      clusters: Map[String, Cluster], links: Links = Map.empty): Placement = {
    val all = nodes(root)
    val free = all.filter { case FedScan(_) => false; case _ => true }
    require(math.pow(clusters.size.toDouble, free.size.toDouble) <= 1e6,
      s"exhaustive search over ${free.size} nodes × ${clusters.size} clusters is too large")
    val pinned: Map[FedPlan, String] =
      all.collect { case s @ FedScan(t) => s -> catalog(t).cluster }.toMap
    val ids = clusters.keys.toSeq.sorted
    var best: Map[FedPlan, String] = null
    var bestCost = Double.MaxValue
    def rec(rest: List[FedPlan], acc: Map[FedPlan, String]): Unit = rest match {
      case Nil =>
        val c = assignmentCost(root, acc, catalog, clusters, links)
        if (c < bestCost) { bestCost = c; best = acc }
      case n :: tail =>
        ids.foreach(id => rec(tail, acc + (n -> id)))
    }
    rec(free.toList, pinned)
    val transfers = nodes(root).flatMap { n =>
      children(n).filter(c => best(c) != best(n))
        .map(c => (c.label, best(c), best(n)))
    }
    Placement(best, transfers, bestCost)
  }

  // ------------------------------------------------------------------
  // Orchestrator — topo-order execution with cut-edge transfers.
  // ------------------------------------------------------------------

  final class Orchestrator(catalog: Catalog, clusters: Map[String, Cluster],
      maxRetries: Int = 1) {

    private implicit val ec: ExecutionContext = ExecutionContext.global

    // Every staged cut-edge path this orchestrator has written. The
    // ROOT DataFrame reads from these lazily, so they must outlive
    // execute(); the caller cleans up via [[cleanupStaged]] once the
    // result is consumed. Failed/partial writes are deleted eagerly in
    // ensureOn and never land here.
    private val staged = mutable.ArrayBuffer.empty[(Cluster, String)]

    /** Staged transfer dirs written so far (observability + tests). */
    def stagedPaths: Seq[String] = staged.synchronized(staged.map(_._2).toSeq)

    /** Delete every staged transfer dir. Call only after the result of
      * execute() has been fully consumed — the returned DataFrame reads
      * the staged parquet lazily. */
    def cleanupStaged(): Unit = staged.synchronized {
      staged.foreach { case (cluster, path) => deletePath(cluster, path) }
      staged.clear()
    }

    private def deletePath(cluster: Cluster, path: String): Unit = {
      val viaFs = Try {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(cluster.session.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
      }
      // Connect-client sessions have no driver-side sparkContext; for
      // local/file: scratch URIs (the sandbox case) fall back to a
      // driver-side recursive delete. A production deployment deletes
      // through the destination cluster's own FS tooling instead.
      if (viaFs.isFailure && (path.startsWith("file:") || !path.contains("://"))) Try {
        val root = java.nio.file.Paths.get(
          path.stripPrefix("file://").stripPrefix("file:"))
        if (java.nio.file.Files.exists(root)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(root).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      }
    }

    // clusters this orchestrator still trusts and the catalog it
    // resolves scans through; both shrink/re-resolve only via the
    // failover path below, never silently. Tables whose EVERY copy
    // lived on lost clusters are remembered here so a later scan of
    // one fails with the real story, not "unknown table".
    private var live: Map[String, Cluster] = clusters
    private var cat: Catalog = catalog
    private var lostTables: Map[String, Seq[String]] = Map.empty

    // Snapshot pins for VERSIONED scans (format == VersionedFormat):
    // the first resolution of a table records the SOURCE version it
    // served; every later resolution — including a post-failover read
    // at a replica, whose version numbering is independent — must
    // serve the SAME source snapshot, located through the replica
    // manifests' ReplicaSrcKey identity. Snapshot isolation holds
    // ACROSS failover: a replica that advanced past the pin still
    // serves the pinned version (file-sharing retains it); a replica
    // that never received it refuses loudly.
    private val pinnedSnapshots = mutable.Map.empty[String, Long]

    /** The pinned source version of a versioned table, if resolved. */
    def pinnedSnapshot(table: String): Option[Long] =
      pinnedSnapshots.synchronized { pinnedSnapshots.get(table) }

    private def readLocation(s: SparkSession, t: String,
        loc: TableLoc): DataFrame =
      if (loc.format != VersionedFormat) readFile(s, loc)
      else {
        import graft.operators.VersionedTable
        // the snapshot identity of a local version: its own number at
        // the source, its recorded source version at a replica
        def srcVersionOf(v: Long): Long = {
          val m = VersionedTable.readManifest(s, loc.uri, v)
          m.meta.get(VersionedTable.ReplicaSrcKey).map(_.toLong)
            .getOrElse(m.version)
        }
        val vs = VersionedTable.versions(s, loc.uri)
        require(vs.nonEmpty, s"versioned table '$t': nothing committed " +
          s"under ${loc.uri}")
        val pin = pinnedSnapshots.synchronized {
          pinnedSnapshots.getOrElseUpdate(t, srcVersionOf(vs.last))
        }
        val local = vs.reverse.find(srcVersionOf(_) == pin).getOrElse(
          throw new RuntimeException(
            s"versioned table '$t' at ${loc.uri}: no retained version " +
              s"holds the pinned source snapshot $pin (replica lag or " +
              "expired history) — snapshot isolation across failover " +
              "cannot be served; replicate the pinned version or " +
              "re-plan from a fresh orchestrator"))
        VersionedTable.readVersion(s, loc.uri, local)
      }

    /** Clusters currently considered live (observability + tests). */
    def liveClusters: Set[String] = live.keySet

    /** Execute the plan; the returned DataFrame lives on the cluster the
      * planner assigned to the root. Independent subtrees run
      * concurrently (Futures); each stage retries on failure. A stage
      * that exhausts its retries — including a cluster whose session
      * died mid-plan — aborts the whole execution with the failing
      * stage's label and cause, after deleting every staged transfer
      * dir (an aborted result is never consumed, so its staging is
      * garbage by definition); re-running execute() on a healthy
      * orchestrator is safe (staging paths are unique per attempt and
      * partial writes are deleted at failure). */
    def execute(root: FedPlan): DataFrame = {
      nodes(root).collect { case FedScan(t) => t }.distinct
        .filter(lostTables.contains).headOption.foreach { t =>
          throw new RuntimeException(
            s"table '$t' became unavailable when cluster(s) " +
              s"${lostTables(t).mkString(",")} were lost and no replica " +
              "survived — re-register a live copy before scanning it")
        }
      val placement = plan(root, cat, live)
      try {
        val out = Await.result(run(root, placement), Duration.Inf)
        // analysis receipt: resolve the final plan on its destination
        // NOW. Connect sessions build plans without a single RPC, so a
        // cluster that died after the last cut-edge transfer would
        // otherwise hand the caller a doomed DataFrame that only fails
        // at its first action — outside execute(), where failover
        // cannot see it. Schema analysis is metadata-only (no job).
        out.schema
        out
      } catch { case e: Throwable => cleanupStaged(); throw e }
    }

    /** Lost-cluster contract (r11): like [[execute]], but when the
      * failure turns out to be a DEAD CLUSTER (its session no longer
      * answers a 1-row probe), drop it, re-resolve every scan the plan
      * needs through a SURVIVING location — the primary if its cluster
      * lives, else a registered replica ([[Catalog.registerReplica]])
      * — re-plan the whole job over the survivors and run it again. A
      * table whose every copy lived on lost clusters is unrecoverable,
      * and that failure stays loud (naming the lost clusters and the
      * orphaned table), with all staged dirs already cleaned by the
      * abort path. Failures with every cluster still healthy (a bad
      * stage, an unwritable scratch) are rethrown untouched — failover
      * must not mask plan bugs. */
    def executeWithFailover(root: FedPlan): DataFrame = {
      try execute(root)
      catch {
        case e: Throwable =>
          val healthy = live.filter { case (_, c) =>
            Try(c.session.range(1).count()).isSuccess }
          if (healthy.size == live.size || healthy.isEmpty) throw e
          val lost = live.keySet -- healthy.keySet
          // Rebuild the WHOLE catalog, not just this plan's scans: every
          // registered table keeps ALL its surviving locations (primary
          // re-pointed to the first survivor, the rest staying replicas
          // for FUTURE failovers). A plan-scoped, one-location rebuild
          // would make every other table 'unknown' to later execute()
          // calls and burn the remaining replicas.
          val needed = nodes(root).collect { case FedScan(t) => t }.toSet
          val resolved = new Catalog()
          val newlyLost = mutable.Map.empty[String, Seq[String]]
          cat.names.foreach { t =>
            val locs = cat.locations(t)
            val surviving = locs.filter(l => healthy.contains(l.cluster))
            if (surviving.nonEmpty) {
              resolved.register(t, surviving.head)
              surviving.tail.foreach(resolved.registerReplica(t, _))
            } else if (needed.contains(t))
              throw new RuntimeException(
                s"federated job lost cluster(s) ${lost.mkString(",")} and " +
                  s"table '$t' has no surviving copy (locations: " +
                  s"${locs.map(_.cluster).mkString(",")}) — " +
                  "data unavailable, cannot fail over; staged dirs cleaned", e)
            else newlyLost(t) = locs.map(_.cluster)
          }
          live = healthy
          cat = resolved
          lostTables = lostTables ++ newlyLost
          execute(root)
      }
    }

    def executionReport(root: FedPlan): Placement = plan(root, cat, live)

    private def withRetry[T](label: String)(body: => T): T = {
      var last: Throwable = null
      var attempt = 0
      while (attempt <= maxRetries) {
        Try(body) match {
          case Success(v) => return v
          case Failure(e) => last = e; attempt += 1
        }
      }
      throw new RuntimeException(s"federated stage failed after retries: $label", last)
    }

    private def run(p: FedPlan, pl: Placement): Future[DataFrame] = p match {
      case s @ FedScan(t) =>
        Future {
          val loc = cat(t)
          val cluster = live(pl.assignment(s))
          withRetry(s"${s.label} on cluster ${cluster.id}") {
            readLocation(cluster.session, t, loc)
          }
        }
      case st @ FedStage(in, f, label, _) =>
        run(in, pl).map { df =>
          withRetry(s"$label on cluster ${pl.assignment(st)}")(f(df)) }
      case b @ FedBinary(l, r, f, label) =>
        val fl = run(l, pl)
        val fr = run(r, pl)
        for { ldf <- fl; rdf <- fr } yield
          withRetry(s"$label on cluster ${pl.assignment(b)}") {
            val dest = live(pl.assignment(b))
            f(ensureOn(ldf, pl.assignment(l), dest, l.label),
              ensureOn(rdf, pl.assignment(r), dest, r.label))
          }
    }

    /** The cut edge: if a subplan ran on another cluster, stage its
      * result as parquet in the destination's scratch area and re-read
      * it there (the reference's STORE → distcp → LOAD glue; one
      * write+read, no driver materialization).
      *
      * Fault contract (r9): the write is the point where the shipped
      * subplan actually EXECUTES, so a mid-transfer failure (source
      * task death, unreachable scratch, dest session dead) surfaces
      * here. The partial staged dir is deleted before rethrowing —
      * retries go to a fresh nanoTime-suffixed path, so a half-written
      * transfer can never be read back as a complete one, and failed
      * attempts leave no garbage behind. */
    private def ensureOn(df: DataFrame, from: String, dest: Cluster, label: String): DataFrame = {
      if (from == dest.id) df
      else {
        val path = s"${dest.scratchUri}/${label.replaceAll("[^A-Za-z0-9]", "_")}_${System.nanoTime()}"
        try df.write.mode("overwrite").parquet(path)
        catch { case e: Throwable => deletePath(dest, path); throw e }
        staged.synchronized(staged += ((dest, path)))
        graft.sources.ParquetFooter.read(dest.session, path)
      }
    }
  }
}
