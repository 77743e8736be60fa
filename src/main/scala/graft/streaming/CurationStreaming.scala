package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/** STREAMING training-data curation (SURVEY §7.1 × §2.7): the batch
  * MinHash-LSH near-dup pipeline, incrementalized — an arriving doc is
  * flagged a near-duplicate the moment any of its LSH band keys was
  * already claimed by an earlier doc, without ever re-scanning the
  * corpus. This is the ingest-time shape of fuzzy dedup: the batch
  * operator ([[graft.operators.Dedup.fuzzyDupPairs]]) answers "which
  * pairs collide" after the fact; this one answers "is THIS doc new"
  * as data lands.
  *
  * Dataflow: the doc stream computes shingle hashes → MinHash
  * signature → banded keys IN the stream (stateless projections over
  * the same codegen'd kernels as batch), then a typed
  * `transformWithState` keyed by (band, sig) records each band key's
  * OWNER — the earliest (ts, doc_id) ever seen — and emits one verdict
  * per (doc, band): owner or dup. A doc is a near-dup iff ANY of its
  * bands is owned by someone else (downstream per-doc aggregation;
  * OR-amplification exactly like the batch banding).
  *
  * Determinism: rows within a micro-batch arrive in partition order,
  * so the processor SORTS each batch's rows per key by (ts, doc_id)
  * before deciding ownership — the emitted verdicts equal the batch
  * min-(ts, id) owner rule under any partitioning. Across
  * micro-batches, ownership is first-seen: with event time monotone in
  * arrival order (the replay contract here) that is again min-(ts,id);
  * a genuinely out-of-order source keeps at-most-once ownership per
  * key but a later-arriving earlier-ts doc cannot retract an already
  * emitted verdict — the same trade every streaming dedup makes
  * (q129's dropDuplicatesWithinWatermark included).
  *
  * Scale: state is ONE (ts, id) pair per distinct band key in the
  * watermark horizon — bounded by content diversity, not corpus size,
  * and identical to what the batch band join would shuffle. The
  * parity/replay harnesses run TTL-free (finite replays); production
  * passes `stateTtlMs` so band ownership expires with the dedup
  * horizon, exactly like q129's/q151's watermark-bounded dedup state
  * — exercised by StreamingSpec's production-trigger TTL smoke
  * (continuous trigger, bounded wall-time, eviction asserted).
  * Caveat, measured r13 and pinned by that test: state TTL requires
  * TimeMode.ProcessingTime, under which an AvailableNow replay — and
  * processAllAvailable under ANY trigger — never terminates (TTL
  * timer micro-batches keep the query "not caught up"); TTL runs
  * under continuous triggers the caller stops, and PARITY HARNESSES
  * ONLY stay TTL-free. */
object CurationStreaming {

  final case class BandRow(band: Int, sig: Long, doc_id: Long, ts_ms: Long)
  final case class BandVerdict(doc_id: Long, band: Int, dup_band: Boolean)

  /** Keyed owner state: earliest (ts_ms, doc_id) per (band, sig).
    * `ttlMs > 0` = the production posture: ownership expires with the
    * dedup horizon (requires TimeMode.ProcessingTime — see
    * [[streamNearDupVerdicts]]'s trigger contract). */
  final class BandOwnerProcessor(ttlMs: Long = 0L)
      extends StatefulProcessor[(Int, Long), BandRow, BandVerdict] {
    @transient private var owner: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState[(Long, Long)](
        "owner", Encoders.product[(Long, Long)],
        if (ttlMs > 0L) new TTLConfig(java.time.Duration.ofMillis(ttlMs))
        else TTLConfig.NONE)
    override def handleInputRows(key: (Int, Long), rows: Iterator[BandRow],
        timerValues: TimerValues): Iterator[BandVerdict] = {
      // deterministic within-batch order: the verdicts must match the
      // batch min-(ts, id) rule under any partitioning/arrival order
      val sorted = rows.toArray.sortBy(r => (r.ts_ms, r.doc_id))
      var cur: Option[(Long, Long)] = if (owner.exists()) Some(owner.get()) else None
      val out = new Array[BandVerdict](sorted.length)
      var i = 0
      while (i < sorted.length) {
        val r = sorted(i)
        val me = (r.ts_ms, r.doc_id)
        val isOwner = cur.isEmpty || me == cur.get ||
          Ordering[(Long, Long)].lt(me, cur.get)
        if (isOwner) cur = Some(if (cur.isEmpty) me else
          Ordering[(Long, Long)].min(me, cur.get))
        out(i) = BandVerdict(r.doc_id, r.band, !isOwner)
        i += 1
      }
      if (cur.isDefined) owner.update(cur.get)
      out.iterator
    }
  }

  /** Schema of the staged doc stream: (doc_id, text, ts). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("ts", TimestampType)))

  /** Banded key projection shared by the stream and its batch
    * reference — the SAME native kernels as the batch dedup pipeline
    * (the codegen'd shingle-hash path; the HOF formulation measured
    * 52 s vs ~2 s for 5000 docs — interpreted lambdas again, the
    * lesson of the KMeansSoak probe, deleted after commit 71395f2). */
  def bandRows(docs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val hashes = graft.plans.TextExpressions.shingleHash64(col("text"), 3)
    val sig = graft.operators.Dedup.minhashSig(hashes, numHashes)
    docs
      .select(col("doc_id"), (col("ts").cast("double") * 1000).cast("long").as("ts_ms"),
        explode(graft.operators.Dedup.lshBands(sig, bands, numHashes / bands)).as("b"))
      .select(col("b.band").as("band"), col("b.sig").as("sig"),
        col("doc_id"), col("ts_ms"))
  }

  /** The streaming stage: staged parquet docs → in-stream banding →
    * per-band-key typed ownership state → (doc, band) verdicts.
    *
    * `stateTtlMs > 0` = the PRODUCTION posture: band ownership expires
    * after the dedup horizon, bounding state on an unbounded corpus.
    * TTL requires TimeMode.ProcessingTime, and under ProcessingTime an
    * AvailableNow replay never terminates (the trigger keeps
    * scheduling timer micro-batches) — so the TTL form is for
    * CONTINUOUS triggers stopped by the caller (the StreamingSpec TTL
    * smoke runs exactly that: bounded wall-time, assert eviction);
    * parity/replay harnesses use the TTL-free default. */
  def streamNearDupVerdicts(spark: SparkSession, stagedDir: String,
      numHashes: Int = 128, bands: Int = 16,
      stateTtlMs: Long = 0L): DataFrame = {
    EventsStreaming.ensureRocksDbProvider(spark, "streamNearDupVerdicts")
    import spark.implicits._
    val stream = spark.readStream.schema(docSchema).parquet(stagedDir)
    bandRows(stream, numHashes, bands)
      .as[BandRow]
      .groupByKey(r => (r.band, r.sig))
      .transformWithState(new BandOwnerProcessor(stateTtlMs),
        if (stateTtlMs > 0L) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Update())
      .toDF()
  }

  /** The batch reference the stream must reproduce: per band key the
    * owner is min-(ts, id); a doc is a near-dup iff any of its bands
    * is owned by another doc.
    *
    * Shape: rank-within-band-key (rank 1 = owner) over ONE banding
    * pass. The former owners-then-join formulation scanned `banded`
    * twice — and the banding pass IS the cost (the 128-hash minhash
    * kernel, ~2.4 s per pass on the sf0.1 corpus vs milliseconds for
    * the join), so the self-join doubled the reference's price. The
    * window sorts tiny groups (a band key holds the docs sharing one
    * band signature) after the same single shuffle the join needed
    * anyway. */
  def batchNearDupFlags(docs: DataFrame, numHashes: Int = 128,
      bands: Int = 16): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "sig").orderBy("ts_ms", "doc_id")
    bandRows(docs, numHashes, bands)
      .withColumn("rk", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(max((col("rk") > 1).cast("int")).as("d"))
      .select(col("doc_id"), (col("d") === 1).as("is_dup"))
  }

  // ------------- file-source micro-batch runner -------------

  /** One staged file per micro-batch: a replay from a fresh checkpoint
    * regroups the same files into the same batches, and a CDC sink
    * sees one consistent cut per batch. */
  private val MaxFilesPerTrigger = 1

  /** Drain the parquet files staged under `stagedDir` through `sink`:
    * one AvailableNow run from checkpoint `ckpt`. The foreachBatch
    * contract is what every sink below builds its exactly-once rule
    * on: the checkpoint names which source files belong to each
    * batchId, so a restarted or retried batch replays the same rows. */
  private def drainStaged(spark: SparkSession, stagedDir: String,
      schema: StructType, ckpt: String)(sink: (DataFrame, Long) => Unit): Unit =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .parquet(stagedDir)
      .writeStream
      .foreachBatch(sink)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  // ------------- exactly-once streaming shard export (round 10) -------------

  /** Streaming counterpart of
    * [[graft.operators.TrainingPipeline.exportShards]]: docs arrive as
    * a stream and land in md5-nibble shards EXACTLY ONCE across
    * micro-batches, restarts, and batch retries.
    *
    * The exactly-once mechanics are the standard foreachBatch contract:
    * the checkpoint names which source files belong to each batchId
    * (deterministic replay), and the batch writes
    * `outDir/batch=<id>/shard=<k>/` in OVERWRITE mode — a retried or
    * restarted batch rewrites ITS OWN directory and cannot duplicate
    * rows. Parquet partition discovery then reads the whole export as
    * one table (batch and shard become partition columns), so the
    * manifest aggregation and every downstream consumer see one
    * dataset regardless of how many batches produced it.
    *
    * Scale shape: per batch, ONE repartition on shard + a partitioned
    * write — identical to the batch exporter, amortized over arrivals;
    * state is only the checkpoint's file log. */
  def exportStream(spark: SparkSession, stagedDir: String, outDir: String,
      ckpt: String, nShards: Int): Unit = {
    require(nShards >= 1 && nShards <= 16, "md5-nibble rule: nShards <= 16")
    drainStaged(spark, stagedDir, docSchema, ckpt) { (batch, batchId) =>
      batch
        .withColumn("__h", md5(col("doc_id").cast("string")))
        .withColumn("shard",
          (expr("position(substring(__h, 1, 1) IN '0123456789abcdef')")
            .cast("long") - 1L).mod(lit(nShards.toLong)))
        .drop("__h")
        .repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(s"$outDir/batch=$batchId")
    }
  }

  /** Streaming ANN-index ingest (round 11): newly arrived vectors are
    * PQ-encoded under the index's PERSISTED, FROZEN model and appended
    * as `codes_delta/batch=<id>` — the overwrite-own-directory
    * exactly-once contract of [[exportStream]] (a retried/replayed
    * batch rewrites its own directory with identical content; it can
    * never double-land). Model freeze is the production serving
    * contract: ingest encodes under the trained centroids/codebooks,
    * and re-training is a separate offline job that REBUILDS the
    * index — silently re-fitting on ingest would shift every cell
    * boundary under the served corpus.
    * [[graft.operators.AnnIndex.load]] unions the deltas into the
    * codes scan, so serving sees streamed rows with no rebuild.
    * Scale shape: per batch, one batch-sized encode pass (per-row
    * codegen kernels, zero shuffles) + one batch-sized write. */
  def annIngestStream(spark: SparkSession, stagedDir: String, idxDir: String,
      ckpt: String, vecCol: String, srcSchema: StructType): Unit = {
    // `idxDir` may be a flat index or a savePublished root; the model
    // is loaded ONCE (frozen), each batch re-resolves the ACTIVE
    // generation so deltas land where serving looks. A compaction
    // mid-stream is safe (models copied byte-stable; folded markers
    // make replayed old batches inert); a RETRAIN is not — the
    // stability guard refuses the batch instead of mis-routing rows.
    val startGen = graft.operators.AnnIndex
      .generations(spark, idxDir).lastOption.getOrElse(-1L)
    val loaded = graft.operators.AnnIndex.load(spark, idxDir,
      includeDeltas = false)
    drainStaged(spark, stagedDir, srcSchema, ckpt) { (batch, batchId) =>
      graft.operators.AnnIndex.requireModelStable(spark, idxDir, startGen)
      val dir = graft.operators.AnnIndex.activeDir(spark, idxDir)
      graft.operators.Similarity
        .ivfPqEncode(batch, loaded.idCol, vecCol, loaded.cents, loaded.pq)
        .write.mode("overwrite")
        .parquet(s"$dir/codes_delta/batch=$batchId")
    }
  }

  // ─────── exactly-once stream batches into a versioned table (round 12) ───────

  /** Manifest `meta` key carrying a stream commit's batch id; its
    * `.files` sibling carries the batch's file fingerprint. */
  private val Marker = "stream.merge.batch"
  /** CAS attempts a stream batch makes against external writers. */
  private val MaxCasRetries = 5

  /** Content fingerprint of a file-source micro-batch: md5 over the
    * sorted input file NAMES (names, not full paths — the fingerprint
    * must survive path re-qualification and replica roots). None when
    * the batch cannot be attributed to files (non-file source).
    *
    * A foreachBatch DataFrame wraps the batch's planned RDD in a
    * `LogicalRDD`, which hides the file relation from
    * `Dataset.inputFiles` (always empty there), so the names come from
    * the `FileScanRDD`s in that RDD's lineage — driver metadata, no
    * job. */
  private def batchFilesHash(batch: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.FileScanRDD
    def scans(rdd: org.apache.spark.rdd.RDD[_]): Seq[FileScanRDD] = rdd match {
      case f: FileScanRDD => Seq(f)
      case r => r.dependencies.flatMap(d => scans(d.rdd))
    }
    val names = batch.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      .flatMap(scans).flatMap(_.filePartitions.flatMap(_.files))
      .map(_.toPath.getName).distinct.sorted
    if (names.isEmpty) None
    else Some(java.security.MessageDigest.getInstance("MD5")
      .digest(names.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString)
  }

  /** Commit stream batch `batchId` to the versioned table at
    * `tableDir` EXACTLY ONCE: the one verdict every stream sink
    * shares.
    *
    * The exactly-once hinge: the commit carries the batch id (and the
    * batch's file fingerprint) as manifest `meta`, so "the batch's
    * rows are in the table" and "the batch is marked done" are ONE
    * atomic CAS. A replayed batch (crash after commit, before the
    * checkpoint ack) finds its id already committed and is inert; a
    * crash before the commit replays into a fresh commit.
    *
    * Inertness is keyed on batch CONTENT, not the raw batchId: batch
    * ids are only stable within one checkpoint, so a fresh checkpoint
    * that groups the staged files differently must not have its
    * batches silently suppressed by markers from the old checkpoint —
    * that is data loss, not idempotence. A replay is inert iff a
    * committed manifest carries BOTH this batchId and this batch's
    * file fingerprint; a recorded id with a DIFFERENT fingerprint, or
    * an id below the committed high-water that no retained commit
    * carries, refuses loudly.
    *
    * Otherwise `land(parentVersion, meta)` writes the batch as a child
    * of `parentVersion` carrying `meta`. Interleaved OTHER writers are
    * handled by re-reading the head and retrying the CAS — the
    * stream's own commits are serial, so the retry loop only races
    * external writers.
    *
    * One newest-first manifest scan answers both questions: stream
    * commits are serial, so marker values descend with versions — the
    * first marker is the high-water, and the scan stops at the first
    * marker below `batchId` (bounded by the commits since the stream
    * last reached this batch). */
  private def commitBatch(spark: SparkSession, tableDir: String,
      batch: DataFrame, batchId: Long)(land: (Long, Map[String, String]) => Unit): Unit = {
    import graft.operators.VersionedTable
    val markers = VersionedTable.versions(spark, tableDir).reverseIterator
      .map(v => VersionedTable.readManifest(spark, tableDir, v).meta)
      .flatMap(meta => meta.get(Marker).map(b => (b.toLong, meta.get(s"$Marker.files"))))
      .takeWhile { case (b, _) => b >= batchId }
      .buffered
    val highWater = markers.headOption.map(_._1)
    // inner Option: the commit exists but predates fingerprinting
    val recorded = markers.collectFirst { case (b, files) if b == batchId => files }
    val h = batchFilesHash(batch)
    recorded match {
      case Some(r) =>
        val diverged = (r, h) match {
          case (Some(x), Some(y)) => x != y
          case _ => false // pre-fingerprint commit or unattributable batch
        }
        if (diverged) throw new IllegalStateException(
          s"stream batch $batchId replayed with different contents than " +
            s"its committed marker on $tableDir (recorded files hash " +
            s"$r, replay $h) — the checkpoint was reset and the " +
            "new batch grouping diverged; restart from the ORIGINAL " +
            "checkpoint")
        // true replay of a committed batch: inert
      case None if highWater.nonEmpty =>
        throw new IllegalStateException(
          s"stream batch $batchId is below the committed high-water " +
            s"${highWater.get} on $tableDir but no commit carries its marker " +
            "— either retention expired the marker inside the restart " +
            "horizon (keep-window too small) or a fresh checkpoint " +
            "regrouped the source; refusing to guess between " +
            "double-apply and data loss")
      case None =>
        val meta = Map(Marker -> batchId.toString) ++ h.map(x => s"$Marker.files" -> x)
        var attempts = 0
        var committed = false
        while (!committed) {
          try {
            land(VersionedTable.latestVersion(spark, tableDir), meta)
            committed = true
          } catch {
            case _: VersionedTable.CommitConflict if attempts < MaxCasRetries =>
              attempts += 1 // an external writer took the version; re-plan
          }
        }
    }
  }

  /** Streaming counterpart of
    * [[graft.operators.Incremental.scd2Apply]]: CDC change batches
    * arrive as staged files (each carrying ONE `as_of` timestamp) and
    * fold into a versioned dimension history at `tableDir` (a
    * [[graft.operators.VersionedTable]]) EXACTLY ONCE across
    * micro-batches, restarts, and batch retries.
    *
    * Each non-empty batch commits `scd2Apply(parent, batch)` as a full
    * snapshot child of the table's head (`init` when the table has no
    * version yet) under [[commitBatch]]'s batch marker: a replayed
    * committed batch is inert, a crash before the CAS replays into a
    * fresh fold of the same parent. Read the history with
    * [[scd2Latest]]; retention is
    * [[graft.operators.VersionedTable.expire]], whose keep >= 2 floor
    * keeps the newest marker — the replay high-water — retained.
    *
    * Scale shape: per batch, one outer join of the head's CURRENT
    * slice against the (small) change batch — scd2Apply's contract
    * that closed history is never joined holds here too; the write is
    * snapshot-sized. A batch mixing multiple as_of timestamps is
    * REFUSED (bounded 2-row probe): fold order inside one batch would
    * be ambiguous — stage chunks so a trigger sees one consistent CDC
    * cut (one staged file per batch enforces that for file sources). */
  def scd2Stream(spark: SparkSession, stagedDir: String, tableDir: String,
      ckpt: String, keys: Seq[String], init: DataFrame,
      chgSchema: StructType): Unit = {
    import graft.operators.{Incremental, VersionedTable}
    require(chgSchema.fieldNames.contains("as_of"),
      "change schema must carry as_of TIMESTAMP")
    drainStaged(spark, stagedDir, chgSchema, ckpt) { (batch, batchId) =>
      val asOfs = batch.select(col("as_of")).distinct().limit(2).collect()
      if (asOfs.nonEmpty) {
        require(asOfs.length == 1,
          s"scd2Stream: batch $batchId mixes as_of timestamps")
        commitBatch(spark, tableDir, batch, batchId) { (parent, meta) =>
          val hist =
            if (parent < 0) init else VersionedTable.readVersion(spark, tableDir, parent)
          VersionedTable.commit(spark, tableDir,
            Incremental.scd2Apply(hist, batch.drop("as_of"), keys,
              asOfs(0).getTimestamp(0)),
            parent, s"stream-b$batchId", meta = meta)
        }
      }
    }
  }

  /** The current materialized history: the table's head. */
  def scd2Latest(spark: SparkSession, tableDir: String): DataFrame =
    graft.operators.VersionedTable.read(spark, tableDir)

  // ---------------- streaming data-quality accumulation ----------------

  /** Streaming counterpart of [[graft.operators.DataQuality.report]]
    * for ROW-LOCAL checks: each micro-batch computes its counter
    * state (ONE aggregate over the batch) and commits it merged into
    * the accumulated state at `tableDir` (a one-row
    * [[graft.operators.VersionedTable]]) — Deequ's incremental-metrics
    * contract, under the same batch-marker commit as [[scd2Stream]]
    * (retries/restarts cannot double-count a batch; a batch with no
    * rows commits nothing). The final report over N batches equals the
    * batch report over their union (counter additivity, law-tested in
    * DataQualitySpec). */
  def dqStream(spark: SparkSession, stagedDir: String, tableDir: String,
      ckpt: String, checks: Seq[graft.operators.DataQuality.Check],
      srcSchema: StructType): Unit = {
    import graft.operators.{DataQuality, VersionedTable}
    drainStaged(spark, stagedDir, srcSchema, ckpt) { (batch, batchId) =>
      val stateDf = DataQuality.rowLocalState(batch, checks)
      val row = stateDf.head() // one aggregate row: a bounded collect
      if (row.getLong(0) > 0L) { // __total
        val state = spark.createDataFrame(java.util.List.of(row), stateDf.schema)
        commitBatch(spark, tableDir, batch, batchId) { (parent, meta) =>
          VersionedTable.commit(spark, tableDir,
            if (parent < 0) state
            else DataQuality.mergeStates(
              VersionedTable.readVersion(spark, tableDir, parent), state),
            parent, s"stream-b$batchId", meta = meta)
        }
      }
    }
  }

  /** The report over everything streamed so far. */
  def dqLatestReport(spark: SparkSession, tableDir: String,
      checks: Seq[graft.operators.DataQuality.Check]): DataFrame =
    graft.operators.DataQuality.reportFromState(
      graft.operators.VersionedTable.read(spark, tableDir), checks)

  /** Stream CDC batches (staged files under `stagedDir`, each batch
    * key-unique) into a [[graft.operators.VersionedTable]] as
    * file-granular MERGE commits, EXACTLY ONCE across micro-batches,
    * restarts, and batch retries — each merge lands under
    * [[commitBatch]]'s batch marker.
    *
    * Retention contract: the newest stream commit's manifest carries
    * the high-water marker; [[graft.operators.VersionedTable.expire]]
    * keep-window sizing must retain it across a restart horizon (its
    * keep >= 2 floor — a marker expired while its batch could still
    * replay is refused as below the high-water).
    *
    * Scale shape per batch: one churn-sized MERGE (envelope-pruned
    * scan + touched-file rewrite) — the table never rewrites beyond
    * the batch's key footprint; checkpoint state is the file-source
    * log only. */
  def tableMergeStream(spark: SparkSession, stagedDir: String,
      tableDir: String, keys: Seq[String], ckpt: String,
      srcSchema: StructType, deleteCol: Option[String] = None): Unit =
    drainStaged(spark, stagedDir, srcSchema, ckpt) { (batch, batchId) =>
      commitBatch(spark, tableDir, batch, batchId) { (parent, meta) =>
        graft.operators.VersionedTable.merge(spark, tableDir, batch, keys,
          parent, s"stream-b$batchId", deleteCol, meta = meta)
      }
    }

  /** Manifest of a [[exportStream]] output from the READ-BACK files
    * (same stats as the batch exporter — count, tokens, id sum,
    * md5-prefix checksum per shard), aggregated across all batches. */
  def exportStreamManifest(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(graft.operators.Dedup.tokens(col("text"))).cast("long")).as("n_tokens"),
        sum(col("doc_id")).cast("long").as("sum_id"),
        sum(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long")).as("checksum"))
      .select(col("shard").cast("long").as("shard"), col("n_docs"),
        col("n_tokens"), col("sum_id"), col("checksum"))
}
