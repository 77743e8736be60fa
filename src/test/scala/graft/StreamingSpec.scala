package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventsStreaming

/** Deterministic streaming tests: replay the events table from parquet
  * files with Trigger.AvailableNow into a memory sink, and check the
  * streaming result equals the equivalent batch computation. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val replayDir: String = {
    val dir = Files.createTempDirectory("events-replay").toString
    // normalize column order to match eventSchema
    tables.events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  // Append mode only emits a window once the watermark passes its end;
  // windows later than (max event time - watermark) stay un-finalized at
  // end-of-replay. Tests therefore compare up to that horizon.
  private def horizon(minutesBack: Long): java.sql.Timestamp = {
    val maxTs = tables.events.agg(max($"ts")).as[java.sql.Timestamp].head()
    new java.sql.Timestamp(maxTs.getTime - minutesBack * 60000)
  }

  test("streaming windowed counts equal the batch computation up to the watermark") {
    val stream = EventsStreaming.readEvents(spark, replayDir)
    EventsStreaming.runAvailableNow(
      EventsStreaming.windowedCounts(stream), "win_counts", OutputMode.Append())
    val got = spark.table("win_counts")
      .select($"w_start", $"w_end", $"event_type", $"n_events")
      .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long)].collect().toSet
    val want = tables.events
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select($"window.start", $"window.end", $"event_type", $"n_events")
      .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long)].collect().toSet
    val h = horizon(10)
    assert(got.subsetOf(want))
    val mustHave = want.filter(_._2.before(h))
    assert(mustHave.subsetOf(got))
    assert(got.nonEmpty)
  }

  test("dropDuplicatesWithinWatermark removes a replayed duplicate batch") {
    val dupDir = Files.createTempDirectory("events-dup").toString
    val ev = tables.events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
      .limit(100)
    ev.write.mode("overwrite").parquet(dupDir)
    ev.write.mode("append").parquet(dupDir) // same 100 events again
    val stream = EventsStreaming.readEvents(spark, dupDir)
    EventsStreaming.runAvailableNow(
      EventsStreaming.dedupWithinWatermark(stream), "dedup_out", OutputMode.Append())
    assert(spark.table("dedup_out").select($"event_id").distinct().count() ==
      spark.table("dedup_out").count())
    assert(spark.table("dedup_out").count() == 100)
  }

  test("transformWithState running totals equal batch groupBy") {
    val stream = EventsStreaming.readEvents(spark, replayDir).as[EventsStreaming.Event]
    EventsStreaming.runAvailableNow(
      EventsStreaming.userRunningTotals(stream).toDF(), "user_totals", OutputMode.Update())
    // memory sink in Update mode keeps every emitted row; the final state
    // per user is the row with the max n_events.
    val got = spark.table("user_totals")
      .groupBy($"user_id").agg(max($"n_events").as("n_events"))
      .as[(Long, Long)].collect().toMap
    val want = tables.events.groupBy($"user_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("stream-static enrichment join matches the batch join") {
    val stream = EventsStreaming.readEvents(spark, replayDir)
    val dim = tables.customer.select($"c_custkey", $"c_mktsegment")
    EventsStreaming.runAvailableNow(
      EventsStreaming.enriched(stream, dim, "user_id", "c_custkey")
        .select($"event_id", $"c_mktsegment"),
      "enriched_out", OutputMode.Append())
    val got = spark.table("enriched_out")
      .as[(Long, Option[String])].collect().toSet
    val want = tables.events.join(dim, $"user_id" === $"c_custkey", "left")
      .select($"event_id", $"c_mktsegment")
      .as[(Long, Option[String])].collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("session windows: streaming equals batch session_window up to the watermark") {
    val stream = EventsStreaming.readEvents(spark, replayDir)
    EventsStreaming.runAvailableNow(
      EventsStreaming.sessionCounts(stream), "sess_counts", OutputMode.Append())
    val got = spark.table("sess_counts")
      .select($"user_id", $"w_start", $"w_end", $"n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    val want = tables.events
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"session_window.start", $"session_window.end", $"n_events")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
    val h = horizon(10)
    assert(got.subsetOf(want))
    val mustHave = want.filter(_._3.before(h))
    assert(mustHave.subsetOf(got))
    assert(got.nonEmpty)
  }

  test("checkpoint recovery: restart resumes exactly-once (no re-emitted windows)") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("ckpt-src").toString
    val sink = Files.createTempDirectory("ckpt-sink").toString
    val ckpt = Files.createTempDirectory("ckpt-state").toString
    val ordered = tables.events
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
    val median = ordered.stat.approxQuantile("event_id", Array(0.5), 0.0)(0).toLong
    def run(): Unit = {
      val stream = EventsStreaming.readEvents(spark, src)
      val q = EventsStreaming.windowedCounts(stream)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // phase 1: early half of the timeline arrives and is processed
    ordered.filter($"event_id" <= median).coalesce(1).write.mode("append").parquet(src)
    run()
    // phase 2: the rest arrives; the SAME checkpoint resumes the query
    ordered.filter($"event_id" > median).coalesce(1).write.mode("append").parquet(src)
    run()
    val got = spark.read.parquet(sink)
      .select($"w_start", $"w_end", $"event_type", $"n_events")
      .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long)].collect().toSeq
    // exactly-once across the restart: a (window, type) key appears at
    // most once in the sink even though the query ran twice
    assert(got.nonEmpty)
    assert(got.map(r => (r._1, r._3)).distinct.size == got.size,
      "window re-emitted after checkpoint recovery")
    // and emitted counts agree with the batch computation
    val want = tables.events
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select($"window.start", $"window.end", $"event_type", $"n_events")
      .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long)].collect().toSet
    assert(got.toSet.subsetOf(want))
  }

  test("streaming replay throughput is measured and sane (round-1 gap)") {
    val stream = EventsStreaming.readEvents(spark, replayDir)
    val t0 = System.nanoTime()
    val q = EventsStreaming.runAvailableNow(
      EventsStreaming.windowedCounts(stream), "rate_probe", OutputMode.Append())
    val secs = (System.nanoTime() - t0) / 1e9
    val rows = tables.events.count()
    val progress = q.recentProgress
    assert(progress.nonEmpty, "no progress reported by the streaming query")
    val processed = progress.map(_.numInputRows).sum
    assert(processed == rows, s"processed $processed of $rows input rows")
    info(f"replayed $rows rows in $secs%.2f s (~${rows / secs}%.0f rows/s end-to-end, " +
      f"${progress.length} micro-batches)")
    // loose floor: catches a pathological regression (per-row overheads,
    // accidental per-batch recompute), not host weather
    assert(rows / secs > 50, f"throughput collapsed: ${rows / secs}%.1f rows/s")
  }

  test("streaming near-dup: band ownership equals the batch min-(ts,id) rule across micro-batches") {
    import graft.streaming.CurationStreaming
    // planted corpus: 10/11 exact dups (all bands collide), 20/21
    // near-dups (one word differs), 30 unique. ts monotone in doc_id.
    val base = "the quick brown fox jumps over the lazy dog again and again today ok"
    val docs = Seq(
      (10L, base), (11L, base),
      (20L, base + " extra trailing words here"),
      (21L, base + " extra trailing words there"),
      (30L, "completely different text about spark query engines and columnar execution plans")
    ).toDF("doc_id", "text")
      .withColumn("ts", to_timestamp(lit(1700000000L) + col("doc_id")))
    val staged = Files.createTempDirectory("neardup-replay").toString
    // TWO files -> at least two possible micro-batches; state must
    // carry band ownership across them
    docs.filter($"doc_id" <= 20).coalesce(1).write.mode("append").parquet(staged)
    docs.filter($"doc_id" > 20).coalesce(1).write.mode("append").parquet(staged)
    EventsStreaming.runAvailableNow(
      CurationStreaming.streamNearDupVerdicts(spark, staged),
      "near_dup_verdicts", OutputMode.Update())
    val got = spark.table("near_dup_verdicts")
      .groupBy($"doc_id")
      .agg(max($"dup_band".cast("int")).as("d"))
      .select($"doc_id", ($"d" === 1).as("is_dup"))
      .as[(Long, Boolean)].collect().toMap
    val want = CurationStreaming.batchNearDupFlags(docs)
      .as[(Long, Boolean)].collect().toMap
    assert(got == want, s"stream $got vs batch $want")
  }

  test("exportStream: restart + no-data re-run are exactly-once; manifest equals the batch exporter") {
    import graft.streaming.CurationStreaming
    val tmp = Files.createTempDirectory("export-stream").toString
    val src = s"$tmp/src"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val docs = tables.documents
      .select($"doc_id", $"text", to_timestamp(from_unixtime($"doc_id")).as("ts"))
    val ss = EventsStreaming.replaySession(spark)
    // chunk 1 -> run; chunk 2 -> RESTART from the same checkpoint
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(src)
    CurationStreaming.exportStream(ss, src, out, ckpt, nShards = 8)
    docs.filter($"doc_id" % 2 =!= 0).coalesce(1).write.mode("append").parquet(src)
    CurationStreaming.exportStream(ss, src, out, ckpt, nShards = 8)
    val m1 = CurationStreaming.exportStreamManifest(spark, out)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    // idempotence: a third run with nothing new must not move a byte of stats
    CurationStreaming.exportStream(ss, src, out, ckpt, nShards = 8)
    val m2 = CurationStreaming.exportStreamManifest(spark, out)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(m1.toSeq == m2.toSeq, "no-new-data re-run changed the export")
    // exactly-once: every doc exactly one row across all batch dirs
    assert(spark.read.parquet(out).groupBy($"doc_id").count()
      .filter($"count" > 1).isEmpty)
    assert(spark.read.parquet(out).count() == docs.count())
    // the streaming manifest equals the BATCH exporter's on the same docs
    val batchOut = s"$tmp/batch"
    val mBatch = graft.operators.TrainingPipeline
      .exportShards(docs.select($"doc_id", $"text"), "doc_id", "text", 8, batchOut)
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(m1.toSeq == mBatch.toSeq, "streaming and batch exports must agree")
  }

  test("scd2Stream: snapshot chain equals sequential batch scd2Apply; restart-safe") {
    import graft.streaming.CurationStreaming
    import graft.operators.{Incremental, VersionedTable}
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val tmp = Files.createTempDirectory("scd2-stream").toString
    val src = s"$tmp/src"; val hist = s"$tmp/hist"; val ckpt = s"$tmp/ckpt"
    val t0 = ts("2020-01-01 00:00:00")
    val hist0 = Seq((1L, "a", t0), (2L, "b", t0), (3L, "c", t0))
      .toDF("k", "name", "valid_from")
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val ch1 = Seq((1L, "A"), (2L, "b"), (4L, "d")).toDF("k", "name")
      .withColumn("as_of", lit(ts("2021-01-01 00:00:00")))
    val ch2 = Seq((1L, "AA"), (3L, "c"), (4L, "D")).toDF("k", "name")
      .withColumn("as_of", lit(ts("2022-01-01 00:00:00")))
    val ss = EventsStreaming.replaySession(spark)
    def run(ck: String = ckpt): Unit =
      CurationStreaming.scd2Stream(ss, src, hist, ck, Seq("k"), hist0, ch1.schema)
    def causedBy(e: Throwable, msg: String): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(x => Option(x.getMessage).exists(_.contains(msg)))
    ch1.coalesce(1).write.mode("append").parquet(src)
    run()
    // chunk 2 arrives; RESTART from the same checkpoint
    ch2.coalesce(1).write.mode("append").parquet(src)
    run()
    assert(VersionedTable.latestVersion(spark, hist) == 1L,
      "two change batches must land as two commits")
    // no-new-data run must not commit
    run()
    assert(VersionedTable.latestVersion(spark, hist) == 1L)
    val streamed = CurationStreaming.scd2Latest(spark, hist)
    val batch = Incremental.scd2Apply(
      Incremental.scd2Apply(hist0, ch1.drop("as_of"), Seq("k"),
        ts("2021-01-01 00:00:00")),
      ch2.drop("as_of"), Seq("k"), ts("2022-01-01 00:00:00"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "the streamed history must equal the sequential batch application")
    // version chains contiguous for the twice-updated key
    val k1 = streamed.filter($"k" === 1L)
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect().sortBy(_._3.getTime)
    assert(k1.map(_._2).toSeq == Seq("a", "A", "AA"))
    assert(k1.map(_._4).toSeq ==
      Seq(Some(ts("2021-01-01 00:00:00")), Some(ts("2022-01-01 00:00:00")), None))
    // a batch mixing as_of timestamps is refused
    val tmp2 = Files.createTempDirectory("scd2-mixed").toString
    ch1.unionByName(ch2).coalesce(1).write.parquet(s"$tmp2/src")
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      CurationStreaming.scd2Stream(ss, s"$tmp2/src", s"$tmp2/hist",
        s"$tmp2/ckpt", Seq("k"), hist0, ch1.schema)
    }
    assert(causedBy(thrown, "mixes as_of"))
    // retention is the table's own: keep=1 is refused; keep=2 drops
    // older versions but leaves the current history unchanged
    intercept[IllegalArgumentException] {
      VersionedTable.expire(spark, hist, keep = 1)
    }
    val ch3 = Seq((2L, "BB")).toDF("k", "name")
      .withColumn("as_of", lit(ts("2023-01-01 00:00:00")))
    ch3.coalesce(1).write.mode("append").parquet(src)
    run()
    val after3 = Incremental.scd2Apply(batch, ch3.drop("as_of"), Seq("k"),
      ts("2023-01-01 00:00:00")).collect().toSet
    assert(CurationStreaming.scd2Latest(spark, hist).collect().toSet == after3)
    // lost-checkpoint replay: a FRESH checkpoint re-delivers every
    // batch; the manifest markers make them all inert
    run(s"$tmp/ckpt_fresh")
    assert(VersionedTable.latestVersion(spark, hist) == 2L,
      "replayed batches must be inert, never re-applied")
    // a fresh checkpoint whose batch 0 holds OTHER files than the
    // committed batch 0 diverged: refused, never taken as a replay
    ch2.coalesce(1).write.parquet(s"$tmp/src_regrouped")
    val diverged = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      CurationStreaming.scd2Stream(ss, s"$tmp/src_regrouped", hist,
        s"$tmp/ckpt_regrouped", Seq("k"), hist0, ch1.schema)
    }
    assert(causedBy(diverged, "different contents"))
    val deleted = VersionedTable.expire(spark, hist, keep = 2)
    assert(deleted == Seq(0L), "three applied batches must leave one expirable version")
    assert(CurationStreaming.scd2Latest(spark, hist).collect().toSet == after3)
    // batch 0's marker is gone with v0: a fresh-checkpoint replay of
    // it is below the retained high-water and must refuse, not
    // re-apply ch1 on top of the current history
    val refused = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(s"$tmp/ckpt_expired")
    }
    assert(causedBy(refused, "below the committed high-water"))
    assert(VersionedTable.latestVersion(spark, hist) == 2L)
  }

  test("dqStream: state survives restart and replays exactly once; equals the batch report") {
    import graft.streaming.CurationStreaming
    import graft.operators.{DataQuality, VersionedTable}
    import graft.operators.DataQuality._
    val tmp = Files.createTempDirectory("dq-stream").toString
    val src = s"$tmp/src"; val state = s"$tmp/state"; val ckpt = s"$tmp/ckpt"
    val docs = tables.documents.select($"doc_id", $"text", $"lang", $"n_chars")
    val checks = Seq(NotNull("doc_id"), Completeness("text", 0.99),
      MatchesRatio("lang", "^[a-z]{2}$", 1.0), InRange("n_chars", 1, 100000),
      MinRowCount(100L))
    val ss = EventsStreaming.replaySession(spark)
    def run(ck: String = ckpt): Unit = CurationStreaming.dqStream(
      ss, src, state, ck, checks, docs.schema)
    def report(): Set[Seq[Any]] =
      CurationStreaming.dqLatestReport(spark, state, checks)
        .collect().map(_.toSeq).toSet
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(src)
    run()
    // chunk 2 arrives; RESTART from the same checkpoint
    docs.filter($"doc_id" % 2 =!= 0).coalesce(1).write.mode("append").parquet(src)
    run()
    assert(VersionedTable.latestVersion(spark, state) == 1L)
    val want = DataQuality.report(docs, checks).collect().map(_.toSeq).toSet
    assert(report() == want, "streamed state must equal the batch report over the union")
    // no-new-data rerun and a fresh-checkpoint replay: nothing counted twice
    run()
    run(s"$tmp/ckpt_fresh")
    assert(VersionedTable.latestVersion(spark, state) == 1L)
    assert(report() == want)
  }

  test("streaming near-dup: spot checks, partitioned replay, real-corpus parity") {
    import graft.streaming.CurationStreaming
    val base = "the quick brown fox jumps over the lazy dog again and again today ok"
    val docs = Seq(
      (10L, base), (11L, base),
      (20L, base + " extra trailing words here"),
      (21L, base + " extra trailing words there"),
      (30L, "completely different text about spark query engines and columnar execution plans")
    ).toDF("doc_id", "text")
      .withColumn("ts", to_timestamp(lit(1700000000L) + col("doc_id")))
    // self-contained replay (no dependence on the previous test's sink)
    val staged1 = Files.createTempDirectory("neardup-replay1b").toString
    docs.coalesce(1).write.mode("append").parquet(staged1)
    EventsStreaming.runAvailableNow(
      CurationStreaming.streamNearDupVerdicts(spark, staged1),
      "near_dup_verdicts1b", OutputMode.Update())
    val got = spark.table("near_dup_verdicts1b")
      .groupBy($"doc_id").agg(max($"dup_band".cast("int")).as("d"))
      .select($"doc_id", ($"d" === 1).as("is_dup"))
      .as[(Long, Boolean)].collect().toMap
    val want = CurationStreaming.batchNearDupFlags(docs)
      .as[(Long, Boolean)].collect().toMap
    // semantic spot checks: first copy owns its bands, exact dup flagged
    assert(!got(10L) && got(11L), got.toString)
    assert(got(21L), "near-dup sharing a band with an earlier doc must flag")
    assert(!got(30L), "unique doc must keep")
    // partitioned replay (7 partitions) -> same verdicts (the in-batch
    // sort makes ownership arrival-order-invariant)
    val staged2 = Files.createTempDirectory("neardup-replay2").toString
    docs.repartition(7).write.mode("append").parquet(staged2)
    EventsStreaming.runAvailableNow(
      CurationStreaming.streamNearDupVerdicts(spark, staged2),
      "near_dup_verdicts2", OutputMode.Update())
    val got2 = spark.table("near_dup_verdicts2")
      .groupBy($"doc_id").agg(max($"dup_band".cast("int")).as("d"))
      .select($"doc_id", ($"d" === 1).as("is_dup"))
      .as[(Long, Boolean)].collect().toMap
    assert(got2 == want)
    // real corpus: stream == batch end-to-end
    val staged3 = Files.createTempDirectory("neardup-replay3").toString
    val corpus = tables.documents.select($"doc_id", $"text")
      .withColumn("ts", to_timestamp(lit(1700000000L) + col("doc_id")))
    corpus.coalesce(2).write.mode("append").parquet(staged3)
    EventsStreaming.runAvailableNow(
      CurationStreaming.streamNearDupVerdicts(spark, staged3),
      "near_dup_verdicts3", OutputMode.Update())
    val got3 = spark.table("near_dup_verdicts3")
      .groupBy($"doc_id").agg(max($"dup_band".cast("int")).as("d"))
      .select($"doc_id", ($"d" === 1).as("is_dup"))
      .as[(Long, Boolean)].collect().toMap
    val want3 = CurationStreaming.batchNearDupFlags(corpus)
      .as[(Long, Boolean)].collect().toMap
    assert(got3 == want3)
  }

  test("tableMergeStream: exactly-once merges across restarts, replays, and external writers") {
    import graft.operators.VersionedTable
    import graft.streaming.CurationStreaming
    val tmp = java.nio.file.Files.createTempDirectory("tms").toString
    val src = s"$tmp/src"; val vt = s"$tmp/t"; val ckpt = s"$tmp/ckpt"
    val base = spark.range(100).select($"id".as("k"), ($"id" * 2).as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions("k")
    VersionedTable.commit(spark, vt, base, -1L, "loader",
      statsCols = Some(Seq("k")))
    val ss = graft.streaming.EventsStreaming.replaySession(spark)
    def leg(df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("append").parquet(src)
    val leg1 = spark.range(10).select($"id".as("k"), lit(-1L).as("v"),
      lit(false).as("__del"))
    leg(leg1)
    val schema = leg1.schema
    def run(ck: String = ckpt): Unit = CurationStreaming.tableMergeStream(
      ss, src, vt, Seq("k"), ck, schema, deleteCol = Some("__del"))
    run()
    assert(VersionedTable.latestVersion(spark, vt) == 1L)
    assert(VersionedTable.read(spark, vt).filter($"v" === -1L).count() == 10)
    // restart with nothing new: no commit
    run()
    assert(VersionedTable.latestVersion(spark, vt) == 1L)
    // leg 2: deletes + an insert, applied once across a restart
    leg(spark.range(5).select(($"id" + 20L).as("k"), lit(0L).as("v"),
      lit(true).as("__del"))
      .unionByName(Seq((5000L, 7L, false)).toDF("k", "v", "__del")))
    run()
    assert(VersionedTable.latestVersion(spark, vt) == 2L)
    val after2 = VersionedTable.read(spark, vt)
    assert(after2.count() == 96 && after2.filter($"k" === 5000L).count() == 1)
    // an EXTERNAL writer interleaves; the stream's marker still rules
    VersionedTable.merge(spark, vt, Seq((6000L, 1L)).toDF("k", "v"),
      Seq("k"), 2L, "adhoc")
    run()
    assert(VersionedTable.latestVersion(spark, vt) == 3L,
      "a no-data run after an external commit must not commit")
    // lost-checkpoint replay: a FRESH checkpoint re-delivers every
    // batch; the manifest markers make them all inert
    val before = VersionedTable.read(spark, vt).as[(Long, Long)].collect().toSet
    run(s"$tmp/ckpt2")
    assert(VersionedTable.latestVersion(spark, vt) == 3L)
    assert(VersionedTable.read(spark, vt).as[(Long, Long)].collect().toSet
      == before, "replayed batches must be inert, never double-applied")
  }

  test("production-trigger TTL: band ownership expires; within-horizon dedup still works") {
    // the one previously-untested boundary of the streaming surface
    // (r13 caveat): state TTL needs TimeMode.ProcessingTime, under
    // which an AvailableNow replay never terminates — so this runs a
    // CONTINUOUS trigger with bounded wall-time (explicit stop) and
    // asserts the eviction itself: a doc arriving past the horizon
    // re-owns its band keys (expired state never resurfaces), while a
    // doc within the horizon still deduplicates.
    import graft.streaming.CurationStreaming
    import org.apache.spark.sql.streaming.Trigger
    val tmp = Files.createTempDirectory("neardup-ttl").toString
    val staged = s"$tmp/staged"; val ckpt = s"$tmp/ckpt"
    def stage(ids: Long*): Unit = ids.toDF("doc_id")
      .select($"doc_id",
        lit("the quick brown fox jumps over the lazy dog again").as("text"),
        to_timestamp(from_unixtime($"doc_id" + 1700000000L)).as("ts"))
      .coalesce(1).write.mode("append").parquet(staged)
    stage(1L) // the file source needs an existing path at plan time
    val q = CurationStreaming
      .streamNearDupVerdicts(spark, staged, stateTtlMs = 2000L)
      .writeStream.format("memory").queryName("ttl_verdicts")
      .outputMode("update").option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
    // processAllAvailable is unusable under TimeMode.ProcessingTime
    // (TTL timer batches keep it "not caught up" forever — the same
    // nontermination as AvailableNow); poll the sink with a hard wall
    // bound instead — THAT is the bounded-wall-time discipline this
    // test exists to demonstrate.
    def awaitRows(n: Long): Unit = {
      val t0 = System.currentTimeMillis()
      while (spark.table("ttl_verdicts").count() < n) {
        require(System.currentTimeMillis() - t0 < 90000L,
          s"TTL smoke: sink never reached $n rows")
        Thread.sleep(200L)
      }
    }
    try {
      awaitRows(16L) // doc 1: one verdict per band
      Thread.sleep(3000L) // sleep past the 2 s TTL horizon
      stage(2L, 3L)
      awaitRows(48L)
    } finally q.stop()
    val dup = spark.table("ttl_verdicts").groupBy($"doc_id")
      .agg(max($"dup_band".cast("int")).as("d"))
      .as[(Long, Int)].collect().toMap
    assert(dup(1L) == 0, s"first doc owns its bands: $dup")
    assert(dup(2L) == 0,
      s"doc past the horizon must re-own (state evicted): $dup")
    assert(dup(3L) == 1,
      s"doc within the horizon of doc 2 must still flag: $dup")
  }
}
