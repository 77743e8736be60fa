package graft

import org.apache.spark.sql.functions._
import graft.operators.VersionedTable
import graft.operators.VersionedTable.CommitConflict

/** Atomic commit protocol (operators/VersionedTable.scala): the
  * concurrent-writer CAS, time travel, retention, and orphan
  * vacuuming. The load-bearing claim: two interleaved committers →
  * one wins, one loses LOUDLY, and the table is never torn. */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def df(tag: String, n: Int) =
    spark.range(n).select($"id".as("k"), lit(tag).as("v"))

  test("commit chain, latest read, and time travel") {
    val dir = java.nio.file.Files.createTempDirectory("vt-chain").toString + "/t"
    assert(VersionedTable.latestVersion(spark, dir) == -1L)
    assert(VersionedTable.commit(spark, dir, df("a", 3), -1L, "w1") == 0L)
    assert(VersionedTable.commit(spark, dir, df("b", 5), 0L, "w1") == 1L)
    assert(VersionedTable.latestVersion(spark, dir) == 1L)
    assert(VersionedTable.read(spark, dir).count() == 5)
    assert(VersionedTable.readVersion(spark, dir, 0L)
      .agg(count(lit(1)), first($"v")).as[(Long, String)].collect()
      .toSeq == Seq((3L, "a")))
    // stale expectedVersion refuses up front
    intercept[CommitConflict] {
      VersionedTable.commit(spark, dir, df("c", 1), 0L, "w1")
    }
  }

  test("two interleaved committers: one wins, one loses loudly, never torn") {
    val dir = java.nio.file.Files.createTempDirectory("vt-race").toString + "/t"
    VersionedTable.commit(spark, dir, df("base", 4), -1L, "w0")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val gate = new java.util.concurrent.CyclicBarrier(2)
    def racer(id: String): Future[Either[Throwable, Long]] = Future {
      gate.await()
      try Right(VersionedTable.commit(spark, dir, df(id, 7), 0L, id))
      catch { case t: Throwable => Left(t) }
    }
    val results = Await.result(
      Future.sequence(Seq(racer("wa"), racer("wb"))), 120.seconds)
    val wins = results.collect { case Right(v) => v }
    val losses = results.collect { case Left(t) => t }
    assert(wins == Seq(1L), s"exactly one racer must win: $results")
    assert(losses.length == 1 && losses.head.isInstanceOf[CommitConflict],
      s"the other racer must lose with CommitConflict: $losses")
    // never torn: the table is exactly the winner's content
    val winner = if (results.head.isRight) "wa" else "wb"
    val got = VersionedTable.read(spark, dir)
    assert(got.count() == 7 && got.select($"v").distinct()
      .as[String].collect().toSeq == Seq(winner))
    // the loser's staging is gone; nothing to vacuum
    assert(VersionedTable.vacuum(spark, dir).isEmpty)
    // the loser's documented recovery: re-read, reconcile, retry
    val retried = VersionedTable.commit(spark, dir, df("retry", 2),
      VersionedTable.latestVersion(spark, dir), "loser")
    assert(retried == 2L && VersionedTable.read(spark, dir).count() == 2)
  }

  test("edges: empty-table reads refuse; an empty DataFrame commits fine") {
    val dir = java.nio.file.Files.createTempDirectory("vt-edge").toString + "/t"
    assert(VersionedTable.versions(spark, dir).isEmpty)
    intercept[IllegalArgumentException] { VersionedTable.read(spark, dir) }
    // an empty snapshot is a legitimate version (a full-delete merge)
    VersionedTable.commit(spark, dir, df("x", 3).filter($"k" < 0), -1L, "w")
    assert(VersionedTable.read(spark, dir).count() == 0)
    VersionedTable.commit(spark, dir, df("y", 2), 0L, "w")
    assert(VersionedTable.read(spark, dir).count() == 2)
    // a far-future expectedVersion is stale too, loudly
    intercept[CommitConflict] {
      VersionedTable.commit(spark, dir, df("z", 1), 9L, "w")
    }
    // schema drift refuses unless made explicit (the Delta contract)
    val drifted = spark.range(2).select($"id".as("k"), lit(7L).as("v"))
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, dir, drifted, 1L, "w")
    }
    assert(e.getMessage.contains("allowSchemaChange"))
    assert(VersionedTable.commit(spark, dir, drifted, 1L, "w",
      allowSchemaChange = true) == 2L)
    assert(VersionedTable.read(spark, dir).schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("expire keeps the newest versions; vacuum sweeps crashed-writer orphans") {
    val dir = java.nio.file.Files.createTempDirectory("vt-exp").toString + "/t"
    (0 to 3).foreach(i =>
      VersionedTable.commit(spark, dir, df(s"v$i", i + 1), i - 1L, "w"))
    intercept[IllegalArgumentException] {
      VersionedTable.expire(spark, dir, keep = 1)
    }
    assert(VersionedTable.expire(spark, dir, keep = 2) == Seq(0L, 1L))
    assert(VersionedTable.versions(spark, dir) == Seq(2L, 3L))
    assert(VersionedTable.read(spark, dir).count() == 4)
    intercept[Exception] { VersionedTable.readVersion(spark, dir, 0L).collect() }
    // a crashed writer's staged dir at a SUPERSEDED version number
    // (no manifest references it) is swept...
    df("crash", 9).write.parquet(s"$dir/data/v2-crashed")
    // ...but a dir named for a FUTURE version is a concurrent writer's
    // in-flight staging — vacuum must never touch it (the torn-commit
    // race), and an mtime grace window protects even superseded dirs
    df("inflight", 5).write.parquet(s"$dir/data/v9-inflight")
    assert(VersionedTable.vacuum(spark, dir, graceMs = 3600000L).isEmpty)
    // sweep = the crashed dir + the expired versions' emptied dirs
    assert(VersionedTable.vacuum(spark, dir) ==
      Seq("data/v0-w", "data/v1-w", "data/v2-crashed"))
    assert(!new java.io.File(s"$dir/data/v2-crashed").exists())
    assert(new java.io.File(s"$dir/data/v9-inflight").exists())
    assert(VersionedTable.read(spark, dir).count() == 4)
  }

  test("vacuum racing a staged-but-not-yet-CASed writer: the commit survives") {
    val dir = java.nio.file.Files.createTempDirectory("vt-race2").toString + "/t"
    VersionedTable.commit(spark, dir, df("base", 4), -1L, "w0")
    // simulate a writer that has fully staged v1's data but not yet
    // promoted the manifest: exactly what commit() does before the CAS
    df("staged", 6).write.parquet(s"$dir/data/v1-slow")
    assert(VersionedTable.vacuum(spark, dir).isEmpty,
      "vacuum must not sweep an in-flight staging dir")
    // the writer now lands its manifest — the committed version must
    // have its data intact
    val files = new java.io.File(s"$dir/data/v1-slow").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => s"file=data/v1-slow/${f.getName}").sorted.mkString("\n")
    val b64 = java.util.Base64.getEncoder.encodeToString(
      df("staged", 6).schema.json.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/_log/1.manifest"),
      s"version=1\nparent=0\nwriter=slow\nschema=$b64\ndatadir=data/v1-slow\n$files\n"
        .getBytes("UTF-8"))
    assert(VersionedTable.read(spark, dir).count() == 6)
  }

  test("commitDelta shares unchanged files; removes must be live; stats add up") {
    val dir = java.nio.file.Files.createTempDirectory("vt-delta").toString + "/t"
    // v0: 4 files, clustered so each key range lives in one file
    val base = spark.range(400).select($"id".as("k"), lit("a").as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions("k")
    VersionedTable.commit(spark, dir, base, -1L, "loader")
    val v0Files = VersionedTable.liveFiles(spark, dir, 0L)
    assert(v0Files.length == 4)
    // delta: replace the one file holding k < 100 with updated rows
    val victim = v0Files.head
    val adds = spark.read.parquet(s"$dir/$victim")
      .select($"k", lit("b").as("v"))
    val st = VersionedTable.commitDelta(spark, dir, Some(adds), Seq(victim),
      0L, "delta")
    assert(st.version == 1L && st.filesRemoved == 1L && st.filesTotal == 4L)
    val v1Files = VersionedTable.liveFiles(spark, dir, 1L)
    // unchanged files are SHARED by reference, not rewritten
    assert(v0Files.tail.forall(v1Files.contains))
    assert(!v1Files.contains(victim))
    val v1 = VersionedTable.read(spark, dir)
    assert(v1.count() == 400)
    assert(v1.filter($"v" === "b").count() ==
      spark.read.parquet(s"$dir/$victim").count())
    // time travel still exact: v0 unchanged
    assert(VersionedTable.readVersion(spark, dir, 0L)
      .filter($"v" === "b").count() == 0)
    // a remove list naming a non-live file refuses loudly
    intercept[IllegalArgumentException] {
      VersionedTable.commitDelta(spark, dir, None, Seq(victim), 1L, "delta")
    }
    // a pure-delete delta (no adds) drops a file's rows
    val st2 = VersionedTable.commitDelta(spark, dir, None,
      Seq(v1Files.head), 1L, "pruner")
    assert(st2.filesAdded == 0L && VersionedTable.read(spark, dir).count() < 400)
  }

  test("merge rewrites only touched files; expire keeps shared files alive") {
    val dir = java.nio.file.Files.createTempDirectory("vt-merge").toString + "/t"
    val base = spark.range(800).select($"id".as("k"), ($"id" * 2).as("v"))
      .repartitionByRange(8, $"k").sortWithinPartitions("k")
    VersionedTable.commit(spark, dir, base, -1L, "loader")
    // churn a narrow key range (one file's worth) + one insert
    val ch = spark.range(10).select($"id".as("k"), lit(-1L).as("v"))
      .unionByName(Seq((9999L, 7L)).toDF("k", "v"))
    val st = VersionedTable.merge(spark, dir, ch, Seq("k"), 0L, "merger")
    assert(st.version == 1L)
    assert(st.filesRemoved <= 2 && st.filesRemoved < st.filesTotal,
      s"a narrow-key merge must touch a strict file subset: $st")
    val got = VersionedTable.read(spark, dir)
    assert(got.count() == 801)
    assert(got.filter($"v" === -1L).count() == 10)
    assert(got.filter($"k" === 9999L).count() == 1)
    // delete-merge via the flag
    val del = spark.range(5).select($"id".as("k"), lit(0L).as("v"),
      lit(true).as("__del"))
    VersionedTable.merge(spark, dir, del, Seq("k"), 1L, "merger",
      deleteCol = Some("__del"))
    assert(VersionedTable.read(spark, dir).count() == 796)
    // v2 shares v0's untouched files; expiring v0+v1 must NOT delete
    // files v2 still references
    VersionedTable.commit(spark, dir,
      VersionedTable.read(spark, dir), 2L, "w")  // v3, full rewrite
    assert(VersionedTable.expire(spark, dir, keep = 2) == Seq(0L, 1L))
    assert(VersionedTable.read(spark, dir).count() == 796)
    assert(VersionedTable.readVersion(spark, dir, 2L).count() == 796,
      "v2 must still read exactly after expiry of the versions it shares files with")
  }

  test("compactSmallFiles bin-packs only small files; empty-table merge inserts") {
    val dir = java.nio.file.Files.createTempDirectory("vt-comp").toString + "/t"
    val base = spark.range(100).select($"id".as("k"), lit("x").as("v"))
      .repartition(10)
    VersionedTable.commit(spark, dir, base, -1L, "loader")
    assert(VersionedTable.liveFiles(spark, dir, 0L).length == 10)
    val st = VersionedTable.compactSmallFiles(spark, dir, 0L, "opt",
      smallBytes = 1L << 20, targetFileCount = 2)
    assert(st.isDefined && st.get.filesRemoved == 10L && st.get.filesAdded <= 2L)
    assert(VersionedTable.read(spark, dir).count() == 100)
    // all files now big enough → no-op
    assert(VersionedTable.compactSmallFiles(spark, dir, 1L, "opt",
      smallBytes = 10L).isEmpty)
    // merge into a version where nothing matches = pure insert path
    val ins = Seq((5000L, "new")).toDF("k", "v")
    val st2 = VersionedTable.merge(spark, dir, ins, Seq("k"), 1L, "m")
    assert(st2.filesRemoved == 0L)
    assert(VersionedTable.read(spark, dir).count() == 101)
  }

  test("manifest stats + readWhere: clustered range reads prune files, results exact") {
    val dir = java.nio.file.Files.createTempDirectory("vt-stats").toString + "/t"
    // clustered on k; s/d/dt are monotone in k so every domain clusters
    val base = spark.range(400).select($"id".as("k"),
        format_string("k%05d", $"id").as("s"),
        $"id".cast("double").as("d"),
        date_add(to_date(lit("2020-01-01")), ($"id" / 10).cast("int")).as("dt"))
      .repartitionByRange(4, $"k").sortWithinPartitions("k")
    VersionedTable.commit(spark, dir, base, -1L, "loader",
      statsCols = Some(Seq("k", "s", "d", "dt")))
    val m = VersionedTable.readManifest(spark, dir, 0L)
    assert(m.files.length == 4 && m.files.forall(f =>
      m.stats.get(f).exists(_.keySet == Set("k", "s", "d", "dt"))),
      s"every file needs stats for every stats column: ${m.stats}")
    def exact(bounds: Seq[VersionedTable.ColBound], expectPruned: Boolean,
        rowFilter: org.apache.spark.sql.Column): Unit = {
      val (kept, total) = VersionedTable.prunedFiles(spark, dir, 0L, bounds)
      if (expectPruned) assert(kept.length < total,
        s"bounds $bounds must prune: kept ${kept.length} of $total")
      val got = VersionedTable.readWhere(spark, dir, bounds).filter(rowFilter)
        .select($"k").as[Long].collect().sorted.toSeq
      val want = VersionedTable.read(spark, dir).filter(rowFilter)
        .select($"k").as[Long].collect().sorted.toSeq
      assert(got == want, s"pruned read must be exact for $bounds")
    }
    exact(Seq(VersionedTable.ColBound("k", Some(50L), Some(80L))),
      expectPruned = true, $"k".between(50, 80))
    exact(Seq(VersionedTable.ColBound("s", Some("k00050"), Some("k00080"))),
      expectPruned = true, $"s".between("k00050", "k00080"))
    exact(Seq(VersionedTable.ColBound("d", Some(50.0), Some(80.0))),
      expectPruned = true, $"d".between(50.0, 80.0))
    exact(Seq(VersionedTable.ColBound("dt",
        Some(java.sql.Date.valueOf("2020-01-06")),
        Some(java.sql.Date.valueOf("2020-01-08")))),
      expectPruned = true,
      $"dt".between("2020-01-06", "2020-01-08"))
    // one-sided + conjunction; out-of-range prunes everything
    exact(Seq(VersionedTable.ColBound("k", Some(350L), None)),
      expectPruned = true, $"k" >= 350)
    exact(Seq(VersionedTable.ColBound("k", Some(50L), Some(80L)),
        VersionedTable.ColBound("d", Some(70.0), None)),
      expectPruned = true, $"k".between(50, 80) && $"d" >= 70.0)
    val (none, _) = VersionedTable.prunedFiles(spark, dir, 0L,
      Seq(VersionedTable.ColBound("k", Some(100000L), None)))
    assert(none.isEmpty, "a bound outside every envelope must prune all files")
    assert(VersionedTable.readWhere(spark, dir,
      Seq(VersionedTable.ColBound("k", Some(100000L), None))).count() == 0)
  }

  test("stats inherit through delta and merge; CDF diffs churn files only") {
    val dir = java.nio.file.Files.createTempDirectory("vt-cdf").toString + "/t"
    val base = spark.range(800).select($"id".as("k"), ($"id" * 2).as("v"))
      .repartitionByRange(8, $"k").sortWithinPartitions("k")
    VersionedTable.commit(spark, dir, base, -1L, "loader",
      statsCols = Some(Seq("k")))
    // merge narrow churn (updates + an insert) — statsCols defaults to
    // inherit, so v1's manifest must still cover every live file
    val ch = spark.range(10).select($"id".as("k"), lit(-1L).as("v"))
      .unionByName(Seq((9999L, 7L)).toDF("k", "v"))
    VersionedTable.merge(spark, dir, ch, Seq("k"), 0L, "merger")
    val m1 = VersionedTable.readManifest(spark, dir, 1L)
    assert(m1.files.forall(f => m1.stats.get(f).exists(_.contains("k"))),
      "kept files inherit stats; rewritten files get fresh ones")
    // pruned read on the MERGED version is still exact
    val got = VersionedTable.readWhere(spark, dir,
        Seq(VersionedTable.ColBound("k", Some(0L), Some(9L))))
      .filter($"k" <= 9).select($"v").as[Long].collect().toSeq
    assert(got.nonEmpty && got.forall(_ == -1L),
      "post-merge pruned read must see the merged values")
    // CDF between v0 and v1 equals the full snapshot diff, row for row
    val cdf = VersionedTable.changesBetween(spark, dir, 0L, 1L, Seq("k"))
      .as[(Long, Option[Long], String)].collect().toSet
    val full = graft.operators.Incremental.snapshotDiff(
        VersionedTable.readVersion(spark, dir, 0L),
        VersionedTable.readVersion(spark, dir, 1L), Seq("k"))
      .as[(Long, Option[Long], String)].collect().toSet
    assert(cdf == full, "churn-file CDF must equal the full snapshot diff")
    assert(cdf.count(_._3 == "update") == 10 && cdf.count(_._3 == "insert") == 1)
    // a pure compaction rewrites rows without changing them → CDF EMPTY
    VersionedTable.compactSmallFiles(spark, dir, 1L, "opt",
      smallBytes = 1L << 20, targetFileCount = 2)
    assert(VersionedTable.changesBetween(spark, dir, 1L, 2L, Seq("k")).count() == 0,
      "OPTIMIZE must be invisible to the change feed")
    // ...and v0→v2 still reports exactly the real churn (transitive)
    val cdf02 = VersionedTable.changesBetween(spark, dir, 0L, 2L, Seq("k"))
      .as[(Long, Option[Long], String)].collect().toSet
    assert(cdf02 == full)
    // ADD-COLUMN migration: the feed no longer dead-ends (round 13) —
    // the old side pads with NULLs, so every carried row surfaces as
    // an update (extra NULL→1). Drops/renames/type changes still
    // refuse loudly (DeletionVectorSpec covers the refusal).
    VersionedTable.commit(spark, dir,
      VersionedTable.read(spark, dir).withColumn("extra", lit(1)),
      2L, "w", allowSchemaChange = true)
    val mig = VersionedTable.changesBetween(spark, dir, 1L, 3L, Seq("k"))
    assert(mig.columns.toSeq == Seq("k", "v", "extra", "op"))
    assert(mig.filter($"op" =!= "update").count() == 0 &&
      mig.count() == VersionedTable.readVersion(spark, dir, 1L).count(),
      "an add-column feed is all-updates over the carried rows")
    // merge with an all-NULL key batch: inserts only, touches nothing
    val nullIns = Seq((Option.empty[Long], 42L)).toDF("k", "v")
      .withColumn("extra", lit(1))
    val stN = VersionedTable.merge(spark, dir, nullIns, Seq("k"), 3L, "m2")
    assert(stN.filesRemoved == 0L)
    assert(VersionedTable.read(spark, dir).filter($"k".isNull).count() == 1)
  }

  test("stats edges: all-null pruning, stat-less columns, loud refusals, UTF-8 order") {
    val dir = java.nio.file.Files.createTempDirectory("vt-statedge").toString + "/t"
    // v0: one file whose n is ALL NULL; delta adds a file with values
    val f1 = Seq((1L, Option.empty[Long], "apple"), (2L, Option.empty[Long], "zebra"))
      .toDF("k", "n", "s").coalesce(1)
    VersionedTable.commit(spark, dir, f1, -1L, "w",
      statsCols = Some(Seq("n", "s")))
    val f2 = Seq((3L, Option(5L), "😀a"), (4L, Option(9L), "😀b"))
      .toDF("k", "n", "s").coalesce(1)
    VersionedTable.commitDelta(spark, dir, Some(f2), Seq.empty, 0L, "w")
    // a range bound on n prunes the all-null file (no row can match)
    val (keptN, totalN) = VersionedTable.prunedFiles(spark, dir, 1L,
      Seq(VersionedTable.ColBound("n", Some(1L), Some(9L))))
    assert(totalN == 2 && keptN.length == 1,
      s"the all-null file must be pruned: $keptN")
    assert(VersionedTable.readWhere(spark, dir,
        Seq(VersionedTable.ColBound("n", Some(1L), Some(9L))))
      .filter($"n".between(1, 9)).count() == 2)
    // a bound on a column with NO stats (k was never collected) keeps all
    val (keptK, _) = VersionedTable.prunedFiles(spark, dir, 1L,
      Seq(VersionedTable.ColBound("k", Some(100L), None)))
    assert(keptK.length == 2, "stat-less columns must never prune")
    // UTF-8 byte order: non-BMP strings sort above ASCII, exactly as
    // Spark's binary collation does — pruning must agree
    val (keptS, _) = VersionedTable.prunedFiles(spark, dir, 1L,
      Seq(VersionedTable.ColBound("s", Some("😀"), None)))
    assert(keptS.length == 1, "the ASCII-only file must be pruned")
    assert(VersionedTable.readWhere(spark, dir,
        Seq(VersionedTable.ColBound("s", Some("😀"), None)))
      .filter($"s" >= "😀").count() == 2)
    // explicit statsCols on an unsupported type refuses loudly
    intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, dir,
        VersionedTable.read(spark, dir).withColumn("arr", array(lit(1))),
        1L, "w", allowSchemaChange = true, statsCols = Some(Seq("arr")))
    }
    // ColBound with neither side set refuses at construction
    intercept[IllegalArgumentException] { VersionedTable.ColBound("k") }
  }

  test("metadata commits race writers safely: one wins the CAS, no torn table") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("vt-metarace").toString + "/t"
    VersionedTable.commit(spark, dir,
      spark.range(100).select($"id".as("k"), ($"id" * 2).as("v")),
      -1L, "loader")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val gate = new java.util.concurrent.CyclicBarrier(2)
    def race(a: () => Long, b: () => Long): (Seq[Long], Seq[Throwable]) = {
      val fs = Seq(a, b).map(f => Future {
        gate.await()
        try Right(f()) catch { case t: Throwable => Left(t) }
      })
      val rs = Await.result(Future.sequence(fs), 120.seconds)
      (rs.collect { case Right(v) => v }, rs.collect { case Left(t) => t })
    }
    // addColumns vs merge, both against version 0
    val (wins1, losses1) = race(
      () => VersionedTable.addColumns(spark, dir,
        Seq(StructField("w", DoubleType)), 0L, "mig"),
      () => VersionedTable.merge(spark, dir,
        spark.range(5).select($"id".as("k"), lit(-1L).as("v")),
        Seq("k"), 0L, "m").version)
    assert(wins1 == Seq(1L), s"exactly one metadata/data racer wins: $wins1")
    assert(losses1.length == 1 &&
      losses1.head.isInstanceOf[CommitConflict], s"loser is loud: $losses1")
    // the table is exactly the winner's outcome, never a blend
    val m1 = VersionedTable.readManifest(spark, dir, 1L)
    val hasW = VersionedTable.schemaOf(spark, dir, 1L).fieldNames.contains("w")
    if (hasW) assert(m1.files == VersionedTable.readManifest(spark, dir, 0L).files,
      "an addColumns win must not carry the loser's data churn")
    else assert(VersionedTable.read(spark, dir).filter($"v" === -1L).count() == 5)
    // restore vs addColumns, both metadata-only, both against the tip
    val tip = VersionedTable.latestVersion(spark, dir)
    val (wins2, losses2) = race(
      () => VersionedTable.restore(spark, dir, 0L, tip, "op",
        allowSchemaChange = true),
      () => VersionedTable.addColumns(spark, dir,
        Seq(StructField("w2", DoubleType)), tip, "mig2"))
    assert(wins2 == Seq(tip + 1), s"exactly one metadata racer wins: $wins2")
    assert(losses2.length == 1 &&
      losses2.head.isInstanceOf[CommitConflict], s"loser is loud: $losses2")
    assert(VersionedTable.latestVersion(spark, dir) == tip + 1)
  }

  test("forget: verified erasure — bytes leave files, history, and feeds; cursors gate") {
    val dir = java.nio.file.Files.createTempDirectory("vt-forget").toString + "/t"
    VersionedTable.commit(spark, dir,
      spark.range(200).select($"id".as("k"), concat(lit("u"), $"id").as("email")),
      -1L, "loader", clusterBy = Seq("k"), clusterFiles = 4,
      meta = Map(VersionedTable.FeedKey -> "k"))
    VersionedTable.merge(spark, dir,
      spark.range(5).select(($"id" + 500).as("k"),
        concat(lit("u"), $"id" + 500).as("email")), Seq("k"), 0L, "w")
    val preMasked = VersionedTable.latestVersion(spark, dir)
    val st = VersionedTable.forget(spark, dir, "k % 10 = 3", "gdpr")
    assert(st.rowsForgotten == 21, s"got $st") // 3,13..193 plus the merged 503
    assert(VersionedTable.versions(spark, dir).length == 2,
      "history must collapse to the purged tip + checkpoint")
    assert(st.versionsVerified == 2 && st.feedFilesVerified > 0)
    // BYTE-level proof, below the mask machinery: every retained data
    // file read RAW (no manifest, no DV) must lack the rows
    val live = VersionedTable.liveFiles(spark, dir,
      VersionedTable.latestVersion(spark, dir))
    val raw = spark.read.parquet(live.map(r => s"$dir/$r"): _*)
    assert(raw.filter($"k" % 10 === 3).count() == 0,
      "raw file bytes must not contain forgotten rows")
    assert(raw.count() == 205 - 21)
    // retained feeds carry only DELETE markers for those keys (keys by
    // design — the retraction signal), never attribute values
    val feedSch = VersionedTable.schemaOf(spark, dir,
        VersionedTable.latestVersion(spark, dir))
      .add("op", org.apache.spark.sql.types.StringType)
      .add("version", org.apache.spark.sql.types.LongType)
    val feeds = spark.read.schema(feedSch).parquet(s"$dir/_changes/*")
    assert(feeds.filter($"k" % 10 === 3 && $"op" =!= "delete").count() == 0)
    assert(feeds.filter($"k" % 10 === 3 && $"email".isNotNull).count() == 0)
    // the deleteWhere mask version itself is gone (its files held bytes)
    assert(!VersionedTable.versions(spark, dir).contains(preMasked))
    // idempotent: a re-run finds nothing, verifies, changes nothing
    val st2 = VersionedTable.forget(spark, dir, "k % 10 = 3", "gdpr")
    assert(st2.rowsForgotten == 0)
    assert(VersionedTable.read(spark, dir).count() == 184)
    // a registered cursor gates the erasure LOUDLY (history it shields
    // would keep the bytes) — the masking already happened, so after
    // the consumer is dealt with, the RE-RUN completes the erasure
    VersionedTable.initCursor(spark, dir,
      "etl", VersionedTable.versions(spark, dir).head)
    val eCur = intercept[IllegalArgumentException] {
      VersionedTable.forget(spark, dir, "k % 10 = 4", "gdpr")
    }
    assert(eCur.getMessage.contains("cursor"), eCur.getMessage)
    VersionedTable.dropCursor(spark, dir, "etl")
    VersionedTable.forget(spark, dir, "k % 10 = 4", "gdpr")
    val live2 = VersionedTable.liveFiles(spark, dir,
      VersionedTable.latestVersion(spark, dir))
    assert(spark.read.parquet(live2.map(r => s"$dir/$r"): _*)
      .filter($"k" % 10 === 4 || $"k" % 10 === 3).count() == 0,
      "the completing re-run must finish the byte erasure")
    assert(VersionedTable.read(spark, dir).count() == 163)
  }

  test("widenColumns: metadata-only type widening — null data I/O, empty feed, stats policy") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("vt-widen").toString + "/t"
    val base = spark.range(100).selectExpr("CAST(id AS INT) AS k",
      "CAST(id AS FLOAT) AS x", "CAST(id % 7 AS INT) AS g")
    VersionedTable.commit(spark, dir, base, -1L, "loader",
      clusterBy = Seq("k"), clusterFiles = 4,
      statsCols = Some(Seq("k", "x", "g")),
      meta = Map(VersionedTable.FeedKey -> "k"))
    val f = new java.io.File(s"$dir/data")
    val mt = f.listFiles().flatMap(d =>
      d.listFiles().map(x => x.getPath -> x.lastModified())).toMap
    // refusals: lossy or unsupported changes
    intercept[IllegalArgumentException] {
      VersionedTable.widenColumns(spark, dir, Map("k" -> StringType), 0L, "m")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.widenColumns(spark, dir, Map("nope" -> LongType), 0L, "m")
    }
    // the migration: k INT→LONG (domain-stable), x FLOAT→DOUBLE
    // (domain-stable), g INT→DOUBLE (domain-crossing)
    assert(VersionedTable.widenColumns(spark, dir,
      Map("k" -> LongType, "x" -> DoubleType, "g" -> DoubleType),
      0L, "mig") == 1L)
    f.listFiles().foreach(d => d.listFiles().foreach(x =>
      assert(mt.get(x.getPath).contains(x.lastModified()),
        s"widenColumns touched ${x.getPath}")))
    // reads up-convert natively; values preserved exactly
    val v1 = VersionedTable.readVersion(spark, dir, 1L)
    assert(v1.schema("k").dataType == LongType &&
      v1.schema("x").dataType == DoubleType &&
      v1.schema("g").dataType == DoubleType)
    assert(v1.agg(sum($"k"), sum($"x")).as[(Long, Double)].head ==
      ((4950L, 4950.0)))
    // time travel keeps the old shape
    assert(VersionedTable.readVersion(spark, dir, 0L)
      .schema("k").dataType == IntegerType)
    // the widening's own feed is EMPTY (values preserved → cancel)
    assert(VersionedTable.changesBetween(spark, dir, 0L, 1L, Seq("k"))
      .count() == 0, "a pure widening must feed nothing")
    // stats: domain-stable columns keep pruning, crossing ones drop
    val (keptK, totK) = VersionedTable.prunedFiles(spark, dir, 1L,
      Seq(VersionedTable.ColBound("k", Some(0L), Some(20L))))
    assert(keptK.length < totK, "k stats must survive INT→LONG")
    val m1 = VersionedTable.readManifest(spark, dir, 1L)
    assert(m1.stats.values.forall(!_.contains("g")),
      "domain-crossing stats must drop conservatively")
    // life goes on: a merge against the widened schema works and the
    // CDF across the whole history replays end to end
    VersionedTable.merge(spark, dir,
      Seq((5000000000L, 5.5, 1.0)).toDF("k", "x", "g"), Seq("k"), 1L, "w")
    assert(VersionedTable.read(spark, dir).count() == 101)
    val cdf = VersionedTable.changesBetween(spark, dir, 0L, 2L, Seq("k"))
    assert(cdf.count() == 1 &&
      cdf.head.getAs[Long]("k") == 5000000000L,
      "CDF across the widening is exactly the post-migration churn")
  }

  test("clusterMode zorder: multi-dim skipping beats range; mode survives merge") {
    val dir = java.nio.file.Files.createTempDirectory("vt-zorder").toString
    val grid = spark.range(4096).select(($"id" % 64).as("a"),
      ($"id" / 64).cast("long").as("b"), $"id".as("v"))
    // the same data clustered both ways, same file count
    VersionedTable.commit(spark, s"$dir/z", grid, -1L, "w",
      clusterBy = Seq("a", "b"), clusterFiles = 16, clusterMode = "zorder",
      statsCols = Some(Seq("a", "b")))
    VersionedTable.commit(spark, s"$dir/r", grid, -1L, "w",
      clusterBy = Seq("a", "b"), clusterFiles = 16,
      statsCols = Some(Seq("a", "b")))
    assert(VersionedTable.clusterModeOf(spark, s"$dir/z", 0L) == "zorder")
    assert(VersionedTable.clusterModeOf(spark, s"$dir/r", 0L) == "range")
    // a bound on the SECOND dimension alone: lexicographic files each
    // span all of b (no pruning possible); z-ordered files are
    // rectangles, so most of them cannot contain b < 16
    val boundsB = Seq(VersionedTable.ColBound("b", Some(0L), Some(15L)))
    val (keptRb, totR) = VersionedTable.prunedFiles(spark, s"$dir/r", 0L, boundsB)
    val (keptZb, totZ) = VersionedTable.prunedFiles(spark, s"$dir/z", 0L, boundsB)
    assert(totR == 16 && totZ == 16)
    assert(keptRb.length == 16, "lexicographic clustering cannot prune on b")
    assert(keptZb.length * 2 <= 16,
      s"z-order must prune most files on the second dim: $keptZb")
    // a box probe on both dims: z-rectangles localize it tightly
    val box = Seq(VersionedTable.ColBound("a", Some(0L), Some(15L)),
      VersionedTable.ColBound("b", Some(0L), Some(15L)))
    val (keptZbox, _) = VersionedTable.prunedFiles(spark, s"$dir/z", 0L, box)
    assert(keptZbox.length <= 4, s"box probe must stay local: $keptZbox")
    // pruning is conservative-correct: the pruned read is row-exact
    assert(VersionedTable.readWhere(spark, s"$dir/z", box)
      .filter($"a" < 16 && $"b" < 16).count() == 256)
    // churn: the mode is a table property — merge re-z-orders its
    // rewrites, so the box probe stays local AFTER churn
    val ch = grid.filter($"a" < 8 && $"b" < 8)
      .select($"a", $"b", ($"v" + 100000).as("v"))
    VersionedTable.merge(spark, s"$dir/z", ch, Seq("a", "b"), 0L, "m")
    assert(VersionedTable.clusterModeOf(spark, s"$dir/z", 1L) == "zorder")
    val (keptAfter, totAfter) = VersionedTable.prunedFiles(
      spark, s"$dir/z", 1L, box)
    assert(keptAfter.length * 2 <= totAfter,
      s"skipping must survive churn: ${keptAfter.length}/$totAfter")
    assert(VersionedTable.readWhere(spark, s"$dir/z", box)
      .filter($"a" < 16 && $"b" < 16 && $"v" >= 100000).count() == 64)
    // refusals: zorder needs 2-3 columns; unknown modes are loud
    intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, s"$dir/bad1", grid, -1L, "w",
        clusterBy = Seq("a"), clusterMode = "zorder")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, s"$dir/bad2", grid, -1L, "w",
        clusterBy = Seq("a", "b"), clusterMode = "hilbert")
    }
  }

  test("restore: metadata-only rollback; history preserved; feed undoes the churn") {
    val dir = java.nio.file.Files.createTempDirectory("vt-restore").toString + "/t"
    VersionedTable.commit(spark, dir,
      spark.range(100).select($"id".as("k"), ($"id" * 2).as("v")),
      -1L, "loader", clusterBy = Seq("k"), clusterFiles = 4,
      meta = Map(VersionedTable.FeedKey -> "k"))
    val v0 = VersionedTable.readVersion(spark, dir, 0L)
    // churn: updates + inserts (v1), then a DV delete (v2)
    VersionedTable.merge(spark, dir,
      spark.range(10).select($"id".as("k"), lit(-1L).as("v"))
        .union(spark.range(5).select(($"id" + 500).as("k"), lit(9L).as("v"))),
      Seq("k"), 0L, "m")
    VersionedTable.deleteWhere(spark, dir, "k % 10 = 3", 1L, "gdpr")
    val f = new java.io.File(s"$dir/data")
    val mt = f.listFiles().flatMap(d =>
      d.listFiles().map(x => x.getPath -> x.lastModified())).toMap
    // restore to the same version is a no-op
    assert(VersionedTable.restore(spark, dir, 2L, 2L, "op") == 2L)
    assert(VersionedTable.restore(spark, dir, 0L, 2L, "op") == 3L)
    // METADATA-ONLY: not one data byte moved
    f.listFiles().foreach(d => d.listFiles().foreach(x =>
      assert(mt.get(x.getPath).contains(x.lastModified()),
        s"restore touched ${x.getPath}")))
    // content == v0 exactly; bad history stays time-travelable
    val v3 = VersionedTable.readVersion(spark, dir, 3L)
    assert(v3.exceptAll(v0).isEmpty && v0.exceptAll(v3).isEmpty)
    assert(VersionedTable.versions(spark, dir) == Seq(0L, 1L, 2L, 3L))
    assert(VersionedTable.readVersion(spark, dir, 2L)
      .filter($"k" % 10 === 3).count() == 0, "v2 keeps its DV mask")
    // the restore's own feed UNDOES the churn: the masked rows come
    // back as inserts, the merge updates revert, the inserts delete
    // v1 merged k 0..9 (k=3 later masked) and inserted 500..504; v2
    // masked k%10=3 (10 base rows + the inserted 503). Undo: 4 deletes
    // (the surviving inserts; 503 was already masked so it cancels),
    // 9 updates (surviving merged keys revert), 10 inserts (masked
    // base rows come back)
    val undo = VersionedTable.changesBetween(spark, dir, 2L, 3L, Seq("k"))
    assert(undo.filter($"op" === "delete").count() == 4, "inserts undone")
    assert(undo.filter($"op" === "update").count() == 9, "updates reverted")
    assert(undo.filter($"op" === "insert").count() == 10,
      "DV-deleted rows return")
    // declarations are table policy, not data — they survive restore
    assert(VersionedTable.clusterColsOf(spark, dir, 3L) == Seq("k"))
    assert(VersionedTable.feedKeysOf(spark, dir, 3L) == Seq("k"))
    // an expired target refuses loudly
    (1 to 8).foreach { i =>
      VersionedTable.merge(spark, dir,
        spark.range(2).select(($"id" + 1000L * i).as("k"), lit(0L).as("v")),
        Seq("k"), 2L + i, "m")
    }
    VersionedTable.expire(spark, dir, keep = 2)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.restore(spark, dir,
        0L, VersionedTable.latestVersion(spark, dir), "op")
    }
    assert(e.getMessage.contains("not retained"), e.getMessage)
  }

  test("readAsOf: timestamp time travel, monotone under clock hiccups, refuses pre-birth") {
    val dir = java.nio.file.Files.createTempDirectory("vt-asof").toString + "/t"
    // pin distinct commit instants deterministically (no sleeps): the
    // manifest's in-commit `ts=` line IS the commit time the reader
    // resolves through (authoritative — survives mtime-rewriting
    // copies); graft.commit.clockMs pins it per commit
    val base = 1700000000000L
    def commitAt(ms: Long)(body: => Unit): Unit = {
      spark.conf.set("graft.commit.clockMs", ms.toString)
      try body finally spark.conf.unset("graft.commit.clockMs")
    }
    commitAt(base)(VersionedTable.commit(spark, dir, df("a", 3), -1L, "w"))
    commitAt(base + 60000)(
      VersionedTable.commit(spark, dir, df("b", 5), 0L, "w"))
    commitAt(base + 2 * 60000)(
      VersionedTable.commit(spark, dir, df("c", 7), 1L, "w"))
    def at(ms: Long) =
      VersionedTable.versionAsOf(spark, dir, new java.sql.Timestamp(ms))
    assert(at(base) == 0L)
    assert(at(base + 59999) == 0L)
    assert(at(base + 60000) == 1L)
    assert(at(base + 10 * 60000) == 2L)
    assert(VersionedTable.readAsOf(spark, dir,
      new java.sql.Timestamp(base + 60000)).count() == 5)
    // the instant must be the IN-MANIFEST one, not the file mtime: a
    // distcp/backup-restore rewrites mtimes — resolution must not move
    new java.io.File(s"$dir/_log/1.manifest").setLastModified(base + 9 * 60000)
    assert(at(base + 60000) == 1L,
      "as-of must resolve through ts=, not the (rewritten) mtime")
    // before the first commit: loud refusal, not an empty read
    val e = intercept[IllegalArgumentException] { at(base - 1) }
    assert(e.getMessage.contains("after"), e.getMessage)
    // strict mode: a timestamp AFTER the latest commit refuses instead
    // of silently resolving to latest (the stale-clock guard)
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.versionAsOf(spark, dir,
        new java.sql.Timestamp(base + 10 * 60000), strict = true)
    }
    assert(e2.getMessage.contains("strict"), e2.getMessage)
    assert(VersionedTable.versionAsOf(spark, dir,
      new java.sql.Timestamp(base + 2 * 60000), strict = true) == 2L)
  }

  test("readAsOf: clock hiccup between writers delays visibility, never reorders; legacy manifests fall back to mtime") {
    val dir = java.nio.file.Files.createTempDirectory("vt-asof2").toString + "/t"
    val base = 1700000000000L
    def commitAt(ms: Long)(body: => Unit): Unit = {
      spark.conf.set("graft.commit.clockMs", ms.toString)
      try body finally spark.conf.unset("graft.commit.clockMs")
    }
    // hiccup: v1's wall clock lands AFTER v2's — the running-max
    // canonicalization keeps the mapping monotone (asking for v2's
    // instant must never resolve to the OLDER v1)
    commitAt(base)(VersionedTable.commit(spark, dir, df("a", 3), -1L, "w"))
    commitAt(base + 3 * 60000)(
      VersionedTable.commit(spark, dir, df("b", 5), 0L, "w"))
    commitAt(base + 2 * 60000)(
      VersionedTable.commit(spark, dir, df("c", 7), 1L, "w"))
    def at(ms: Long) =
      VersionedTable.versionAsOf(spark, dir, new java.sql.Timestamp(ms))
    assert(at(base + 2 * 60000) == 0L,
      "a hiccup must delay visibility, never reorder versions")
    assert(at(base + 3 * 60000) == 2L)
    // legacy fallback: strip v1's ts= line (a pre-round-14 manifest) —
    // resolution falls back to its mtime, canonicalized the same way
    val m1 = java.nio.file.Paths.get(s"$dir/_log/1.manifest")
    val stripped = new String(java.nio.file.Files.readAllBytes(m1), "UTF-8")
      .linesIterator.filterNot(_.startsWith("ts=")).mkString("\n") + "\n"
    java.nio.file.Files.write(m1, stripped.getBytes("UTF-8"))
    m1.toFile.setLastModified(base + 60000)
    assert(at(base + 60000) == 1L,
      "a manifest without ts= must resolve through its mtime")
  }

  test("prunedFiles: distributed branch is order- and content-identical to the driver loop") {
    val dir = java.nio.file.Files.createTempDirectory("vt-prunedist").toString + "/t"
    VersionedTable.commit(spark, dir,
      spark.range(4000).select($"id".as("k"), lit("x").as("v")),
      -1L, "w", clusterBy = Seq("k"), clusterFiles = 16)
    val bounds = Seq(VersionedTable.ColBound("k", Some(500L), Some(1700L)))
    val (driverKept, totD) = VersionedTable.prunedFiles(spark, dir, 0L, bounds)
    assert(driverKept.length < totD, "the bound must prune something")
    // force the distributed branch (the 10^7-file shape) on the SAME
    // manifest by dropping the crossover below the live-file count
    spark.conf.set("graft.prune.driverFiles", "1")
    try {
      val (distKept, totJ) = VersionedTable.prunedFiles(spark, dir, 0L, bounds)
      assert(totJ == totD)
      assert(distKept == driverKept,
        s"distributed pruning must match the driver loop exactly:\n" +
          s"driver=$driverKept\njob=$distKept")
      // the read through the distributed decision is row-identical
      val viaJob = VersionedTable.readWhere(spark, dir, bounds)
        .filter($"k".between(500, 1700))
      assert(viaJob.count() == 1201)
    } finally spark.conf.unset("graft.prune.driverFiles")
  }

  test("cursor CDC: poll/ack discipline, crash replay, racing acks, expire shield") {
    val dir = java.nio.file.Files.createTempDirectory("vt-cursor").toString + "/t"
    val base = spark.range(100).select($"id".as("k"), ($"id" * 2).as("v"))
      .repartitionByRange(4, $"k").sortWithinPartitions("k")
    VersionedTable.commit(spark, dir, base, -1L, "loader")
    VersionedTable.initCursor(spark, dir, "c1", 0L)
    // re-init refuses: restarts resume, never rewind
    intercept[IllegalArgumentException] {
      VersionedTable.initCursor(spark, dir, "c1", 0L)
    }
    // caught up → None
    assert(VersionedTable.pollChanges(spark, dir, "c1", Seq("k")).isEmpty)
    // churn leg 1
    VersionedTable.merge(spark, dir,
      Seq((5L, -1L), (2000L, 7L)).toDF("k", "v"), Seq("k"), 0L, "m")
    val Some((feed1, f1, t1)) = VersionedTable.pollChanges(spark, dir, "c1", Seq("k"))
    assert((f1, t1) == (0L, 1L))
    val got1 = feed1.as[(Long, Option[Long], String)].collect().toSet
    assert(got1 == Set((5L, Some(-1L), "update"), (2000L, Some(7L), "insert")))
    // crash BEFORE ack: the re-poll delivers the identical feed
    val Some((feed1b, _, _)) = VersionedTable.pollChanges(spark, dir, "c1", Seq("k"))
    assert(feed1b.as[(Long, Option[Long], String)].collect().toSet == got1)
    VersionedTable.ackChanges(spark, dir, "c1", 0L, 1L)
    // a second ack of the same range (racing instance) loses LOUDLY
    intercept[CommitConflict] {
      VersionedTable.ackChanges(spark, dir, "c1", 0L, 1L)
    }
    // churn leg 2 accumulates with leg 3 into ONE poll (cursor → latest)
    VersionedTable.merge(spark, dir,
      Seq((7L, -2L)).toDF("k", "v"), Seq("k"), 1L, "m")
    VersionedTable.merge(spark, dir,
      Seq((7L, -3L)).toDF("k", "v"), Seq("k"), 2L, "m")
    val Some((feed2, f2, t2)) = VersionedTable.pollChanges(spark, dir, "c1", Seq("k"))
    assert((f2, t2) == (1L, 3L))
    assert(feed2.as[(Long, Option[Long], String)].collect().toSet ==
      Set((7L, Some(-3L), "update")),
      "a multi-version poll must collapse to the NET change")
    // expire refuses to drop the versions the lagging cursor still needs
    VersionedTable.commit(spark, dir, VersionedTable.read(spark, dir), 3L, "w")
    val dropped = VersionedTable.expire(spark, dir, keep = 2)
    assert(!dropped.contains(1L),
      s"version 1 is cursor-shielded (cursor=1), dropped=$dropped")
    // the shielded version still reads (its files survived expiry)
    assert(VersionedTable.readVersion(spark, dir, 1L).count() == 101)
    // consumer catches up; the shield lifts on the next expire
    VersionedTable.ackChanges(spark, dir, "c1", 1L, 4L)
    assert(VersionedTable.pollChanges(spark, dir, "c1", Seq("k")).isEmpty)
    // a decommissioned-but-undropped consumer would pin old versions
    // forever; dropCursor is the GC that lifts its shield
    VersionedTable.commit(spark, dir, VersionedTable.read(spark, dir), 4L, "w")
    VersionedTable.initCursor(spark, dir, "dead", 2L)
    assert(VersionedTable.expire(spark, dir, keep = 2)
      .forall(_ < 2L), "the dead consumer must shield version 2")
    VersionedTable.dropCursor(spark, dir, "dead")
    assert(VersionedTable.oldestCursor(spark, dir).contains(4L))
    assert(VersionedTable.expire(spark, dir, keep = 2).contains(2L),
      "dropping the cursor lifts the shield")
  }

  test("CHECK expectations: bad commits refused with counts, constraints persist and inherit") {
    import graft.operators.VersionedTable.ExpectationViolation
    val dir = java.nio.file.Files.createTempDirectory("vt-expect").toString + "/t"
    val base = spark.range(50).select($"id".as("k"), ($"id" * 2).as("v"))
    // declaring a constraint the BASE violates refuses the very first commit
    intercept[ExpectationViolation] {
      VersionedTable.commit(spark, dir, base, -1L, "w",
        expectations = Map("v_small" -> "v < 10"))
    }
    assert(VersionedTable.latestVersion(spark, dir) == -1L,
      "a refused v0 must leave no table")
    VersionedTable.commit(spark, dir, base, -1L, "w",
      expectations = Map("v_nonneg" -> "v >= 0", "k_notnull" -> "k IS NOT NULL"))
    assert(VersionedTable.tableExpectations(spark, dir, 0L).keySet ==
      Set("v_nonneg", "k_notnull"))
    // a clean merge passes; the constraint set rides into the child
    VersionedTable.merge(spark, dir, Seq((3L, 7L)).toDF("k", "v"), Seq("k"), 0L, "m")
    assert(VersionedTable.tableExpectations(spark, dir, 1L).size == 2,
      "expectations must inherit through delta commits")
    // a violating merge is refused: counts reported, table unchanged
    val boom = intercept[ExpectationViolation] {
      VersionedTable.merge(spark, dir,
        Seq((4L, -5L), (5L, -6L), (6L, 1L)).toDF("k", "v"), Seq("k"), 1L, "m")
    }
    assert(boom.getMessage.contains("v_nonneg") && boom.getMessage.contains("2 rows"))
    assert(VersionedTable.latestVersion(spark, dir) == 1L)
    assert(VersionedTable.read(spark, dir).filter($"v" < 0).count() == 0)
    // NULL is a violation (the SQL CHECK discipline): null v refused
    intercept[ExpectationViolation] {
      VersionedTable.merge(spark, dir,
        Seq((Option(9L), Option.empty[Long])).toDF("k", "v"), Seq("k"), 1L, "m")
    }
    // staging from refused commits is sweepable garbage, never live
    assert(VersionedTable.read(spark, dir).count() == 50)
    // dropping a constraint is EXPLICIT: an empty-sql override removes
    // it from the child, and the previously-refused rows then commit
    VersionedTable.merge(spark, dir, Seq((4L, -5L)).toDF("k", "v"),
      Seq("k"), VersionedTable.latestVersion(spark, dir), "m",
      meta = Map.empty, expectations = Map("v_nonneg" -> ""))
    val vNow = VersionedTable.latestVersion(spark, dir)
    assert(VersionedTable.tableExpectations(spark, dir, vNow).keySet ==
      Set("k_notnull"), "the dropped constraint must not inherit")
    assert(VersionedTable.read(spark, dir).filter($"v" === -5L).count() == 1)
  }

  test("clusterBy declaration: merge re-clusters rewrites so skipping survives uniform churn") {
    val dir = java.nio.file.Files.createTempDirectory("vt-cluster").toString + "/t"
    // commit with clusterBy: reshape + declaration + default stats index
    VersionedTable.commit(spark, dir,
      spark.range(800).select($"id".as("k"), ($"id" * 2).as("v")),
      -1L, "w", clusterBy = Seq("k"), clusterFiles = 8)
    assert(VersionedTable.clusterColsOf(spark, dir, 0L) == Seq("k"))
    val m0 = VersionedTable.readManifest(spark, dir, 0L)
    assert(m0.files.forall(f => m0.stats.get(f).exists(_.contains("k"))),
      "clusterBy must default the stats index to the clustering columns")
    // UNIFORM churn: every file rewrites — the worst case. Without the
    // declaration the merge join's hash shuffle would spread every key
    // range across every output file and stats could prune nothing.
    VersionedTable.merge(spark, dir,
      spark.range(8).select(($"id" * 100).as("k"), lit(-1L).as("v")),
      Seq("k"), 0L, "m")
    assert(VersionedTable.clusterColsOf(spark, dir, 1L) == Seq("k"),
      "the declaration must inherit through the merge commit")
    val (kept, total) = VersionedTable.prunedFiles(spark, dir, 1L,
      Seq(VersionedTable.ColBound("k", Some(0L), Some(99L))))
    assert(total > 1 && kept.length * 2 <= total,
      s"skipping must survive a uniform-churn merge: kept ${kept.length} of $total")
    // and the re-clustered table is still exactly right
    val got = VersionedTable.read(spark, dir)
    assert(got.count() == 800 && got.filter($"v" === -1L).count() == 8)
    assert(VersionedTable.readWhere(spark, dir,
        Seq(VersionedTable.ColBound("k", Some(0L), Some(99L))))
      .filter($"k" <= 99).count() ==
      got.filter($"k" <= 99).count(), "pruned read stays exact")
    // OPTIMIZE with no explicit reshape bin-packs INTO the clustering
    // order, so compaction tightens envelopes instead of scrambling
    val st = VersionedTable.compactSmallFiles(spark, dir, 1L, "opt",
      smallBytes = 1L << 30, targetFileCount = 4)
    assert(st.isDefined && st.get.version == 2L)
    val (kept2, total2) = VersionedTable.prunedFiles(spark, dir, 2L,
      Seq(VersionedTable.ColBound("k", Some(0L), Some(99L))))
    assert(total2 == 4 && kept2.length == 1,
      s"post-compaction skipping must still prune: $kept2 of $total2")
    assert(VersionedTable.read(spark, dir).count() == 800)
  }

  test("replicate: first sync full, churn sync incremental, stats ride along, no-op idempotent") {
    val root = java.nio.file.Files.createTempDirectory("vt-repl").toString
    val src = s"$root/src"; val dst = s"$root/dst"
    val base = spark.range(800).select($"id".as("k"), ($"id" * 2).as("v"))
      .repartitionByRange(8, $"k").sortWithinPartitions("k")
    VersionedTable.commit(spark, src, base, -1L, "loader",
      statsCols = Some(Seq("k")))
    val r0 = VersionedTable.replicate(spark, src, dst)
    assert(r0.version == 0L && r0.filesShared == 0L && r0.filesCopied == 8L)
    assert(r0.bytesCopied == r0.bytesTable, "first sync ships everything")
    assert(VersionedTable.read(spark, dst).exceptAll(
      VersionedTable.read(spark, src)).isEmpty)
    // localized churn at the source → the re-sync ships only churn
    val ch = spark.range(10).select($"id".as("k"), lit(-1L).as("v"))
    VersionedTable.merge(spark, src, ch, Seq("k"), 0L, "m")
    val r1 = VersionedTable.replicate(spark, src, dst)
    assert(r1.version == 1L && r1.filesShared >= 6L,
      s"unchanged files must not re-ship: $r1")
    assert(r1.bytesCopied * 4 < r1.bytesTable,
      s"a 10-row churn sync must ship a small fraction of the table: $r1")
    val s2 = VersionedTable.read(spark, src)
    val d2 = VersionedTable.read(spark, dst)
    assert(d2.exceptAll(s2).isEmpty && s2.exceptAll(d2).isEmpty)
    // stats rode along: the replica prunes without any footer work
    val (kept, total) = VersionedTable.prunedFiles(spark, dst, 1L,
      Seq(VersionedTable.ColBound("k", Some(0L), Some(9L))))
    assert(total == 8 + 1 - 1 && kept.length * 2 <= total,
      s"replica skipping must work from the copied manifest: $kept of $total")
    // already current → no-op, no new version
    val r2 = VersionedTable.replicate(spark, src, dst)
    assert(r2.version == -1L && r2.filesCopied == 0L)
    assert(VersionedTable.latestVersion(spark, dst) == 1L)
    // replica history is independent: its own expire works
    VersionedTable.merge(spark, src,
      spark.range(5).select(($"id" + 2000L).as("k"), lit(9L).as("v")),
      Seq("k"), 1L, "m")
    VersionedTable.replicate(spark, src, dst)
    assert(VersionedTable.expire(spark, dst, keep = 2) == Seq(0L))
    assert(VersionedTable.read(spark, dst).count() ==
      VersionedTable.read(spark, src).count())
  }

  test("replication × cursors: replica lag shields source expire; cursors never ship") {
    val root = java.nio.file.Files.createTempDirectory("vt-repl-cur").toString
    val src = s"$root/src"; val dst = s"$root/dst"
    VersionedTable.commit(spark, src,
      spark.range(100).select($"id".as("k"), ($"id" * 2).as("v")),
      -1L, "loader")
    // a consumer cursor on the source, then replicate: cursors are
    // consumer state bound to THIS table instance's version numbering
    // — they must NOT appear at the replica
    VersionedTable.initCursor(spark, src, "etl", 0L)
    VersionedTable.replicate(spark, src, dst)
    assert(VersionedTable.cursorVersion(spark, dst, "etl").isEmpty,
      "consumer cursors must not replicate")
    assert(!new java.io.File(s"$dst/_cursors/etl").exists())
    // ...but the SOURCE gained a replica-lag cursor at the synced version
    val rc = VersionedTable.replicaCursorName(dst)
    assert(VersionedTable.cursorVersion(spark, src, rc).contains(0L),
      "replicate must record the replica's synced version on the source")
    // the replica falls behind while the source churns 4 more versions
    (1 to 4).foreach { i =>
      VersionedTable.merge(spark, src,
        spark.range(5).select(($"id" + 1000L * i).as("k"), lit(i.toLong).as("v")),
        Seq("k"), i - 1L, "m")
    }
    VersionedTable.dropCursor(spark, src, "etl") // isolate the replica shield
    // expire would drop v0..v2 under keep=2 — the replica cursor at v0
    // extends retention instead (a lagging replica never loses its diff)
    assert(VersionedTable.expire(spark, src, keep = 2).isEmpty,
      "source expire must respect the replica-lag cursor")
    assert(VersionedTable.versions(spark, src).contains(0L))
    // re-sync catches the replica up; the cursor advances; expire frees
    VersionedTable.replicate(spark, src, dst)
    assert(VersionedTable.cursorVersion(spark, src, rc).contains(4L))
    assert(VersionedTable.expire(spark, src, keep = 2) == Seq(0L, 1L, 2L))
    // failover discipline: a consumer moving to the replica must
    // re-bootstrap — acking the replica with source version numbers
    // refuses loudly (no cursor exists there)
    intercept[IllegalStateException] {
      VersionedTable.pollChanges(spark, dst, "etl", Seq("k"))
    }
    // a decommissioned replica is GC'd explicitly; retention frees up
    VersionedTable.dropCursor(spark, src, VersionedTable.replicaCursorName(dst))
    assert(VersionedTable.oldestCursor(spark, src).isEmpty)
  }

  test("replicate carries meta: expectations + clustering survive at the replica") {
    val root = java.nio.file.Files.createTempDirectory("vt-repl-meta").toString
    val src = s"$root/src"; val dst = s"$root/dst"
    val base = spark.range(100).select($"id".as("k"), ($"id" * 2).as("v"))
    VersionedTable.commit(spark, src, base, -1L, "loader",
      clusterBy = Seq("k"), clusterFiles = 4,
      expectations = Map("v_nonneg" -> "v >= 0"))
    VersionedTable.replicate(spark, src, dst)
    // the constraint constrains REPLICA commits too
    assert(VersionedTable.tableExpectations(spark, dst, 0L) ==
      Map("v_nonneg" -> "v >= 0"),
      "persisted CHECK expectations must survive replication")
    assert(VersionedTable.clusterColsOf(spark, dst, 0L) == Seq("k"),
      "the clustering declaration must survive replication")
    intercept[VersionedTable.ExpectationViolation] {
      VersionedTable.merge(spark, dst,
        spark.range(3).select($"id".as("k"), lit(-5L).as("v")),
        Seq("k"), 0L, "m")
    }
  }

  test("inherited stats are dropped when a column's type changes across domains") {
    val dir = java.nio.file.Files.createTempDirectory("vt-evostats").toString + "/t"
    // v0: 4 clustered files with Long stats on k
    VersionedTable.commit(spark, dir,
      spark.range(400).select($"id".as("k"), lit("x").as("v")),
      -1L, "w", clusterBy = Seq("k"), clusterFiles = 4)
    val m0 = VersionedTable.readManifest(spark, dir, 0L)
    assert(m0.stats.nonEmpty && m0.stats.values.forall(_.contains("k")))
    // v1: schema change k Long → String via a delta that keeps v0's files.
    // The kept files' 'l'-domain encodings must NOT survive into a manifest
    // whose schema says k is a 'b'-domain string — they would decode as
    // garbage and could silently prune files that contain matches.
    val adds = spark.range(5).select(concat(lit("k"), $"id").as("k"),
      lit("y").as("v"))
    VersionedTable.commitDelta(spark, dir, Some(adds), Seq.empty, 0L, "w",
      allowSchemaChange = true)
    val m1 = VersionedTable.readManifest(spark, dir, 1L)
    val keptRels = m0.files.toSet
    assert(m1.files.exists(keptRels), "v0 files are shared into v1")
    assert(m1.stats.filter { case (rel, _) => keptRels(rel) }
        .values.forall(!_.contains("k")),
      s"kept files must lose their old-domain k stats: ${m1.stats}")
    // pruning on the string column stays conservative-correct: old files
    // (no stats) are always kept
    val (kept, total) = VersionedTable.prunedFiles(spark, dir, 1L,
      Seq(VersionedTable.ColBound("k", Some("k0"), Some("k4"))))
    assert(kept.toSet.intersect(keptRels) == keptRels.intersect(m1.files.toSet),
      "files without usable stats are never pruned")
    assert(total == m1.files.length)
  }

  test("addColumns: metadata-only ADD COLUMN — no data touched, null-fill, feed empty") {
    val dir = java.nio.file.Files.createTempDirectory("vt-addcol").toString + "/t"
    val f = new java.io.File(s"$dir/data")
    VersionedTable.commit(spark, dir,
      spark.range(100).select($"id".as("k"), ($"id" * 2).as("v")),
      -1L, "loader", clusterBy = Seq("k"), clusterFiles = 4,
      expectations = Map("k_nonneg" -> "k >= 0"),
      meta = Map(VersionedTable.FeedKey -> "k"))
    val dataDirs0 = f.listFiles().map(_.getName).toSet
    val mtimes0 = f.listFiles().flatMap(d =>
      d.listFiles().map(x => x.getPath -> x.lastModified())).toMap
    import org.apache.spark.sql.types._
    // refusals: non-nullable, case-insensitive collision, stale version
    intercept[IllegalArgumentException] {
      VersionedTable.addColumns(spark, dir,
        Seq(StructField("w", LongType, nullable = false)), 0L, "mig")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.addColumns(spark, dir,
        Seq(StructField("K", StringType)), 0L, "mig")
    }
    intercept[CommitConflict] {
      VersionedTable.addColumns(spark, dir,
        Seq(StructField("w", LongType)), 5L, "mig")
    }
    assert(VersionedTable.addColumns(spark, dir,
      Seq(StructField("w", DoubleType), StructField("tag", StringType)),
      0L, "mig") == 1L)
    // METADATA-ONLY: no new data dirs, no byte of v0 rewritten
    assert(f.listFiles().map(_.getName).toSet == dataDirs0,
      "addColumns must not stage data")
    f.listFiles().foreach(d => d.listFiles().foreach(x =>
      assert(mtimes0(x.getPath) == x.lastModified(),
        s"addColumns touched ${x.getPath}")))
    // time travel: v0 keeps its own schema; v1 null-fills
    assert(VersionedTable.readVersion(spark, dir, 0L).columns.toSeq ==
      Seq("k", "v"))
    val v1 = VersionedTable.readVersion(spark, dir, 1L)
    assert(v1.columns.toSeq == Seq("k", "v", "w", "tag"))
    assert(v1.filter($"w".isNotNull || $"tag".isNotNull).count() == 0)
    assert(v1.count() == 100)
    // persisted declarations ride along
    assert(VersionedTable.tableExpectations(spark, dir, 1L)
      .contains("k_nonneg"))
    assert(VersionedTable.clusterColsOf(spark, dir, 1L) == Seq("k"))
    // the migration's own feed is EMPTY (nothing material changed) —
    // the feed dir exists (the stream never stalls on a gap) with no rows
    assert(new java.io.File(s"$dir/_changes/v1").exists())
    assert(spark.read.schema(VersionedTable.schemaOf(spark, dir, 1L)
        .add("op", StringType).add("version", LongType))
      .parquet(s"$dir/_changes/v1").count() == 0)
    assert(VersionedTable.feedResets(spark, dir).isEmpty,
      "an add-column migration is NOT a feed reset")
    // backfill via merge: stats/skipping machinery keeps working and
    // the CDF across the whole migration is exactly the backfill
    val fill = spark.range(100).filter($"id" % 5 === 0)
      .select($"id".as("k"), ($"id" * 2).as("v"),
        ($"id" * 1.5).as("w"), concat(lit("t"), $"id").as("tag"))
    VersionedTable.merge(spark, dir, fill, Seq("k"), 1L, "backfill")
    val cdf = VersionedTable.changesBetween(spark, dir, 0L, 2L, Seq("k"))
    assert(cdf.filter($"op" =!= "update").count() == 0)
    assert(cdf.count() == 20, "CDF across the migration = the backfill")
    assert(cdf.filter($"w".isNull).count() == 0)
    // and the feed-declared stream sees the backfill rows at v2
    assert(spark.read.schema(VersionedTable.schemaOf(spark, dir, 2L)
        .add("op", StringType).add("version", LongType))
      .parquet(s"$dir/_changes/v2").count() == 20)
  }

  test("expectation that no longer resolves refuses as ExpectationViolation, staging cleaned") {
    val dir = java.nio.file.Files.createTempDirectory("vt-expres").toString + "/t"
    VersionedTable.commit(spark, dir,
      spark.range(10).select($"id".as("k"), ($"id" % 5).as("v")),
      -1L, "w", expectations = Map("v_nonneg" -> "v >= 0"))
    // drop column v under allowSchemaChange: the persisted constraint
    // can no longer analyze — must refuse as an ExpectationViolation
    // (the commit-boundary error), not leak a raw AnalysisException
    val noV = spark.range(10).select($"id".as("k"))
    val ex = intercept[VersionedTable.ExpectationViolation] {
      VersionedTable.commit(spark, dir, noV, 0L, "w",
        allowSchemaChange = true)
    }
    assert(ex.getMessage.contains("v_nonneg"), ex.getMessage)
    assert(VersionedTable.latestVersion(spark, dir) == 0L, "table unchanged")
    // staging cleaned: no orphan dirs beyond the committed one
    val f = new java.io.File(s"$dir/data")
    assert(f.listFiles().count(_.getName.startsWith("v1-")) == 0,
      "refused commit must not leak its staging dir")
    // the documented escape hatch: explicit empty-sql override drops it
    VersionedTable.commit(spark, dir, noV, 0L, "w",
      allowSchemaChange = true, expectations = Map("v_nonneg" -> ""))
    assert(VersionedTable.tableExpectations(spark, dir, 1L).isEmpty)
  }

  // ───── optimistic rebase on logical disjointness (round 14) ─────

  private def clusteredTable(dir: String, n: Int, files: Int): Unit =
    VersionedTable.commit(spark, dir,
      spark.range(n).select($"id".as("k"), ($"id" % 97).as("x")),
      -1L, "loader", clusterBy = Seq("k"), clusterFiles = files)

  private def fileDf(dir: String, rel: String) =
    spark.read.parquet(s"$dir/$rel")

  test("rebase: disjoint-file deltas BOTH commit — the loser re-stamps, no data rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("vt-rb1").toString + "/t"
    clusteredTable(dir, 4000, 4)
    val live0 = VersionedTable.liveFiles(spark, dir, 0L)
    assert(live0.length == 4)
    // writer B lands first: rewrites the last file
    val b = VersionedTable.commitDelta(spark, dir,
      Some(fileDf(dir, live0(3)).withColumn("x", $"x" + 1).coalesce(1)),
      Seq(live0(3)), 0L, "wB", readSet = Seq(live0(3)))
    assert(b.version == 1L)
    // writer A planned against v0 (now superseded) with a DISJOINT
    // footprint (first file only) — with a rebase budget it must land
    // as v2 without redoing its write
    val mtimes0 = VersionedTable.liveFiles(spark, dir, 1L).map(rel =>
      rel -> new java.io.File(s"$dir/$rel").lastModified).toMap
    val a = VersionedTable.commitDelta(spark, dir,
      Some(fileDf(dir, live0(0)).withColumn("x", $"x" + 10).coalesce(1)),
      Seq(live0(0)), 0L, "wA", readSet = Seq(live0(0)), rebaseAttempts = 2)
    assert(a.version == 2L)
    val live2 = VersionedTable.liveFiles(spark, dir, 2L).toSet
    assert(!live2.contains(live0(0)) && !live2.contains(live0(3)))
    assert(live2.contains(live0(1)) && live2.contains(live0(2)))
    // no pre-existing data file was rewritten by the rebase
    mtimes0.foreach { case (rel, t0) =>
      if (live2.contains(rel))
        assert(new java.io.File(s"$dir/$rel").lastModified == t0,
          s"rebase must not rewrite $rel")
    }
    // both writers' content present in the serial-equivalent result
    // (range-partition boundaries are sampled, not exact — compare
    // against the actual per-file row counts, not assumed key ranges)
    val cnt0 = fileDf(dir, live0(0)).count()
    val cnt3 = fileDf(dir, live0(3)).count()
    val t = VersionedTable.read(spark, dir)
    assert(t.count() == 4000)
    assert(t.filter($"x" === ($"k" % 97) + 10).count() == cnt0,
      "A's rewrite visible")
    assert(t.filter($"x" === ($"k" % 97) + 1).count() == cnt3,
      "B's rewrite visible")
    // OVERLAPPING footprints stay one-winner-loud: C also planned at
    // v0 and rewrites the file B already removed
    val e = intercept[CommitConflict] {
      VersionedTable.commitDelta(spark, dir,
        Some(fileDf(dir, live0(3)).coalesce(1)), Seq(live0(3)), 0L, "wC",
        readSet = Seq(live0(3)), rebaseAttempts = 5)
    }
    assert(e.getMessage.contains("cannot rebase"), e.getMessage)
    // without a budget the behavior is exactly the old one
    intercept[CommitConflict] {
      VersionedTable.commitDelta(spark, dir,
        Some(fileDf(dir, live0(1)).coalesce(1)), Seq(live0(1)), 0L, "wD")
    }
  }

  test("rebase conflict rules: re-mask, read-scope add, and declaration change all refuse; provably-outside adds pass") {
    val dir = java.nio.file.Files.createTempDirectory("vt-rb2").toString + "/t"
    clusteredTable(dir, 4000, 4)
    val live0 = VersionedTable.liveFiles(spark, dir, 0L)
    // winner masks rows in the first file (dv change, no path change)
    val del = VersionedTable.deleteWhere(spark, dir, "k < 10", 0L, "del")
    assert(del.version == 1L && del.filesMasked == 1L)
    // a loser that READ the re-masked file refuses
    intercept[CommitConflict] {
      VersionedTable.commitDelta(spark, dir,
        Some(fileDf(dir, live0(1)).coalesce(1)), Seq(live0(1)), 0L, "w1",
        readSet = Seq(live0(0), live0(1)), rebaseAttempts = 3)
    }
    // one that read only untouched files rebases
    val ok = VersionedTable.commitDelta(spark, dir,
      Some(fileDf(dir, live0(2)).coalesce(1)), Seq(live0(2)), 0L, "w2",
      readSet = Seq(live0(2)), rebaseAttempts = 3)
    assert(ok.version == 2L)
    // winner appends far-away keys (fresh stats ride the staged file)
    VersionedTable.commitDelta(spark, dir,
      Some(spark.range(100000, 100010)
        .select($"id".as("k"), ($"id" % 97).as("x"))),
      Seq.empty, 2L, "app")
    // predicate-scoped loser whose bounds provably MISS the added
    // file rebases; bounds that intersect it refuse; no bounds refuse
    val ok2 = VersionedTable.commitDelta(spark, dir, None, Seq.empty, 2L,
      "chk1", readBounds = Seq(VersionedTable.ColBound("k",
        Some(0L), Some(50L))), readsTable = true, rebaseAttempts = 3)
    assert(ok2.version == 4L)
    intercept[CommitConflict] {
      VersionedTable.commitDelta(spark, dir, None, Seq.empty, 2L, "chk2",
        readBounds = Seq(VersionedTable.ColBound("k",
          Some(100000L), Some(100005L))), readsTable = true,
        rebaseAttempts = 3)
    }
    intercept[CommitConflict] {
      VersionedTable.commitDelta(spark, dir, None, Seq.empty, 2L, "chk3",
        readsTable = true, rebaseAttempts = 3)
    }
    // declaration change refuses: expectations were enforced against
    // the loser's staged rows under the OLD declarations
    VersionedTable.commitDelta(spark, dir, None, Seq.empty, 4L, "decl",
      expectations = Map("nonneg" -> "k >= 0"))
    intercept[CommitConflict] {
      VersionedTable.commitDelta(spark, dir,
        Some(spark.range(200000, 200005)
          .select($"id".as("k"), ($"id" % 97).as("x"))),
        Seq.empty, 4L, "w3", rebaseAttempts = 3)
    }
  }

  test("rebase: racing blind appends ALL land; racing disjoint-key merges BOTH land") {
    val dir = java.nio.file.Files.createTempDirectory("vt-rb3").toString + "/t"
    clusteredTable(dir, 8000, 8)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val gate = new java.util.concurrent.CyclicBarrier(4)
    val appends = (1 to 4).map { i => Future {
      gate.await()
      VersionedTable.commitDelta(spark, dir,
        Some(spark.range(100000L * i, 100000L * i + 10)
          .select($"id".as("k"), ($"id" % 97).as("x"))),
        Seq.empty, 0L, s"app$i", rebaseAttempts = 8).version
    }}
    val vs = Await.result(Future.sequence(appends), 240.seconds)
    assert(vs.toSet == Set(1L, 2L, 3L, 4L), s"all four must land: $vs")
    assert(VersionedTable.read(spark, dir).count() == 8040)
    // disjoint-key merges from the same start version: whoever loses
    // the CAS rebases (touched files disjoint, key envelopes disjoint)
    val v0 = VersionedTable.latestVersion(spark, dir)
    val gate2 = new java.util.concurrent.CyclicBarrier(2)
    def m(lo: Long) = Future {
      gate2.await()
      VersionedTable.merge(spark, dir,
        spark.range(lo, lo + 20).select($"id".as("k"), lit(-5L).as("x")),
        Seq("k"), v0, s"m$lo", rebaseAttempts = 4).version
    }
    val mv = Await.result(Future.sequence(Seq(m(100L), m(7000L))), 240.seconds)
    assert(mv.toSet == Set(v0 + 1, v0 + 2), s"both merges must land: $mv")
    val t = VersionedTable.read(spark, dir)
    assert(t.filter($"x" === -5L).count() == 40)
    assert(t.count() == 8040)
  }

  // ───────── column mapping: RENAME as metadata (round 14) ─────────

  private def dataFileMtimes(dir: String): Map[String, Long] = {
    val root = new java.io.File(s"$dir/data")
    root.listFiles().flatMap(d =>
      d.listFiles().map(x => x.getPath -> x.lastModified())).toMap
  }

  test("renameColumns is metadata-only: zero files touched, reads alias") {
    val dir = java.nio.file.Files.createTempDirectory("vt-ren").toString + "/t"
    VersionedTable.commit(spark, dir, df("a", 100), -1L, "w",
      clusterBy = Seq("k"), clusterFiles = 4)
    VersionedTable.merge(spark, dir,
      spark.range(5).select($"id".as("k"), lit("b").as("v")), Seq("k"), 0L, "w")
    val mt0 = dataFileMtimes(dir)
    val v2 = VersionedTable.renameColumns(spark, dir, Map("v" -> "val"),
      1L, "mig")
    assert(v2 == 2L)
    assert(dataFileMtimes(dir) == mt0, "rename must not touch a data file")
    // latest reads with the NEW name, same values
    val got = VersionedTable.read(spark, dir)
    assert(got.columns.toSeq == Seq("k", "val"))
    assert(got.filter($"val" === "b").count() == 5)
    assert(got.count() == 100)
    // time travel keeps each version's own names
    assert(VersionedTable.readVersion(spark, dir, 1L).columns.toSeq ==
      Seq("k", "v"))
    // the parquet bytes still carry the PHYSICAL name (sticky identity)
    val anyFile = VersionedTable.liveFiles(spark, dir, v2).head
    assert(spark.read.parquet(s"$dir/$anyFile").columns.toSeq ==
      Seq("k", "v"), "physical files keep their original column names")
  }

  test("writes after a rename: merge/delete through the new name, sticky physical") {
    val dir = java.nio.file.Files.createTempDirectory("vt-ren-w").toString + "/t"
    VersionedTable.commit(spark, dir, df("a", 200), -1L, "w",
      clusterBy = Seq("k"), clusterFiles = 4)
    VersionedTable.renameColumns(spark, dir, Map("k" -> "id2"), 0L, "mig")
    // merge keyed on the NEW name
    val st = VersionedTable.merge(spark, dir,
      spark.range(10, 14).select($"id".as("id2"), lit("m").as("v")),
      Seq("id2"), 1L, "w")
    assert(st.filesAdded >= 1)
    val got = VersionedTable.read(spark, dir)
    assert(got.columns.toSeq == Seq("id2", "v"))
    assert(got.filter($"v" === "m").count() == 4 && got.count() == 200)
    // post-rename staged files STILL carry the original physical name,
    // so every file of the table reads under one pinned schema
    val newRel = VersionedTable.readManifest(spark, dir, 2L).files
      .filter(_.contains("v2-w"))
    assert(newRel.nonEmpty &&
      spark.read.parquet(s"$dir/${newRel.head}").columns.contains("k"),
      "rewritten files must keep the sticky physical name")
    // stats survived the re-key: a bound on the NEW name still prunes
    val (kept, total) = VersionedTable.prunedFiles(spark, dir, 2L,
      Seq(VersionedTable.ColBound("id2", Some(0L), Some(10L))))
    assert(kept.length < total, s"skipping must survive the rename " +
      s"($kept of $total)")
    // deleteWhere through the new name (predicate-implied pruning path)
    val del = VersionedTable.deleteWhere(spark, dir, "id2 >= 190", 2L, "gdpr")
    assert(del.rowsDeleted == 10 &&
      del.filesScanned < total, s"delete must prune via renamed stats: $del")
    assert(VersionedTable.read(spark, dir).count() == 190)
  }

  test("feed and CDF survive a rename with no reset; rename feed is empty") {
    val dir = java.nio.file.Files.createTempDirectory("vt-ren-cdf").toString + "/t"
    VersionedTable.commit(spark, dir, df("a", 50), -1L, "w",
      meta = Map(VersionedTable.FeedKey -> "k"))
    VersionedTable.initCursor(spark, dir, "sink", 0L)
    VersionedTable.renameColumns(spark, dir, Map("v" -> "txt"), 0L, "mig")
    VersionedTable.merge(spark, dir,
      spark.range(3).select($"id".as("k"), lit("z").as("txt")),
      Seq("k"), 1L, "w")
    // the declaration renamed through; no reset gap anywhere
    assert(VersionedTable.feedKeysOf(spark, dir, 2L) == Seq("k"))
    assert(VersionedTable.feedResets(spark, dir).isEmpty,
      "a pure rename must not reset the feed")
    // the rename version's own feed is EMPTY (nothing material changed)
    assert(VersionedTable.changesBetween(spark, dir, 0L, 1L, Seq("k"))
      .count() == 0)
    // a lagging consumer polls ACROSS the rename: new names, exact churn
    val Some((changes, from, to)) =
      VersionedTable.pollChanges(spark, dir, "sink", Seq("k"))
    assert(from == 0L && to == 2L)
    assert(changes.columns.contains("txt") && !changes.columns.contains("v"))
    assert(changes.filter($"op" === "update").count() == 3 &&
      changes.count() == 3)
    // streaming over the feed sees one schema across the rename
    val stream = VersionedTable.changeStream(spark, dir)
    assert(stream.columns.toSeq == Seq("k", "txt", "op", "version"))
  }

  test("rename refusals: collisions, expectations, physical shadowing") {
    val dir = java.nio.file.Files.createTempDirectory("vt-ren-no").toString + "/t"
    VersionedTable.commit(spark, dir, df("a", 10), -1L, "w",
      expectations = Map("v_set" -> "v IS NOT NULL"))
    // case-insensitive collision with an existing column
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumns(spark, dir, Map("v" -> "K"), 0L, "m")
    }
    // unknown column, no-op rename
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumns(spark, dir, Map("nope" -> "x"), 0L, "m")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.renameColumns(spark, dir, Map("v" -> "v"), 0L, "m")
    }
    // an expectation mentioning the column refuses (cannot rewrite SQL)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.renameColumns(spark, dir, Map("v" -> "w"), 0L, "m")
    }
    assert(e.getMessage.contains("v_set"))
    // drop the expectation explicitly, then the rename lands
    VersionedTable.commit(spark, dir, df("a", 10), 0L, "w",
      expectations = Map("v_set" -> ""))
    VersionedTable.renameColumns(spark, dir, Map("v" -> "w"), 1L, "m")
    // a new column shadowing the renamed column's PHYSICAL name refuses
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.addColumns(spark, dir,
        Seq(org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType)), 2L, "m")
    }
    assert(e2.getMessage.contains("PHYSICAL"))
    // rename BACK collapses the chain: identity mapping, empty colmap
    VersionedTable.renameColumns(spark, dir, Map("w" -> "v"), 2L, "m")
    assert(VersionedTable.readManifest(spark, dir, 3L).colmap.isEmpty,
      "a rename back to the physical name must leave no mapping")
    assert(VersionedTable.read(spark, dir).columns.toSeq == Seq("k", "v"))
  }

  test("dropColumns is metadata-only: bytes linger, reads exclude, tombstones guard") {
    val dir = java.nio.file.Files.createTempDirectory("vt-drop").toString + "/t"
    val df3 = spark.range(60).select($"id".as("k"), lit("s").as("secret"),
      lit("x").as("v"))
    VersionedTable.commit(spark, dir, df3, -1L, "w",
      clusterBy = Seq("k"), clusterFiles = 3)
    val mt0 = dataFileMtimes(dir)
    assert(VersionedTable.dropColumns(spark, dir, Seq("secret"), 0L, "mig")
      == 1L)
    assert(dataFileMtimes(dir) == mt0, "drop must not touch a data file")
    // reads exclude it; time travel keeps it; the BYTES remain (the
    // documented caveat — a privacy-grade removal is forget/rewrite)
    assert(VersionedTable.read(spark, dir).columns.toSeq == Seq("k", "v"))
    assert(VersionedTable.readVersion(spark, dir, 0L).columns
      .contains("secret"))
    val anyFile = VersionedTable.liveFiles(spark, dir, 1L).head
    assert(spark.read.parquet(s"$dir/$anyFile").columns.contains("secret"),
      "dropColumns must NOT remove bytes — that is forget()'s job")
    // writes through the new schema work; rewritten files lack the column
    VersionedTable.merge(spark, dir,
      Seq((3L, "y")).toDF("k", "v"), Seq("k"), 1L, "w")
    val newRel = VersionedTable.readManifest(spark, dir, 2L).files
      .filter(_.contains("v2-w")).head
    assert(!spark.read.parquet(s"$dir/$newRel").columns.contains("secret"),
      "rewrites write only the current columns")
    // the tombstone: no future column may shadow the lingering bytes
    val e = intercept[IllegalArgumentException] {
      VersionedTable.addColumns(spark, dir,
        Seq(org.apache.spark.sql.types.StructField("secret",
          org.apache.spark.sql.types.StringType)), 2L, "w")
    }
    assert(e.getMessage.contains("DROPPED"), e.getMessage)
    intercept[IllegalArgumentException] {
      VersionedTable.commit(spark, dir,
        spark.range(5).select($"id".as("k"), lit("a").as("v"),
          lit("b").as("secret")),
        2L, "w", allowSchemaChange = true)
    }
    // but renaming another column TO the dropped LOGICAL name is fine
    // (logical labels never touch storage)
    VersionedTable.renameColumns(spark, dir, Map("v" -> "secret"), 2L, "m")
    val got = VersionedTable.read(spark, dir)
    assert(got.columns.toSeq == Seq("k", "secret") &&
      got.filter($"secret" === "y").count() == 1)
  }

  test("dropColumns refusals and the feed reset") {
    val dir = java.nio.file.Files.createTempDirectory("vt-drop-no").toString + "/t"
    VersionedTable.commit(spark, dir,
      spark.range(20).select($"id".as("k"), lit(1L).as("a"), lit("t").as("b")),
      -1L, "w", clusterBy = Seq("k"),
      meta = Map(VersionedTable.FeedKey -> "k"),
      expectations = Map("a_pos" -> "a >= 0"))
    // declared columns refuse: cluster col, feed key, expectation
    intercept[IllegalArgumentException] {
      VersionedTable.dropColumns(spark, dir, Seq("k"), 0L, "m")
    }
    val e = intercept[IllegalArgumentException] {
      VersionedTable.dropColumns(spark, dir, Seq("a"), 0L, "m")
    }
    assert(e.getMessage.contains("a_pos"), e.getMessage)
    intercept[IllegalArgumentException] { // cannot drop everything
      VersionedTable.dropColumns(spark, dir, Seq("k", "a", "b"), 0L, "m")
    }
    // a legal drop RESETS the feed (no well-defined cross-drop shape)
    VersionedTable.dropColumns(spark, dir, Seq("b"), 0L, "m")
    assert(VersionedTable.feedResets(spark, dir) == Seq(1L),
      "a drop must reset the feed — consumers re-bootstrap")
    // post-drop commits still feed normally
    VersionedTable.merge(spark, dir, Seq((2L, 9L)).toDF("k", "a"),
      Seq("k"), 1L, "w")
    assert(VersionedTable.changesBetween(spark, dir, 1L, 2L, Seq("k"))
      .count() == 1)
  }

  test("rename composes: replicate ships the map; restore keeps its version's map") {
    val dir = java.nio.file.Files.createTempDirectory("vt-ren-rep").toString + "/t"
    val rep = java.nio.file.Files.createTempDirectory("vt-ren-rep").toString + "/r"
    VersionedTable.commit(spark, dir, df("a", 40), -1L, "w",
      clusterBy = Seq("k"), clusterFiles = 2)
    VersionedTable.renameColumns(spark, dir, Map("v" -> "body"), 0L, "mig")
    VersionedTable.replicate(spark, dir, rep)
    val atReplica = VersionedTable.read(spark, rep)
    assert(atReplica.columns.toSeq == Seq("k", "body"),
      "the replica must ship the column mapping")
    assert(atReplica.orderBy($"k").collect().toSeq ==
      VersionedTable.read(spark, dir).orderBy($"k").collect().toSeq)
    // restore to the pre-rename version re-points at ITS colmap/schema
    val v2 = VersionedTable.restore(spark, dir, 0L, 1L, "ops",
      allowSchemaChange = true)
    assert(VersionedTable.readVersion(spark, dir, v2).columns.toSeq ==
      Seq("k", "v"))
    assert(VersionedTable.readManifest(spark, dir, v2).colmap.isEmpty)
  }

  test("manifest cache: a recreated table at the same path never serves stale metadata") {
    val dir = java.nio.file.Files.createTempDirectory("vt-cache").toString + "/t"
    VersionedTable.commit(spark, dir, df("old", 5), -1L, "w")
    // warm the cache through every metadata path
    assert(VersionedTable.read(spark, dir).count() == 5)
    assert(VersionedTable.schemaOf(spark, dir, 0L).fieldNames.length == 2)
    // nuke and recreate the table at the SAME path (a test fixture
    // rebuild, a dev reset — the realistic cache-poisoning shape)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir), true)
    VersionedTable.commit(spark, dir, df("new", 7), -1L, "w2")
    // the cache is validated by (mtime, length): the new manifest is
    // served, never the old parse
    assert(VersionedTable.read(spark, dir).count() == 7)
    assert(VersionedTable.readManifest(spark, dir, 0L).writer == "w2")
    assert(VersionedTable.read(spark, dir).select($"v").distinct()
      .as[String].head() == "new")
    // the kill-switch path answers identically
    spark.conf.set("graft.manifest.cache", "false")
    try assert(VersionedTable.readManifest(spark, dir, 0L).writer == "w2")
    finally spark.conf.unset("graft.manifest.cache")
  }

  test("stale parent: every write refuses a version behind or ahead of the tip, table untouched") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("vt-stale").toString + "/t"
    VersionedTable.commit(spark, dir, spark.range(40).select($"id".as("k"),
      ($"id" * 2).cast("int").as("v")).repartition(4), -1L, "loader")
    // v1 masks rows in several files: purgeDeletes has work at the tip
    VersionedTable.deleteWhere(spark, dir, "k < 3", 0L, "d0")
    val tip = VersionedTable.latestVersion(spark, dir)
    val rows = spark.range(30, 50).select($"id".as("k"),
      lit(-1).cast("int").as("v"))
    val writes: Seq[(String, Long => Any)] = Seq(
      "commit" -> (ev => VersionedTable.commit(spark, dir, rows, ev, "w")),
      "commitDelta" -> (ev => VersionedTable.commitDelta(spark, dir,
        Some(rows), Seq.empty, ev, "w")),
      "merge" -> (ev => VersionedTable.merge(spark, dir, rows, Seq("k"),
        ev, "w")),
      "deleteWhere" -> (ev => VersionedTable.deleteWhere(spark, dir,
        "k >= 10", ev, "w")),
      "updateWhere" -> (ev => VersionedTable.updateWhere(spark, dir,
        "k >= 10", Seq("v" -> "v + 1"), ev, "w")),
      "purgeDeletes" -> (ev => VersionedTable.purgeDeletes(spark, dir, ev,
        "w")),
      "compactSmallFiles" -> (ev => VersionedTable.compactSmallFiles(spark,
        dir, ev, "w", smallBytes = 1L << 30)),
      "addColumns" -> (ev => VersionedTable.addColumns(spark, dir,
        Seq(StructField("x", DoubleType)), ev, "w")),
      "widenColumns" -> (ev => VersionedTable.widenColumns(spark, dir,
        Map("v" -> LongType), ev, "w")),
      "renameColumns" -> (ev => VersionedTable.renameColumns(spark, dir,
        Map("v" -> "v2"), ev, "w")),
      "dropColumns" -> (ev => VersionedTable.dropColumns(spark, dir,
        Seq("v"), ev, "w")),
      "restore" -> (ev => VersionedTable.restore(spark, dir, 0L, ev, "w")))
    def staged(sub: String) =
      Option(new java.io.File(s"$dir/$sub").list()).map(_.toSet)
        .getOrElse(Set.empty[String])
    val (data0, dv0) = (staged("data"), staged("_dv"))
    for ((op, write) <- writes; ev <- Seq(tip - 1, tip + 1)) {
      val e = intercept[Throwable](write(ev))
      assert(e.isInstanceOf[CommitConflict],
        s"$op at expectedVersion $ev (tip $tip) must be a CommitConflict: $e")
      assert(VersionedTable.latestVersion(spark, dir) == tip, s"$op at $ev")
      assert(staged("data") == data0 && staged("_dv") == dv0,
        s"$op at $ev left staged dirs behind")
    }
  }
}
