package graft

import org.apache.spark.sql.functions._
import graft.operators.VersionedTable
import graft.operators.VersionedTable.ColBound

/** Deletion vectors (operators/VersionedTable.scala, round 13):
  * row-level deletes without file rewrites. Load-bearing claims:
  * a [[VersionedTable.deleteWhere]] commit leaves every live data
  * file byte-identical (only a position sidecar lands), every read
  * path applies the mask (including merge/compaction rewrites — no
  * resurrection), the change feed surfaces masked rows as deletes at
  * churn cost, and retention/replication treat dv dirs like data. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  /** A 4-file clustered table over k = 0..99, v = "r<k>". */
  private def mkTable(dir: String): Unit = {
    val df = spark.range(100).select($"id".as("k"),
      concat(lit("r"), $"id").as("v"))
    VersionedTable.commit(spark, dir, df, -1L, "w0",
      clusterBy = Seq("k"), clusterFiles = 4)
  }

  test("deleteWhere masks rows without touching data files") {
    val dir = tmp("dv-basic")
    mkTable(dir)
    val filesBefore = VersionedTable.liveFiles(spark, dir, 0L)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtimes = filesBefore.map(rel => f.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$dir/$rel")).getModificationTime)
    val mtBefore = mtimes
    // scattered delete: every 10th row, hits every file
    val st = VersionedTable.deleteWhere(spark, dir, "k % 10 = 0", 0L, "gdpr")
    assert(st.version == 1L && st.rowsDeleted == 10L)
    assert(st.filesMasked == 4L && st.filesDropped == 0L)
    // zero data-file churn: same paths, same bytes (mtime proxy)
    assert(VersionedTable.liveFiles(spark, dir, 1L) == filesBefore)
    assert(mtimes == mtBefore)
    // the mask applies to reads, point reads, and time travel
    assert(VersionedTable.read(spark, dir).count() == 90L)
    assert(VersionedTable.read(spark, dir)
      .where($"k" % 10 === 0).count() == 0L)
    assert(VersionedTable.readVersion(spark, dir, 0L).count() == 100L)
    val skipped = VersionedTable.readWhere(spark, dir,
      Seq(ColBound("k", Some(15), Some(35))))
    assert(skipped.where($"k".between(15, 35)).count() == 19L) // 20, 30 gone
    // no-match predicate: no commit at all
    val noOp = VersionedTable.deleteWhere(spark, dir, "k < 0", 1L, "gdpr")
    assert(noOp.version == -1L && noOp.rowsDeleted == 0L)
    assert(VersionedTable.latestVersion(spark, dir) == 1L)
  }

  test("re-delete merges masks; counts accumulate; no double counting") {
    val dir = tmp("dv-remask")
    mkTable(dir)
    VersionedTable.deleteWhere(spark, dir, "k % 10 = 0", 0L, "a")
    // second delete overlaps the first predicate's rows (k=0,20,40 are
    // already gone) — only NEW rows count, and the merged mask holds both
    val st = VersionedTable.deleteWhere(spark, dir, "k % 20 < 2", 1L, "b")
    // k%20 in {0,1} is 10 rows, but {0,20,40,60,80} are already masked
    // and must NOT recount — only {1,21,41,61,81} are new
    assert(st.rowsDeleted == 5L, s"already-masked rows must not recount: $st")
    assert(VersionedTable.read(spark, dir).count() == 85L)
    val m = VersionedTable.readManifest(spark, dir, 2L)
    // every masked file's single dv entry carries its FULL position set
    assert(m.dv.values.map(_._2).sum == 15L)
    assert(m.dv.values.map(_._1).toSet.size == 1,
      s"re-masked files must point at the merged v2 mask: ${m.dv}")
  }

  test("a fully-deleted file leaves the live set") {
    val dir = tmp("dv-drop")
    mkTable(dir)
    // the clustered layout puts k=0..24 in one file
    val st = VersionedTable.deleteWhere(spark, dir, "k < 25", 0L, "w")
    assert(st.filesDropped == 1L && st.filesMasked == 0L,
      s"a whole-file delete must drop the file, not mask it: $st")
    assert(VersionedTable.liveFiles(spark, dir, 1L).length == 3)
    assert(VersionedTable.read(spark, dir).count() == 75L)
    // delete EVERYTHING: zero live files, schema-receipt empty read
    val st2 = VersionedTable.deleteWhere(spark, dir, "true", 1L, "w")
    assert(st2.filesDropped == 3L && st2.rowsDeleted == 75L)
    assert(VersionedTable.read(spark, dir).count() == 0L)
  }

  test("merge over masked files: no resurrection, masks materialize") {
    val dir = tmp("dv-merge")
    mkTable(dir)
    VersionedTable.deleteWhere(spark, dir, "k % 10 = 0", 0L, "gdpr")
    // merge updates k=5 (same file region as deleted k=0,10,20) and
    // inserts k=200
    val changes = Seq((5L, "upd5"), (200L, "new200")).toDF("k", "v")
    VersionedTable.merge(spark, dir, changes, Seq("k"), 1L, "m")
    val got = VersionedTable.read(spark, dir)
    assert(got.count() == 91L) // 90 surviving + 1 insert
    assert(got.where($"k" % 10 === 0 && $"k" < 100).count() == 0L,
      "merge rewrite must not resurrect DV-deleted rows")
    assert(got.where($"k" === 5).select($"v").as[String].head() == "upd5")
    // the rewritten file's mask is gone; untouched files keep theirs
    val m = VersionedTable.readManifest(spark, dir, 2L)
    val live = VersionedTable.liveFiles(spark, dir, 2L).toSet
    assert(m.dv.keySet.subsetOf(live))
    assert(m.dv.nonEmpty, "untouched masked files keep their dv entries")
  }

  test("purgeDeletes materializes every mask; reads identical") {
    val dir = tmp("dv-purge")
    mkTable(dir)
    VersionedTable.deleteWhere(spark, dir, "k % 7 = 3", 0L, "w")
    val before = VersionedTable.read(spark, dir)
      .orderBy($"k").as[(Long, String)].collect().toSeq
    val st = VersionedTable.purgeDeletes(spark, dir, 1L, "opt").get
    assert(st.filesRemoved == 4L, s"all masked files rewritten: $st")
    assert(VersionedTable.readManifest(spark, dir, 2L).dv.isEmpty)
    val after = VersionedTable.read(spark, dir)
      .orderBy($"k").as[(Long, String)].collect().toSeq
    assert(after == before)
    // clustering survived the purge: skipping still prunes
    val (kept, total) = VersionedTable.prunedFiles(spark, dir, 2L,
      Seq(ColBound("k", Some(1), Some(2))))
    assert(kept.length < total, s"purge must keep the clustered layout")
    // nothing masked → purge is a no-op
    assert(VersionedTable.purgeDeletes(spark, dir, 2L, "opt").isEmpty)
  }

  test("compaction materializes masks instead of resurrecting") {
    val dir = tmp("dv-compact")
    mkTable(dir)
    VersionedTable.deleteWhere(spark, dir, "k % 2 = 0", 0L, "w")
    VersionedTable.compactSmallFiles(spark, dir, 1L, "opt",
      smallBytes = Long.MaxValue, targetFileCount = 1)
    val got = VersionedTable.read(spark, dir)
    assert(got.count() == 50L && got.where($"k" % 2 === 0).count() == 0L)
    assert(VersionedTable.readManifest(spark, dir,
      VersionedTable.latestVersion(spark, dir)).dv.isEmpty)
  }

  test("change feed surfaces DV deletes at churn cost") {
    val dir = tmp("dv-cdf")
    mkTable(dir)
    VersionedTable.deleteWhere(spark, dir, "k = 3 or k = 97", 0L, "w")
    val feed = VersionedTable.changesBetween(spark, dir, 0L, 1L, Seq("k"))
    val ops = feed.select($"k", $"op").as[(Long, String)].collect().toSet
    assert(ops == Set((3L, "delete"), (97L, "delete")))
    // equals the full snapshot diff, row for row
    val full = graft.operators.Incremental.snapshotDiff(
      VersionedTable.readVersion(spark, dir, 0L),
      VersionedTable.readVersion(spark, dir, 1L), Seq("k"))
    assert(feed.orderBy($"k").collect().toSeq ==
      full.orderBy($"k").collect().toSeq)
    // cursor CDC sees the same feed
    VersionedTable.initCursor(spark, dir, "c1", 0L)
    val Some((polled, from, to)) =
      VersionedTable.pollChanges(spark, dir, "c1", Seq("k"))
    assert((from, to) == (0L, 1L) && polled.count() == 2L)
  }

  test("change feed across an add-column migration pads with NULLs") {
    val dir = tmp("dv-addcol")
    val v0 = spark.range(10).select($"id".as("k"), lit("x").as("v"))
    VersionedTable.commit(spark, dir, v0, -1L, "w")
    val v1 = spark.range(12).select($"id".as("k"), lit("x").as("v"),
      ($"id" * 2).as("extra"))
    VersionedTable.commit(spark, dir, v1, 0L, "w", allowSchemaChange = true)
    val feed = VersionedTable.changesBetween(spark, dir, 0L, 1L, Seq("k"))
    assert(feed.columns.toSeq == Seq("k", "v", "extra", "op"))
    // every old row's extra goes NULL→value (update); k=10,11 insert
    val byOp = feed.groupBy($"op").count().as[(String, Long)].collect().toMap
    assert(byOp == Map("update" -> 10L, "insert" -> 2L), s"got $byOp")
    // a DROP still refuses
    val v2 = spark.range(12).select($"id".as("k"))
    VersionedTable.commit(spark, dir, v2, 1L, "w", allowSchemaChange = true)
    intercept[IllegalArgumentException] {
      VersionedTable.changesBetween(spark, dir, 1L, 2L, Seq("k"))
    }
  }

  test("retention: dv dirs die with their last referencing version") {
    val dir = tmp("dv-expire")
    mkTable(dir)
    VersionedTable.deleteWhere(spark, dir, "k = 1", 0L, "a")   // v1: mask A
    VersionedTable.deleteWhere(spark, dir, "k = 2", 1L, "b")   // v2: merged mask B
    VersionedTable.commit(spark, dir,
      VersionedTable.read(spark, dir), 2L, "w")                // v3: full rewrite
    VersionedTable.commit(spark, dir,
      VersionedTable.read(spark, dir), 3L, "w")                // v4
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dvDirs = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/_dv")
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).toSeq.map(_.getPath.getName).sorted
    }
    assert(dvDirs.length == 2)
    // keep v2..v4: v2 still references mask B → only mask A dies
    VersionedTable.expire(spark, dir, keep = 3)
    assert(dvDirs == Seq("v2-b"), s"superseded mask must die: $dvDirs")
    assert(VersionedTable.readVersion(spark, dir, 2L).count() == 98L)
    // keep v3..v4: no retained version references any mask
    VersionedTable.expire(spark, dir, keep = 2)
    assert(dvDirs.isEmpty)
    assert(VersionedTable.read(spark, dir).count() == 98L)
  }

  test("vacuum sweeps orphan dv dirs, never referenced ones") {
    val dir = tmp("dv-vacuum")
    mkTable(dir)
    VersionedTable.deleteWhere(spark, dir, "k = 5", 0L, "w")
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed deleter's leftover: staged mask for an already-taken
    // version, no manifest pointing at it
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_dv/v1-crashed"))
    val swept = VersionedTable.vacuum(spark, dir)
    assert(swept == Seq("_dv/v1-crashed"), s"got $swept")
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/_dv/v1-w")))
    assert(VersionedTable.read(spark, dir).count() == 99L)
  }

  test("oversized masks drop the broadcast hint; answers identical") {
    val dir = tmp("dv-bigmask")
    mkTable(dir)
    VersionedTable.deleteWhere(spark, dir, "k % 3 = 1", 0L, "w")
    val expect = VersionedTable.read(spark, dir)
      .orderBy($"k").as[(Long, String)].collect().toSeq
    // force the fallback AND veto Spark's own auto-broadcast so the
    // shuffled anti-join path actually executes end-to-end
    spark.conf.set("graft.dv.broadcastRows", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val got = VersionedTable.read(spark, dir)
      val answer = got.orderBy($"k").as[(Long, String)].collect().toSeq
      assert(!got.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
        "hint dropped + auto-broadcast off must yield a shuffled anti-join")
      assert(answer == expect,
        "the join strategy must never change the answer")
    } finally {
      spark.conf.unset("graft.dv.broadcastRows")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("deleteWhere derives pruning bounds from its own predicate") {
    val dir = tmp("dv-implied")
    mkTable(dir) // 4 files clustered on k: 0-24, 25-49, 50-74, 75-99
    val sch = VersionedTable.read(spark, dir).schema
    // unit: the conjunctive derivation is conservative (AND conjuncts
    // + OR hulls; disjunct-union pruning is the separate
    // impliedAlternatives path, tested below)
    def b(p: String) = VersionedTable.impliedBounds(spark, p, sch)
    assert(b("k >= 10 AND k < 20") ==
      Seq(VersionedTable.ColBound("k", Some(10), None),
        VersionedTable.ColBound("k", None, Some(20))))
    assert(b("k = 7 AND v like 'r%'") ==
      Seq(VersionedTable.ColBound("k", Some(7), Some(7))))
    assert(b("k in (30, 12, 44)") ==
      Seq(VersionedTable.ColBound("k", Some(12), Some(44))))
    // OR: the hull of a column both branches bound (round 14 — the
    // `id = a OR id = b` GDPR shape); anything one-sided or cross-
    // column degrades to nothing
    assert(b("k = 5 OR k = 90") ==
      Seq(VersionedTable.ColBound("k", Some(5), Some(90))))
    assert(b("k in (3, 9) OR (k >= 80 AND v like 'r%')") ==
      Seq(VersionedTable.ColBound("k", Some(3), None)),
      "hull keeps only sides bounded in BOTH branches")
    assert(b("k = 5 OR v = 'r1'").isEmpty,
      "cross-column OR must derive nothing")
    assert(b("k % 10 = 0").isEmpty && b("nosuch = 1").isEmpty)
    // behavioral: a range delete on a clustered table SCANS only the
    // files its implied bounds intersect (the filesScanned receipt),
    // with no bounds passed by the caller
    val st = VersionedTable.deleteWhere(spark, dir, "k >= 30 and k <= 40",
      0L, "w")
    assert(st.filesScanned == 1L && st.filesMasked == 1L &&
      st.rowsDeleted == 11L,
      s"implied bounds must confine the candidate scan to 1 of 4 files: $st")
    assert(VersionedTable.read(spark, dir).count() == 89L)
  }

  test("replication ships masks; a dv-only commit is not 'current'") {
    val src = tmp("dv-repl-src")
    val dst = tmp("dv-repl-dst")
    mkTable(src)
    VersionedTable.replicate(spark, src, dst)
    assert(VersionedTable.read(spark, dst).count() == 100L)
    // dv-only source commit: live paths unchanged, masks changed
    VersionedTable.deleteWhere(spark, src, "k % 4 = 1", 0L, "w")
    val st = VersionedTable.replicate(spark, src, dst)
    assert(st.version == 1L, "a mask change must replicate, not no-op")
    assert(st.filesShared == 4L, "data files must ship zero bytes")
    assert(VersionedTable.read(spark, dst).count() == 75L)
    assert(VersionedTable.read(spark, dst)
      .where($"k" % 4 === 1).count() == 0L)
    // idempotent second sync
    assert(VersionedTable.replicate(spark, src, dst).version == -1L)
  }

  test("disjunctive pruning: a scattered OR/IN delete reads the union, not the hull") {
    val dir = tmp("dv-alts")
    mkTable(dir) // 4 files clustered on k: 0-24, 25-49, 50-74, 75-99
    val sch = VersionedTable.read(spark, dir).schema
    // alternatives derivation: per-disjunct conjunctions
    assert(VersionedTable.impliedAlternatives(spark, "k = 5 OR k = 90", sch)
      == Seq(Seq(VersionedTable.ColBound("k", Some(5), Some(5))),
             Seq(VersionedTable.ColBound("k", Some(90), Some(90)))))
    assert(VersionedTable.impliedAlternatives(spark, "k in (2, 97)", sch)
      .length == 2, "a small IN-list expands per literal")
    // CROSS-COLUMN disjuncts still union (each prunes on its own
    // column — sound: the union covers both branches' rows)
    assert(VersionedTable.impliedAlternatives(spark,
      "k = 5 OR v = 'r9'", sch)
      == Seq(Seq(VersionedTable.ColBound("k", Some(5), Some(5))),
             Seq(VersionedTable.ColBound("v", Some("r9"), Some("r9")))))
    // an UNDERIVABLE disjunct collapses to the conjunctive fallback
    // (its alternative would cover the whole table anyway)
    assert(VersionedTable.impliedAlternatives(spark,
      "k = 5 OR v like 'r%'", sch) == Seq(Seq.empty))
    // behavioral: the scattered delete scans exactly the 2 end files,
    // never the hull (which spans all 4)
    val st = VersionedTable.deleteWhere(spark, dir, "k = 5 or k = 90",
      0L, "w")
    assert(st.filesScanned == 2L && st.rowsDeleted == 2L,
      s"union pruning must scan 2 of 4 files: $st")
    // readFiltered takes the same path and stays row-exact
    val got = VersionedTable.readFiltered(spark, dir, "k in (2, 97, 5)")
      .select($"k").as[Long].collect().toSet
    assert(got == Set(2L, 97L), "k=5 was deleted; the pruned read agrees")
  }

  test("conjunction distributes over alternatives: date∧IN prunes to the union ∩ bounds") {
    val dir = tmp("dv-andalts")
    mkTable(dir) // 4 files clustered on k: 0-24, 25-49, 50-74, 75-99
    val sch = VersionedTable.read(spark, dir).schema
    // the r14 documented refinement: a disjunction nested UNDER a
    // top-level AND no longer degrades to the conjunctive hull — the
    // AND distributes, so each alternative carries BOTH its disjunct's
    // equality and the shared range conjunct
    assert(VersionedTable.impliedAlternatives(spark,
      "k < 50 AND (k = 5 OR k = 97)", sch)
      == Seq(
        Seq(VersionedTable.ColBound("k", None, Some(50)),
          VersionedTable.ColBound("k", Some(5), Some(5))),
        Seq(VersionedTable.ColBound("k", None, Some(50)),
          VersionedTable.ColBound("k", Some(97), Some(97)))))
    // behavioral: the k=97 alternative's bounds are unsatisfiable under
    // k<50, so the delete scans exactly ONE file (the hull spans all 4)
    val st = VersionedTable.deleteWhere(spark, dir,
      "k < 50 AND (k = 5 OR k = 97)", 0L, "w")
    assert(st.filesScanned == 1L && st.rowsDeleted == 1L,
      s"AND-distributed pruning must scan 1 of 4 files: $st")
    // cross-column conjunct rides into every alternative
    assert(VersionedTable.impliedAlternatives(spark,
      "v = 'r7' AND k IN (2, 90)", sch).map(_.toSet)
      == Seq(
        Set(VersionedTable.ColBound("v", Some("r7"), Some("r7")),
          VersionedTable.ColBound("k", Some(2), Some(2))),
        Set(VersionedTable.ColBound("v", Some("r7"), Some("r7")),
          VersionedTable.ColBound("k", Some(90), Some(90)))))
    // a distribution that would blow the cap stays ONE hull leaf —
    // bounded expansion, conservative, never wrong
    assert(VersionedTable.impliedAlternatives(spark,
      "k in (1,2,3,4,5) and v in ('a','b','c','d')", sch).length == 1,
      "a >maxAlts product must fall back to the conjunctive hull")
    // readFiltered routes the same way and stays row-exact
    val got = VersionedTable.readFiltered(spark, dir,
        "k < 50 AND k IN (2, 97, 5)")
      .select($"k").as[Long].collect().toSet
    assert(got == Set(2L), "k=5 was deleted, k=97 is out of range")
  }

  /** Deterministic mid-flight race: the loser's predicate carries a
    * latch-gated UDF, so the winner provably commits BETWEEN the
    * loser's plan and its CAS (a stale entry would otherwise just
    * replan at the tip and never exercise the rebase). */
  private def raceLoser[T](gate: String, winner: () => Unit)(
      loserBody: => T): Either[Throwable, T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    RaceGates.arm(gate)
    val loser = Future {
      try Right(loserBody)
      catch { case t: Throwable => Left(t) }
    }
    assert(RaceGates.entered(gate).await(60,
      java.util.concurrent.TimeUnit.SECONDS), "loser never started scanning")
    winner()
    RaceGates.release(gate).countDown()
    Await.result(loser, 120.seconds)
  }

  /** A gated deleteWhere planned at v0 as the race loser. */
  private def raceDelete(dir: String, gate: String, losersPred: String,
      winner: () => Unit): Either[Throwable, VersionedTable.DeleteStats] =
    raceLoser(gate, winner)(VersionedTable.deleteWhere(spark, dir,
      s"race_gate('$gate') AND $losersPred", 0L, s"loser-$gate",
      rebaseAttempts = 2))

  test("mask-union rebase: two scope-disjoint deletes on the SAME hot file both land") {
    val dir = tmp("dv-union")
    mkTable(dir) // 4 files clustered on k: 0-24, 25-49, 50-74, 75-99
    spark.udf.register("race_gate", (name: String) => RaceGates.gate(name))
    // both deletes hit the FIRST file: file-granular conflict detection
    // would serialize them; recorded disjoint scopes admit the union.
    // A plans at v0, B wins v1 mid-flight, A mask-merges onto v2.
    val a = raceDelete(dir, "u1", "k >= 10 AND k <= 12", () => {
      val b = VersionedTable.deleteWhere(spark, dir, "k >= 2 AND k <= 4",
        0L, "wB")
      assert(b.version == 1L && b.rowsDeleted == 3L)
    })
    assert(a.toOption.exists(st => st.version == 2L && st.rowsDeleted == 3L),
      s"A must land via mask-union rebase: $a")
    // the union is exact: both predicates' rows gone, everything else kept
    val got = VersionedTable.read(spark, dir).select($"k").as[Long]
      .collect().toSet
    assert(got == (0L until 100L).toSet -- Set(2L, 3L, 4L, 10L, 11L, 12L))
    // ONE dv entry per file carrying the FULL merged position set
    val m2 = VersionedTable.readManifest(spark, dir, 2L)
    val hot = m2.dv.filter(_._2._2 == 6L)
    assert(hot.size == 1, s"the hot file's entry must carry all 6: ${m2.dv}")
    // CDF replay identity: the rebased history replays as exactly each
    // commit's own logical change
    val c1 = VersionedTable.changesBetween(spark, dir, 0L, 1L, Seq("k"))
      .select($"k").as[Long].collect().toSet
    val c2 = VersionedTable.changesBetween(spark, dir, 1L, 2L, Seq("k"))
      .select($"k").as[Long].collect().toSet
    assert(c1 == Set(2L, 3L, 4L) && c2 == Set(10L, 11L, 12L),
      s"rebased history must replay per-commit: $c1 / $c2")
    // the union survives downstream machinery: purge materializes it
    VersionedTable.purgeDeletes(spark, dir, 2L, "opt")
    val after = VersionedTable.read(spark, dir).select($"k").as[Long]
      .collect().toSet
    assert(after == (0L until 100L).toSet --
      Set(2L, 3L, 4L, 10L, 11L, 12L))
  }

  test("mask-union rebase refuses: overlapping scopes, non-delete winners") {
    spark.udf.register("race_gate", (name: String) => RaceGates.gate(name))
    locally { // OVERLAPPING scopes on the same file still lose loudly
      val dir = tmp("dv-union-ovl")
      mkTable(dir)
      val r = raceDelete(dir, "u2", "k >= 21 AND k <= 23", () => {
        VersionedTable.deleteWhere(spark, dir, "k >= 20 AND k <= 22",
          0L, "wC")
      })
      assert(r.swap.toOption.exists(_.isInstanceOf[VersionedTable.CommitConflict]),
        s"overlapping scopes must refuse: $r")
    }
    locally { // a winner that REWROTE the file (update) proves nothing
      val dir = tmp("dv-union-upd")
      mkTable(dir)
      val r = raceDelete(dir, "u3", "k = 11", () => {
        VersionedTable.updateWhere(spark, dir, "k = 12",
          Seq("v" -> "'x'"), 0L, "wU")
      })
      assert(r.swap.toOption.exists(_.isInstanceOf[VersionedTable.CommitConflict]),
        s"a rewrite winner must refuse the mask merge: $r")
    }
  }

  test("merge's read set keeps masked key hits: a restore that unmasks them refuses") {
    // k = 30 is masked at v1, so the merge of (30, "new") inserts it;
    // the hit scan reads UNMASKED, so k = 30's file is still in the
    // merge's read set, and a restore winner that lifts the mask
    // conflicts instead of letting the insert land as a second k = 30
    val dir = tmp("dv-merge-restore")
    mkTable(dir)
    spark.udf.register("race_gate", (name: String) => RaceGates.gate(name))
    VersionedTable.deleteWhere(spark, dir, "k = 30", 0L, "gdpr")
    val changes = Seq((30L, "new")).toDF("k", "v")
      .where(expr("race_gate('r1')"))
    val r = raceLoser("r1", () => {
      VersionedTable.restore(spark, dir, toVersion = 0L,
        expectedVersion = 1L, writerId = "wR")
    })(VersionedTable.merge(spark, dir, changes, Seq("k"), 1L, "loser-r1",
      rebaseAttempts = 1))
    assert(r.swap.toOption.exists(_.isInstanceOf[VersionedTable.CommitConflict]),
      s"a restore that unmasks the merge's key must refuse it: $r")
    assert(VersionedTable.read(spark, dir).where($"k" === 30L).count() == 1L,
      "k = 30 must read exactly once")
  }

  test("row-level writes refuse a bad writer id before any job") {
    val dir = tmp("dv-writer-id")
    mkTable(dir)
    val changes = Seq((5L, "upd5")).toDF("k", "v")
    val writes: Seq[(String, () => Any)] = Seq(
      "merge" -> (() => VersionedTable.merge(spark, dir, changes, Seq("k"),
        0L, "a/b")),
      "updateWhere" -> (() => VersionedTable.updateWhere(spark, dir, "k = 5",
        Seq("v" -> "'x'"), 0L, "a/b")),
      "purgeDeletes" -> (() => VersionedTable.purgeDeletes(spark, dir, 0L,
        "a/b")),
      "compactSmallFiles" -> (() => VersionedTable.compactSmallFiles(spark,
        dir, 0L, "a/b", smallBytes = Long.MaxValue)))
    writes.foreach { case (op, write) =>
      val jobs = jobsStarted {
        intercept[IllegalArgumentException](write())
      }
      assert(jobs == 0, s"$op started $jobs jobs before refusing 'a/b'")
    }
    assert(VersionedTable.latestVersion(spark, dir) == 0L)
  }

  test("deleteWhere finds its hit stats in one distributed job") {
    // hits aggregate per file with each file's footer read next to its
    // count in ONE distributed job at every scale: no driver-side count
    // map, no second footer metadata job
    val dir = tmp("dv-onejob")
    mkTable(dir)
    val pred = "k % 7 = 2 or k >= 95"
    var st: VersionedTable.DeleteStats = null
    val jobs = jobsStarted {
      st = VersionedTable.deleteWhere(spark, dir, pred, 0L, "w")
    }
    // the delete's whole job footprint on this 4-file table
    assert(jobs == 4, s"deleteWhere started $jobs jobs")
    val hit = (0L until 100L).filter(k => k % 7 == 2 || k >= 95)
    assert(st.rowsDeleted == hit.length.toLong && st.filesMasked == 4L &&
      st.filesDropped == 0L && st.filesTotal == 4L, s"receipt: $st")
    val survivors = VersionedTable.read(spark, dir).as[(Long, String)]
      .collect().toSet
    assert(survivors == (0L until 100L).filterNot(hit.contains)
      .map(k => (k, s"r$k")).toSet, "surviving rows")
    val masks = VersionedTable.readManifest(spark, dir, 1L).dv
    assert(masks.size == 4 && masks.values.map(_._2).sum == hit.length,
      s"per-file mask counts: $masks")
  }

  test("merge's job footprint: one update key and one insert key") {
    val dir = tmp("dv-merge-jobs")
    mkTable(dir)
    val changes = Seq((5L, "upd5"), (200L, "new200")).toDF("k", "v")
    var st: VersionedTable.DeltaStats = null
    val jobs = jobsStarted {
      st = VersionedTable.merge(spark, dir, changes, Seq("k"), 0L, "m")
    }
    // the merge's whole job footprint on this 4-file table
    assert(jobs == 11, s"merge started $jobs jobs")
    assert(st.version == 1L && st.filesRemoved == 1L, s"receipt: $st")
    val got = VersionedTable.read(spark, dir).as[(Long, String)].collect().toSet
    val want = (0L until 100L).map(k => (k, if (k == 5L) "upd5" else s"r$k"))
      .toSet + ((200L, "new200"))
    assert(got == want, "merged rows")
  }

  test("updateWhere's job footprint") {
    val dir = tmp("dv-update-jobs")
    mkTable(dir)
    var st: Option[VersionedTable.DeltaStats] = None
    val jobs = jobsStarted {
      st = VersionedTable.updateWhere(spark, dir, "k = 5 OR k = 60",
        Seq("v" -> "'x'"), 0L, "u")
    }
    // the update's whole job footprint on this 4-file table
    assert(jobs == 6, s"updateWhere started $jobs jobs")
    assert(st.exists(s => s.version == 1L && s.filesRemoved == 2L),
      s"receipt: $st")
    val got = VersionedTable.read(spark, dir).as[(Long, String)].collect().toSet
    assert(got == (0L until 100L).map(k =>
      (k, if (k == 5L || k == 60L) "x" else s"r$k")).toSet, "updated rows")
  }
}

/** Latch registry for the deterministic mid-flight commit races above
  * (local-mode executor threads share this JVM). */
object RaceGates {
  private val enteredM = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CountDownLatch]()
  private val releaseM = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CountDownLatch]()
  def arm(name: String): Unit = {
    enteredM.put(name, new java.util.concurrent.CountDownLatch(1))
    releaseM.put(name, new java.util.concurrent.CountDownLatch(1))
  }
  def entered(name: String): java.util.concurrent.CountDownLatch =
    enteredM.get(name)
  def release(name: String): java.util.concurrent.CountDownLatch =
    releaseM.get(name)
  def gate(name: String): Boolean = {
    enteredM.get(name).countDown()
    releaseM.get(name).await(60, java.util.concurrent.TimeUnit.SECONDS)
    true
  }
}
