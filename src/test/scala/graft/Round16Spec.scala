package graft

import org.apache.spark.sql.functions._
import graft.operators.VersionedTable
import graft.operators.VersionedTable.{CommitConflict, ExpectationViolation}

/** Round-16 surface: fastForward additive reconciliation (one-sided
  * schema appends and declaration changes land; two-sided refuses),
  * recorded write scopes for merge/updateWhere widening the rebase
  * admit set, landing-meta hygiene (per-commit receipts never ride a
  * landing), the coarse-mtime manifest-cache shield, the version-
  * listing cache, and the SQL CHERRY PICK + ALTER fallthrough
  * routing. */
class Round16Spec extends SparkSpec {
  import spark.implicits._

  private def df(tag: String, n: Int, from: Int = 0) =
    spark.range(from, from + n).select($"id".as("k"), lit(tag).as("v"))

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def rows(d: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    d.select($"k", $"v").as[(Long, String)].collect().toSet

  // ───────────── fastForward additive reconciliation ─────────────

  test("fastForward lands a branch ADD COLUMNS + feed re-declare over a moved mainline") {
    val dir = tmp("ff-add")
    VersionedTable.commit(spark, dir, df("a", 20), -1L, "w",
      statsCols = Some(Seq("k")), clusterBy = Seq("k"), clusterFiles = 4)
    VersionedTable.createBranch(spark, dir, "dev")
    val ref = VersionedTable.branchRef(dir, "dev")
    // branch: append a nullable column, re-declare the feed, write rows
    VersionedTable.addColumns(spark, ref, Seq(
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType, nullable = true)), 0L, "wb")
    VersionedTable.commitDelta(spark, ref,
      Some(spark.range(100, 103).select($"id".as("k"), lit("dev").as("v"),
        lit(1.5).as("score"))),
      Seq.empty, 1L, "wb", meta = Map(VersionedTable.FeedKey -> "k"))
    // mainline: an unrelated DV delete on its own files
    VersionedTable.deleteWhere(spark, dir, "k = 3", 0L, "w")
    val landed = VersionedTable.fastForward(spark, dir, "dev", "w").get
    val lm = VersionedTable.readManifest(spark, dir, landed)
    // landing took the branch's extended schema + feed declaration
    assert(lm.schema.get.fieldNames.toSeq == Seq("k", "v", "score"))
    assert(lm.meta.get(VersionedTable.FeedKey).contains("k"))
    // mainline's delete AND the branch's rows both visible; old rows
    // null-fill the new column
    val out = VersionedTable.read(spark, dir)
    assert(out.count() == 22L) // 20 - 1 deleted + 3 branch rows
    assert(out.where($"k" === 3).isEmpty)
    assert(out.where($"score".isNotNull).count() == 3L)
    // the feed exists for the landing version (ensureFeed ran with the
    // re-declared keys)
    assert(VersionedTable.readManifest(spark, dir, landed)
      .meta.get(VersionedTable.FeedKey).contains("k"))
  }

  test("fastForward lands when MAINLINE appended columns and the branch only wrote rows") {
    val dir = tmp("ff-madd")
    VersionedTable.commit(spark, dir, df("a", 10), -1L, "w")
    VersionedTable.createBranch(spark, dir, "dev")
    val ref = VersionedTable.branchRef(dir, "dev")
    VersionedTable.commitDelta(spark, ref, Some(df("dev", 2, 50)),
      Seq.empty, 0L, "wb")
    // mainline: metadata-only ADD COLUMNS while the branch is open
    VersionedTable.addColumns(spark, dir, Seq(
      org.apache.spark.sql.types.StructField("w2",
        org.apache.spark.sql.types.StringType, nullable = true)), 0L, "w")
    val landed = VersionedTable.fastForward(spark, dir, "dev", "w").get
    val lm = VersionedTable.readManifest(spark, dir, landed)
    assert(lm.schema.get.fieldNames.toSeq == Seq("k", "v", "w2"))
    val out = VersionedTable.read(spark, dir)
    assert(out.count() == 12L)
    assert(out.where($"w2".isNotNull).isEmpty) // all null-filled
    // the NEXT cycle keeps landing (carryover state: branch schema
    // still the fork's, mainline extended)
    VersionedTable.commitDelta(spark, ref, Some(df("dev2", 1, 60)),
      Seq.empty, 1L, "wb")
    val landed2 = VersionedTable.fastForward(spark, dir, "dev", "w").get
    assert(VersionedTable.read(spark, dir).count() == 13L)
    assert(VersionedTable.readManifest(spark, dir, landed2)
      .schema.get.fieldNames.length == 3)
  }

  test("quiet-mainline wholesale landing still admits arbitrary branch migrations (rename)") {
    // the r15 behavior the state-conditioned wholesale check must
    // preserve: with mainline commit-quiet AND state-identical to the
    // fork, the branch may land ANY migration — here a colmap RENAME,
    // which the reconciliation path would refuse
    val dir = tmp("ff-wholesale")
    VersionedTable.commit(spark, dir, df("a", 6), -1L, "w")
    VersionedTable.createBranch(spark, dir, "mig")
    val ref = VersionedTable.branchRef(dir, "mig")
    VersionedTable.renameColumns(spark, ref, Map("v" -> "label"), 0L, "wb")
    VersionedTable.commitDelta(spark, ref,
      Some(spark.range(1).coalesce(1).select(lit(50L).as("k"),
        lit("m").as("label"))), Seq.empty, 1L, "wb")
    val landed = VersionedTable.fastForward(spark, dir, "mig", "w").get
    val lm = VersionedTable.readManifest(spark, dir, landed)
    assert(lm.schema.get.fieldNames.toSeq == Seq("k", "label"))
    assert(lm.colmap.get("label").contains("v"),
      "the branch's column mapping must land wholesale")
    assert(VersionedTable.read(spark, dir)
      .where($"label" === "m").count() == 1L)
    // the SAME migration with a MOVED mainline now lands through the
    // ONE-SIDED rename reconciliation (round 18, VERDICT r17 missing
    // #3): only the branch renamed, so physical-identity matching
    // takes the branch's names; mainline's append reads through
    val dir2 = tmp("ff-wholesale2")
    VersionedTable.commit(spark, dir2, df("a", 6), -1L, "w")
    VersionedTable.createBranch(spark, dir2, "mig")
    val ref2 = VersionedTable.branchRef(dir2, "mig")
    VersionedTable.renameColumns(spark, ref2, Map("v" -> "label"), 0L, "wb")
    VersionedTable.commitDelta(spark, dir2,
      Some(df("m", 1, 70).coalesce(1)), Seq.empty, 0L, "w")
    val landed2 = VersionedTable.fastForward(spark, dir2, "mig", "w",
      readsTable = false).get
    val lm2 = VersionedTable.readManifest(spark, dir2, landed2)
    assert(lm2.schema.get.fieldNames.toSeq == Seq("k", "label"))
    assert(VersionedTable.read(spark, dir2)
      .where($"label" === "m").count() == 1L)
  }

  test("fastForward still refuses two-sided divergence (both re-declared / both extended)") {
    val dir = tmp("ff-two")
    VersionedTable.commit(spark, dir, df("a", 10), -1L, "w")
    VersionedTable.createBranch(spark, dir, "dev")
    val ref = VersionedTable.branchRef(dir, "dev")
    // both sides re-declare DIFFERENT clusterings
    VersionedTable.commitDelta(spark, ref, Some(df("d", 1, 50)), Seq.empty,
      0L, "wb", meta = Map(VersionedTable.ClusterKey -> "k"))
    VersionedTable.commitDelta(spark, dir, Some(df("m", 1, 60)), Seq.empty,
      0L, "w", meta = Map(VersionedTable.ClusterKey -> "v"))
    val e = intercept[CommitConflict] {
      VersionedTable.fastForward(spark, dir, "dev", "w",
        readsTable = false)
    }
    assert(e.getMessage.contains("both re-declared"))
    // both sides extend with the SAME name at DIFFERENT types → schema
    // refusal (round 17 moved the DISJOINT-names cell from refuse to
    // land — Round17Spec pins the landing; this pins what survives:
    // a same-name type clash has no union)
    val dir2 = tmp("ff-two2")
    VersionedTable.commit(spark, dir2, df("a", 10), -1L, "w")
    VersionedTable.createBranch(spark, dir2, "dev")
    val ref2 = VersionedTable.branchRef(dir2, "dev")
    VersionedTable.addColumns(spark, ref2, Seq(
      org.apache.spark.sql.types.StructField("c1",
        org.apache.spark.sql.types.LongType, nullable = true)), 0L, "wb")
    VersionedTable.addColumns(spark, dir2, Seq(
      org.apache.spark.sql.types.StructField("c1",
        org.apache.spark.sql.types.DoubleType, nullable = true)), 0L, "w")
    val e2 = intercept[CommitConflict] {
      VersionedTable.fastForward(spark, dir2, "dev", "w",
        readsTable = false)
    }
    assert(e2.getMessage.contains("has no union"))
  }

  test("cross-dimension one-sidedness: mainline extends the schema while the branch re-declares") {
    // the reconciliation treats schema and declarations independently:
    // each dimension one-sided (on DIFFERENT sides) still lands —
    // landing takes mainline's extended schema AND the branch's
    // declaration set, with the branch's new expectation enforced on
    // mainline's since-fork adds under the landed (extended) schema
    val dir = tmp("ff-cross")
    VersionedTable.commit(spark, dir, df("a", 6), -1L, "w")
    VersionedTable.createBranch(spark, dir, "dev")
    val ref = VersionedTable.branchRef(dir, "dev")
    VersionedTable.commitDelta(spark, ref, Some(df("ok", 1, 50).coalesce(1)),
      Seq.empty, 0L, "wb", expectations = Map("no_bad" -> "v <> 'bad'"))
    // mainline: metadata-only ADD COLUMNS, then a clean append
    VersionedTable.addColumns(spark, dir, Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType, nullable = true)), 0L, "w")
    VersionedTable.commitDelta(spark, dir,
      Some(spark.range(1).coalesce(1).select(lit(60L).as("k"),
        lit("fine").as("v"), lit(7L).as("extra"))), Seq.empty, 1L, "w")
    val landed = VersionedTable.fastForward(spark, dir, "dev", "w",
      readsTable = false).get
    val lm = VersionedTable.readManifest(spark, dir, landed)
    assert(lm.schema.get.fieldNames.toSeq == Seq("k", "v", "extra"))
    assert(VersionedTable.tableExpectations(spark, dir, landed)
      .get("no_bad").contains("v <> 'bad'"))
    val out = VersionedTable.read(spark, dir)
    assert(out.count() == 8L) // 6 base + 1 mainline + 1 branch
    assert(out.where($"extra" === 7L).count() == 1L)
    // the violating variant refuses: mainline's since-fork append
    // breaks the branch's new CHECK, enforced under the landed schema
    val dir2 = tmp("ff-cross2")
    VersionedTable.commit(spark, dir2, df("a", 6), -1L, "w")
    VersionedTable.createBranch(spark, dir2, "dev")
    val ref2 = VersionedTable.branchRef(dir2, "dev")
    VersionedTable.commitDelta(spark, ref2,
      Some(df("ok", 1, 50).coalesce(1)),
      Seq.empty, 0L, "wb", expectations = Map("no_bad" -> "v <> 'bad'"))
    VersionedTable.addColumns(spark, dir2, Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType, nullable = true)), 0L, "w")
    VersionedTable.commitDelta(spark, dir2,
      Some(spark.range(1).coalesce(1).select(lit(61L).as("k"),
        lit("bad").as("v"), lit(8L).as("extra"))), Seq.empty, 1L, "w")
    val e = intercept[ExpectationViolation] {
      VersionedTable.fastForward(spark, dir2, "dev", "w",
        readsTable = false)
    }
    assert(e.getMessage.contains("no_bad"))
  }

  test("fastForward enforces a re-declared expectation on the other side's since-fork rows") {
    // branch declares `v <> 'bad'`; mainline appended a violating row
    // since the fork → the landing must refuse with the violation
    val dir = tmp("ff-exp")
    VersionedTable.commit(spark, dir, df("a", 5), -1L, "w")
    VersionedTable.createBranch(spark, dir, "dev")
    val ref = VersionedTable.branchRef(dir, "dev")
    VersionedTable.commitDelta(spark, ref, Some(df("ok", 1, 50)), Seq.empty,
      0L, "wb", expectations = Map("no_bad" -> "v <> 'bad'"))
    VersionedTable.commitDelta(spark, dir, Some(df("bad", 2, 60)), Seq.empty,
      0L, "w")
    val e = intercept[ExpectationViolation] {
      VersionedTable.fastForward(spark, dir, "dev", "w",
        readsTable = false)
    }
    assert(e.getMessage.contains("no_bad"))
    // clean mainline rows land fine under the same declaration
    val dir2 = tmp("ff-exp2")
    VersionedTable.commit(spark, dir2, df("a", 5), -1L, "w")
    VersionedTable.createBranch(spark, dir2, "dev")
    val ref2 = VersionedTable.branchRef(dir2, "dev")
    VersionedTable.commitDelta(spark, ref2, Some(df("ok", 1, 50)), Seq.empty,
      0L, "wb", expectations = Map("no_bad" -> "v <> 'bad'"))
    VersionedTable.commitDelta(spark, dir2, Some(df("fine", 2, 60)),
      Seq.empty, 0L, "w")
    val landed = VersionedTable.fastForward(spark, dir2, "dev", "w",
      readsTable = false).get
    assert(VersionedTable.tableExpectations(spark, dir2, landed)
      .get("no_bad").contains("v <> 'bad'"))
    // and the persisted expectation now gates mainline commits
    intercept[ExpectationViolation] {
      VersionedTable.commitDelta(spark, dir2, Some(df("bad", 1, 90)),
        Seq.empty, landed, "w")
    }
  }

  test("landing meta hygiene: scopes and rescan receipts never ride a fastForward/cherryPick") {
    val dir = tmp("ff-meta")
    VersionedTable.commit(spark, dir, df("a", 20), -1L, "w",
      statsCols = Some(Seq("k")), clusterBy = Seq("k"), clusterFiles = 4)
    // mainline absorbs a scoped delete (stamps scope.op/scope.bounds)
    VersionedTable.deleteWhere(spark, dir, "k >= 0 AND k < 2", 0L, "w")
    assert(VersionedTable.readManifest(spark, dir, 1L)
      .meta.contains(VersionedTable.ScopeOpKey))
    VersionedTable.createBranch(spark, dir, "dev")
    val ref = VersionedTable.branchRef(dir, "dev")
    // branch work: its own scoped delete, then an append
    VersionedTable.deleteWhere(spark, ref, "k = 9", 1L, "wb")
    VersionedTable.commitDelta(spark, ref, Some(df("d", 1, 50)), Seq.empty,
      2L, "wb")
    val landed = VersionedTable.fastForward(spark, dir, "dev", "w").get
    val lm = VersionedTable.readManifest(spark, dir, landed)
    assert(!lm.meta.contains(VersionedTable.ScopeOpKey) &&
      !lm.meta.contains(VersionedTable.ScopeBoundsKey),
      s"a landing must not masquerade as a scoped delete: ${lm.meta}")
    assert(!lm.meta.keys.exists(_.startsWith("view.rescan.")))
    assert(lm.meta.get("branch.landed").contains("dev"))
    // cherry-pick the same discipline
    VersionedTable.createBranch(spark, dir, "pick")
    val ref2 = VersionedTable.branchRef(dir, "pick")
    VersionedTable.commitDelta(spark, ref2, Some(df("p", 1, 70)), Seq.empty,
      landed, "wb")
    val picked = VersionedTable.cherryPick(spark, dir, "pick",
      landed + 1, "w")
    val pmm = VersionedTable.readManifest(spark, dir, picked)
    assert(!pmm.meta.contains(VersionedTable.ScopeOpKey))
    // the tag is incarnation-qualified (round 18): name@version#inc
    assert(pmm.meta.get("branch.cherryPicked")
      .exists(_.startsWith(s"pick@${landed + 1}#")))
  }

  // ───────────── recorded scopes widen the rebase admit ─────────────

  test("two scope-disjoint merges RACE on a stats-less table: both land, no caller retry") {
    val dir = tmp("scope-mm")
    // NO statsCols: the winner's rewritten files carry no envelopes,
    // so the pre-r16 analysis refused a mid-flight loser on the
    // winner's adds (missing stats = conservatively risky); the
    // recorded scopes now prove disjointness. Both merges start from
    // v0 CONCURRENTLY — whichever loses the CAS mid-flight rebases
    // under the winner's recorded scope (an interleaving where the
    // second entered late re-plans at the tip instead; every
    // interleaving must land without a caller-level retry).
    VersionedTable.commit(spark, dir,
      spark.range(100).select($"id".as("k"), lit("a").as("v"))
        .repartitionByRange(4, $"k"), -1L, "w")
    val lo = spark.range(0, 3).select($"id".as("k"), lit("lo").as("v"))
    val hi = spark.range(90, 93).select($"id".as("k"), lit("hi").as("v"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t1 = new Thread(() =>
      try VersionedTable.merge(spark, dir, hi, Seq("k"), 0L, "w1",
        rebaseAttempts = 2)
      catch { case e: Throwable => errs.add(e) })
    val t2 = new Thread(() =>
      try VersionedTable.merge(spark, dir, lo, Seq("k"), 0L, "w2",
        rebaseAttempts = 2)
      catch { case e: Throwable => errs.add(e) })
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errs.isEmpty, s"both scope-disjoint merges must land: $errs")
    assert(VersionedTable.latestVersion(spark, dir) == 2L)
    // both winners' manifests carry their recorded scopes
    (1L to 2L).foreach { v =>
      val m = VersionedTable.readManifest(spark, dir, v)
      assert(m.meta.get(VersionedTable.ScopeOpKey).contains("merge"))
      assert(m.meta.contains(VersionedTable.ScopeBoundsKey))
    }
    val out = VersionedTable.read(spark, dir)
    assert(out.where($"v" === "lo").count() == 3L)
    assert(out.where($"v" === "hi").count() == 3L)
    assert(out.count() == 100L)
    // the CDF across both commits replays the serial outcome: six
    // updates (three per merge), no phantom inserts/deletes — a
    // scope-admitted rebase must not distort the change feed
    val ch = VersionedTable.changesBetween(spark, dir, 0L, 2L, Seq("k"))
    assert(ch.where($"op" === "update").count() == 6L)
    assert(ch.where($"op" =!= "update").isEmpty)
  }

  test("two updateWhere writers on disjoint key ranges land without a retry loop; CDF replays") {
    val dir = tmp("scope-uu")
    VersionedTable.commit(spark, dir,
      spark.range(100).select($"id".as("k"), lit(0L).as("v"))
        .repartitionByRange(4, $"k"), -1L, "w",
      statsCols = Some(Seq("k")), clusterBy = Seq("k"), clusterFiles = 4,
      meta = Map(VersionedTable.FeedKey -> "k"))
    VersionedTable.updateWhere(spark, dir, "k < 5",
      Seq("v" -> "100"), 0L, "w1")
    assert(VersionedTable.readManifest(spark, dir, 1L)
      .meta.get(VersionedTable.ScopeOpKey).contains("update"))
    // second writer planned at v0; lands by rebase (file-disjoint AND
    // scope-recorded — either admit suffices; the point is no caller
    // retry loop)
    val st = VersionedTable.updateWhere(spark, dir, "k >= 95",
      Seq("v" -> "200"), 0L, "w2", rebaseAttempts = 2).get
    assert(st.version == 2L)
    val out = VersionedTable.read(spark, dir)
    assert(out.where($"v" === 100L).count() == 5L)
    assert(out.where($"v" === 200L).count() == 5L)
    // CDF across both commits replays the serial outcome key-exactly
    val ch = VersionedTable.changesBetween(spark, dir, 0L, 2L, Seq("k"))
    assert(ch.where($"op" === "update").count() == 10L)
  }

  test("an update that SETs a scoped column records no bound for it; an untouched column's bound stays") {
    val dir = tmp("scope-set")
    VersionedTable.commit(spark, dir,
      spark.range(100).select($"id".as("k"), lit(0L).as("v"))
        .repartitionByRange(4, $"k"), -1L, "w")
    // SET touches k: its post-image can leave the predicate envelope,
    // so no bound on k may be recorded (a racing loser must get no
    // disjointness proof from this commit). k was the ONLY bounded
    // column → no scope at all.
    VersionedTable.updateWhere(spark, dir, "k >= 90 AND k < 93",
      Seq("k" -> "k", "v" -> "7"), 0L, "w1")
    val wm = VersionedTable.readManifest(spark, dir, 1L)
    assert(!wm.meta.contains(VersionedTable.ScopeBoundsKey) &&
      !wm.meta.contains(VersionedTable.ScopeOpKey),
      s"SET column must not carry a recorded bound: ${wm.meta}")
    // an update NOT touching its bounded column records the scope
    VersionedTable.updateWhere(spark, dir, "k >= 10 AND k < 13",
      Seq("v" -> "9"), 1L, "w1")
    val wm2 = VersionedTable.readManifest(spark, dir, 2L)
    assert(wm2.meta.get(VersionedTable.ScopeOpKey).contains("update"))
    assert(wm2.meta.get(VersionedTable.ScopeBoundsKey).exists(_.startsWith("k|")))
    // and a delete's scope (pre-existing discipline) still records
    VersionedTable.deleteWhere(spark, dir, "k = 50", 2L, "w1")
    assert(VersionedTable.readManifest(spark, dir, 3L)
      .meta.get(VersionedTable.ScopeOpKey).contains("delete"))
  }

  // ───────────── metadata caches ─────────────

  test("manifest cache: a same-tick same-length recreation never serves stale (grace shield)") {
    val dir = tmp("cache-grace")
    VersionedTable.commit(spark, dir, df("a", 3), -1L, "w")
    val v = VersionedTable.latestVersion(spark, dir)
    val m1 = VersionedTable.readManifest(spark, dir, v) // populates cache
    assert(m1.writer == "w")
    // simulate delete + recreate INSIDE one mtime tick: rewrite the
    // manifest bytes with an equal-length body carrying a different
    // writer id, then pin mtime back to the recorded value
    val p = new java.io.File(s"$dir/_log/$v.manifest")
    val mt = p.lastModified()
    val body = new String(java.nio.file.Files.readAllBytes(p.toPath), "UTF-8")
    assert(body.contains("writer=w"))
    java.nio.file.Files.write(p.toPath,
      body.replace("writer=w", "writer=x").getBytes("UTF-8"))
    assert(p.setLastModified(mt))
    // default grace (2 s) far exceeds the test's elapsed time, so the
    // freshly-stamped entry is not servable and the read hits disk
    val m2 = VersionedTable.readManifest(spark, dir, v)
    assert(m2.writer == "x",
      "a recreation inside the mtime tick must not serve the stale parse")
  }

  test("version-listing cache: external commits, deletes, and recreation all stay visible") {
    spark.conf.set("graft.manifest.cache.graceMs", "0") // cache eagerly
    try {
      val dir = tmp("cache-list")
      VersionedTable.commit(spark, dir, df("a", 3), -1L, "w")
      VersionedTable.commit(spark, dir, df("b", 3), 0L, "w")
      assert(VersionedTable.versions(spark, dir) == Seq(0L, 1L))
      assert(VersionedTable.versions(spark, dir) == Seq(0L, 1L)) // cached
      // an EXTERNAL writer (another process: no in-process invalidate)
      // creates the next manifest directly — the tip+1 probe sees it
      val src = new java.io.File(s"$dir/_log/1.manifest")
      val body = new String(
        java.nio.file.Files.readAllBytes(src.toPath), "UTF-8")
        .replace("version=1", "version=2").replace("parent=0", "parent=1")
      java.nio.file.Files.write(
        new java.io.File(s"$dir/_log/2.manifest").toPath,
        body.getBytes("UTF-8"))
      assert(VersionedTable.versions(spark, dir) == Seq(0L, 1L, 2L),
        "an externally-committed version must be visible despite the cache")
      // external retention: deleting a manifest bumps the dir mtime →
      // the cached listing misses and re-lists. graceMs=0 disables the
      // same-tick shield the production default provides, so step past
      // the millisecond tick by hand — the delete must land in a LATER
      // tick than the cached listing's mtime for the miss to register
      // (exactly the window the 2 s default grace covers in production)
      Thread.sleep(10)
      java.nio.file.Files.delete(
        new java.io.File(s"$dir/_log/0.manifest").toPath)
      assert(VersionedTable.versions(spark, dir) == Seq(1L, 2L))
    } finally spark.conf.unset("graft.manifest.cache.graceMs")
  }

  // ───────────── SQL routing: CHERRY PICK + ALTER fallthrough ─────────────

  test("SQL CHERRY PICK lands one branch commit; grammar and dependency refusals stay loud") {
    import graft.core.GraftSession
    val dir = tmp("sql-pick")
    VersionedTable.commit(spark, dir, df("a", 10), -1L, "w")
    val gs = new GraftSession(spark)
    gs.registerVersioned("t", dir)
    gs.runScript(
      """CREATE BRANCH hotfix.v1 ON t AS tdev;
        |INSERT INTO tdev SELECT k + 100, 'p1' FROM tdev WHERE k < 2;
        |INSERT INTO tdev SELECT k + 200, 'p2' FROM tdev WHERE k < 2""".stripMargin)
    // pick ONLY the second commit (a blind append — no dependency on
    // the first); branch names with dots flow through the grammar
    val r = gs.sql("CHERRY PICK 2 FROM hotfix.v1 ON t").head()
    assert(r.getString(0) == "cherry_pick" && r.getLong(2) == 1L)
    assert(gs.sql("SELECT count(*) FROM t").as[Long].head() == 12L)
    assert(rows(VersionedTable.read(spark, dir))
      .count(_._2 == "p2") == 2L)
    // refusal probes: bad version, pick from a missing branch,
    // non-numeric version, missing ON clause
    intercept[IllegalArgumentException] {
      gs.sql("CHERRY PICK 99 FROM hotfix.v1 ON t")
    }
    intercept[IllegalArgumentException] {
      gs.sql("CHERRY PICK 1 FROM nope ON t")
    }
    intercept[IllegalArgumentException] {
      gs.sql("CHERRY PICK x FROM hotfix.v1 ON t")
    }
    intercept[IllegalArgumentException] {
      gs.sql("CHERRY PICK 1 FROM hotfix.v1")
    }
    // a pick on a non-versioned alias refuses with the binding message
    gs.register("plain", spark.range(3).toDF("x"))
    intercept[IllegalArgumentException] {
      gs.sql("CHERRY PICK 1 FROM hotfix.v1 ON plain")
    }
  }

  test("unmatched ALTER falls through to Spark except on versioned aliases") {
    import graft.core.GraftSession
    val dir = tmp("sql-alter")
    VersionedTable.commit(spark, dir, df("a", 3), -1L, "w")
    val gs = new GraftSession(spark)
    gs.registerVersioned("t", dir)
    // a real Spark catalog table: SET TBLPROPERTIES must keep working
    // through the session's sql entry point (the documented contract)
    spark.sql("DROP TABLE IF EXISTS alter_probe")
    spark.sql("CREATE TABLE alter_probe(x INT) USING parquet")
    try {
      gs.sql("ALTER TABLE alter_probe SET TBLPROPERTIES ('p'='1')")
      assert(spark.sql("SHOW TBLPROPERTIES alter_probe")
        .where($"key" === "p").count() == 1L)
      // qualified names fall through too (refused only for bare
      // registered aliases)
      gs.sql("ALTER TABLE default.alter_probe SET TBLPROPERTIES ('q'='2')")
      // a qualified name whose FIRST part collides with a registered
      // versioned alias must STILL fall through to Spark — the
      // refusal is for the bare alias only
      val eq = intercept[Exception] {
        gs.sql("ALTER TABLE t.sub SET TBLPROPERTIES ('q'='2')")
      }
      assert(!eq.getMessage.contains("RENAME COLUMN"),
        s"qualified 't.sub' must reach Spark, not the alias refusal: $eq")
      // versioned alias: unsupported ALTER form refuses with grammar
      val e = intercept[IllegalArgumentException] {
        gs.sql("ALTER TABLE t SET TBLPROPERTIES ('p'='1')")
      }
      assert(e.getMessage.contains("RENAME COLUMN"))
    } finally spark.sql("DROP TABLE IF EXISTS alter_probe")
  }

  // ───────────── branch hardening probes ─────────────

  test("racing CREATE BRANCH on one name: exactly one winner, the world is intact") {
    val dir = tmp("race-cb")
    VersionedTable.commit(spark, dir, df("a", 4), -1L, "w")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 4).map { i =>
      new Thread(() =>
        try { VersionedTable.createBranch(spark, dir, "dev"); results.add("won") }
        catch { case _: CommitConflict => results.add("lost") })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(results.asScala.count(_ == "won") == 1,
      s"exactly one creator must win: $results")
    assert(VersionedTable.branches(spark, dir) == Seq("dev"))
    // the surviving branch is fully usable
    val ref = VersionedTable.branchRef(dir, "dev")
    VersionedTable.commit(spark, ref, df("d", 2), 0L, "wb")
    assert(VersionedTable.fastForward(spark, dir, "dev", "w").contains(1L))
  }

  test("fastForward racing a branch commit: every interleaving converges") {
    val dir = tmp("race-ff")
    VersionedTable.commit(spark, dir, df("a", 4), -1L, "w")
    VersionedTable.createBranch(spark, dir, "dev")
    val ref = VersionedTable.branchRef(dir, "dev")
    VersionedTable.commitDelta(spark, ref, Some(df("d1", 2, 50)), Seq.empty,
      0L, "wb")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val tFf = new Thread(() =>
      try VersionedTable.fastForward(spark, dir, "dev", "w")
      catch { case e: Throwable => errs.add(e) })
    val tCommit = new Thread(() =>
      try VersionedTable.commitDelta(spark, ref, Some(df("d2", 2, 70)),
        Seq.empty, 1L, "wb")
      catch { case e: Throwable => errs.add(e) })
    tFf.start(); tCommit.start(); tFf.join(); tCommit.join()
    // the branch commit may legitimately lose its CAS only against
    // another branch writer — there is none, so both must succeed
    assert(errs.isEmpty, s"unexpected failures: $errs")
    // a second landing drains whatever the first one raced past
    VersionedTable.fastForward(spark, dir, "dev", "w")
    assert(rows(VersionedTable.read(spark, dir)) ==
      rows(df("a", 4)) ++ rows(df("d1", 2, 50)) ++ rows(df("d2", 2, 70)))
  }

  test("DROP BRANCH with a live mainline cursor on the landing commit: CDC unaffected") {
    val dir = tmp("drop-cursor")
    VersionedTable.commit(spark, dir, df("a", 4), -1L, "w",
      meta = Map(VersionedTable.FeedKey -> "k"))
    VersionedTable.initCursor(spark, dir, "c1", 0L)
    VersionedTable.createBranch(spark, dir, "dev")
    val ref = VersionedTable.branchRef(dir, "dev")
    VersionedTable.commitDelta(spark, ref, Some(df("d", 2, 50)), Seq.empty,
      0L, "wb")
    val landed = VersionedTable.fastForward(spark, dir, "dev", "w").get
    // drop the branch BEFORE the cursor consumes the landing commit
    VersionedTable.deleteBranch(spark, dir, "dev")
    val (ch, from, to) = VersionedTable.pollChanges(spark, dir, "c1",
      Seq("k")).get
    assert(to == landed)
    assert(ch.where($"op" === "insert").count() == 2L,
      "the landing's change feed must survive the branch drop")
    VersionedTable.ackChanges(spark, dir, "c1", from, to)
    assert(VersionedTable.pollChanges(spark, dir, "c1", Seq("k")).isEmpty)
  }

  test("expireBranch then FAST FORWARD through SQL still lands") {
    import graft.core.GraftSession
    val dir = tmp("sql-expire-ff")
    VersionedTable.commit(spark, dir, df("a", 4), -1L, "w")
    val gs = new GraftSession(spark)
    gs.registerVersioned("t", dir)
    gs.runScript(
      """CREATE BRANCH dev ON t AS tdev;
        |INSERT INTO tdev SELECT k + 10, 'd1' FROM tdev;
        |INSERT INTO tdev SELECT k + 20, 'd2' FROM tdev WHERE v = 'd1';
        |INSERT INTO tdev SELECT k + 30, 'd3' FROM tdev WHERE v = 'd2'""".stripMargin)
    // bound the branch log THROUGH SQL; the fork manifest must survive
    val ex = gs.sql("EXPIRE BRANCH dev ON t KEEP 2").head()
    assert(ex.getString(0) == "expire_branch" && ex.getLong(3) >= 1L)
    val ff = gs.sql("FAST FORWARD t FROM dev").head()
    assert(ff.getString(0) == "fast_forward" && ff.getLong(2) == 1L)
    assert(gs.sql("SELECT count(*) FROM t").as[Long].head() == 16L)
    // grammar refusals
    intercept[IllegalArgumentException] { gs.sql("EXPIRE BRANCH dev ON t") }
    intercept[IllegalArgumentException] {
      gs.sql("EXPIRE BRANCH dev ON t KEEP 1") // keep >= 2 floor
    }
  }

  test("vacuum's branch-staging gate: dot-ambiguous owners shield by EVERY matching tip") {
    val dir = tmp("vac-amb")
    VersionedTable.commit(spark, dir, df("a", 4), -1L, "w")
    // live branches 'etl' (driven to a HIGH tip) and 'etl.eu' (tip 1):
    // a dir named v<mid>-b.etl.eu.w parses ambiguously (branch 'etl',
    // writer 'eu.w' — or branch 'etl.eu', writer 'w'); sweeping it by
    // etl's higher tip would delete etl.eu's in-flight staging
    VersionedTable.createBranch(spark, dir, "etl")
    val refEtl = VersionedTable.branchRef(dir, "etl")
    (1 to 6).foreach { i =>
      VersionedTable.commitDelta(spark, refEtl,
        Some(df("e", 1, 100 + i).coalesce(1)), Seq.empty,
        VersionedTable.latestVersion(spark, refEtl), "we")
    }
    VersionedTable.createBranch(spark, dir, "etl.eu")
    // simulate etl.eu's IN-FLIGHT commit: staged data, manifest not
    // yet CAS'd — version 3 is <= etl's tip (6) but > etl.eu's (0)
    val inflight = new java.io.File(s"$dir/data/v3-b.etl.eu.w1")
    assert(inflight.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(inflight, "part-0.parquet").toPath,
      Array[Byte](1, 2, 3))
    // and a genuinely superseded orphan of branch 'etl' (v1 <= both
    // matching tips... only 'etl' matches 'b.etl.w-old.' — none; it
    // matches only branch 'etl'): version 1 <= etl tip 6 → sweepable
    val orphan = new java.io.File(s"$dir/data/v1-b.etl.wdead")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(orphan, "part-0.parquet").toPath,
      Array[Byte](9))
    val swept = VersionedTable.vacuum(spark, dir)
    assert(swept.contains("data/v1-b.etl.wdead"),
      s"a superseded live-branch orphan must sweep: $swept")
    assert(!swept.exists(_.contains("b.etl.eu")) && inflight.exists(),
      s"ambiguous ownership must shield by EVERY matching tip: $swept")
    // once 'etl.eu' advances past v3, the unreferenced dir is garbage
    val refEu = VersionedTable.branchRef(dir, "etl.eu")
    (1 to 3).foreach { i =>
      VersionedTable.commitDelta(spark, refEu,
        Some(df("u", 1, 200 + i).coalesce(1)), Seq.empty,
        VersionedTable.latestVersion(spark, refEu), "wu")
    }
    assert(VersionedTable.vacuum(spark, dir)
      .contains("data/v3-b.etl.eu.w1"))
    // the reserved mainline writer-id prefix refuses at the door
    intercept[IllegalArgumentException] {
      VersionedTable.commitDelta(spark, dir, Some(df("x", 1, 300)),
        Seq.empty, 0L, "b.sneaky")
    }
  }

  test("RESTORE TO TIMESTAMP resolves through the in-manifest commit clock (UTC)") {
    import graft.core.GraftSession
    val dir = tmp("sql-restore-ts")
    // pin the commit clock so the as-of resolution is deterministic
    spark.conf.set("graft.commit.clockMs", "1000000") // 1970-01-01T00:16:40Z
    VersionedTable.commit(spark, dir, df("a", 4), -1L, "w")
    spark.conf.set("graft.commit.clockMs", "2000000") // 1970-01-01T00:33:20Z
    VersionedTable.commitDelta(spark, dir, Some(df("b", 2, 50)), Seq.empty,
      0L, "w")
    spark.conf.unset("graft.commit.clockMs")
    val gs = new GraftSession(spark)
    gs.registerVersioned("t", dir)
    // between the two commits → rolls back to v0 (both literal forms)
    val r = gs.sql("RESTORE t TO TIMESTAMP '1970-01-01 00:25:00'").head()
    assert(r.getString(0) == "restore" && r.getLong(2) == 2L)
    assert(gs.sql("SELECT count(*) FROM t").as[Long].head() == 4L)
    val r2 = gs.sql("RESTORE t TO TIMESTAMP '1970-01-01T00:33:20Z'").head()
    assert(r2.getLong(2) == 3L)
    assert(gs.sql("SELECT count(*) FROM t").as[Long].head() == 6L)
    // a timestamp before the earliest retained commit refuses loudly
    intercept[IllegalArgumentException] {
      gs.sql("RESTORE t TO TIMESTAMP '1970-01-01 00:00:01'")
    }
    // garbage literals surface the GRAMMAR refusal (keyword-first
    // contract), never a raw DateTimeParseException
    val eg = intercept[IllegalArgumentException] {
      gs.sql("RESTORE t TO TIMESTAMP 'not-a-time'")
    }
    assert(eg.getMessage.contains("could not parse"))
  }

  test("Pig LOAD of a missing branch ref fails with a clear message; names collide safely") {
    val dir = tmp("pig-missing")
    VersionedTable.commit(spark, dir, df("a", 4), -1L, "w")
    val e = intercept[Exception] {
      graft.pig.PigScript.query(spark,
        s"""B = LOAD '$dir@missing' USING VersionedStorage;
            G = GROUP B ALL;
            R = FOREACH G GENERATE COUNT(B) AS n;""")
    }
    assert(e.getMessage.toLowerCase.contains("missing") ||
      e.getMessage.toLowerCase.contains("branch") ||
      e.getMessage.toLowerCase.contains("no committed"),
      s"missing-branch LOAD must say what is wrong, got: ${e.getMessage}")
    // an alias named like the branch coexists: rebinding an alias via
    // CREATE BRANCH ... AS replaces it, the documented Pig semantics
    import graft.core.GraftSession
    val gs = new GraftSession(spark)
    gs.registerVersioned("t", dir)
    gs.register("dev", spark.range(2).toDF("x")) // pre-existing alias
    gs.sql("CREATE BRANCH dev ON t AS dev")      // rebinds the alias
    assert(gs.sql("SELECT count(*) FROM dev").as[Long].head() == 4L,
      "CREATE BRANCH ... AS must rebind the alias to the branch world")
  }
}
