package graft

import org.apache.spark.sql.functions._
import graft.operators.VersionedTable
import graft.operators.VersionedTable.CommitConflict

/** Named refs / branching over the manifest log
  * (operators/VersionedTable.scala, round 15): a branch is a second
  * manifest chain SHARING mainline's data files; every table
  * operation works on a `branchRef` address; merge-back is one
  * atomic mainline commit gated by the rebase disjointness analysis.
  * The load-bearing claims: (1) branch isolation is total in both
  * directions until fastForward, (2) fastForward lands the branch's
  * NET effect with zero data movement, refuses on overlap, and
  * (3) mainline retention never eats a live branch's shared files. */
class BranchSpec extends SparkSpec {
  import spark.implicits._

  private def df(tag: String, n: Int, from: Int = 0) =
    spark.range(from, from + n).select($"id".as("k"), lit(tag).as("v"))

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString + "/t"

  private def rows(d: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    d.select($"k", $"v").as[(Long, String)].collect().toSet

  test("fork is O(manifest); both directions stay isolated until landing") {
    val dir = tmp("br-iso")
    VersionedTable.commit(spark, dir, df("a", 4), -1L, "w")
    val base = VersionedTable.createBranch(spark, dir, "dev")
    assert(base == 0L)
    assert(VersionedTable.branches(spark, dir) == Seq("dev"))
    val ref = VersionedTable.branchRef(dir, "dev")
    // the fork reads the SAME content (shared files, copied manifest)
    assert(rows(VersionedTable.read(spark, ref)) ==
      rows(VersionedTable.read(spark, dir)))
    // branch commit: mainline blind to it
    VersionedTable.commit(spark, ref, df("dev1", 6), base, "wb")
    assert(VersionedTable.latestVersion(spark, ref) == 1L)
    assert(VersionedTable.latestVersion(spark, dir) == 0L)
    assert(rows(VersionedTable.read(spark, dir)) == rows(df("a", 4)))
    assert(rows(VersionedTable.read(spark, ref)) == rows(df("dev1", 6)))
    // mainline commit: branch blind to it
    VersionedTable.commit(spark, dir, df("m1", 5), 0L, "w")
    assert(rows(VersionedTable.read(spark, ref)) == rows(df("dev1", 6)))
    // a branch has its own CAS discipline (stale expectedVersion loud)
    intercept[CommitConflict] {
      VersionedTable.commit(spark, ref, df("dev2", 2), base, "wb")
    }
    // duplicate creation refused; typo'd refs never create worlds
    intercept[CommitConflict] {
      VersionedTable.createBranch(spark, dir, "dev")
    }
    intercept[IllegalArgumentException] {
      VersionedTable.commit(spark,
        VersionedTable.branchRef(dir, "nope"), df("x", 1), -1L, "w")
    }
    VersionedTable.deleteBranch(spark, dir, "dev")
    assert(VersionedTable.branches(spark, dir).isEmpty)
  }

  test("fastForward with quiet mainline lands the tip; provenance recorded") {
    val dir = tmp("br-ff")
    VersionedTable.commit(spark, dir, df("a", 4), -1L, "w")
    VersionedTable.createBranch(spark, dir, "dev")
    val ref = VersionedTable.branchRef(dir, "dev")
    // two branch commits: the landing is their NET effect
    VersionedTable.commit(spark, ref, df("d1", 6), 0L, "wb")
    VersionedTable.commit(spark, ref, df("d2", 3), 1L, "wb")
    val landed = VersionedTable.fastForward(spark, dir, "dev", "w")
    assert(landed.contains(1L))
    assert(rows(VersionedTable.read(spark, dir)) == rows(df("d2", 3)))
    val m = VersionedTable.readManifest(spark, dir, 1L)
    assert(m.meta.get("branch.landed").contains("dev"))
    assert(m.meta.get("branch.landedTip").contains("2"))
    // idempotence of emptiness: nothing more to land
    assert(VersionedTable.fastForward(spark, dir, "dev", "w").isEmpty)
    // history on the branch ref walks the branch chain
    assert(VersionedTable.history(spark, ref).count() == 3L) // base + 2
  }

  test("fastForward net effect: zero data movement, masks carried") {
    val dir = tmp("br-net")
    // multi-file clustered mainline so the branch can touch a subset
    VersionedTable.commit(spark, dir, df("a", 40), -1L, "w",
      statsCols = Some(Seq("k")), clusterBy = Seq("k"), clusterFiles = 4)
    VersionedTable.createBranch(spark, dir, "fix")
    val ref = VersionedTable.branchRef(dir, "fix")
    val preFiles = VersionedTable.liveFiles(spark, dir, 0L).toSet
    // branch work: a DV delete (mask) + an append (new file)
    VersionedTable.deleteWhere(spark, ref, "k = 3", 0L, "wb")
    VersionedTable.commitDelta(spark, ref, Some(df("extra", 2, 100)),
      Seq.empty, 1L, "wb")
    val landed = VersionedTable.fastForward(spark, dir, "fix", "w").get
    val lm = VersionedTable.readManifest(spark, dir, landed)
    // kept mainline files are the same paths (shared bytes, re-pointed)
    assert(preFiles.subsetOf(lm.files.toSet))
    assert(lm.dv.nonEmpty, "the branch's deletion mask must ride along")
    assert(rows(VersionedTable.read(spark, dir)) ==
      (rows(df("a", 40)) - ((3L, "a"))) ++ rows(df("extra", 2, 100)))
    // CDF across the landing shows the net churn
    val ch = VersionedTable.changesBetween(spark, dir, 0L, landed, Seq("k"))
    assert(ch.where($"op" === "delete").count() == 1L)
    assert(ch.where($"op" === "insert").count() == 2L)
  }

  test("fastForward gate: disjoint mainline lands, overlap refuses") {
    val dir = tmp("br-gate")
    VersionedTable.commit(spark, dir, df("a", 40), -1L, "w",
      statsCols = Some(Seq("k")), clusterBy = Seq("k"), clusterFiles = 4)
    VersionedTable.createBranch(spark, dir, "dev")
    val ref = VersionedTable.branchRef(dir, "dev")
    // branch masks rows in the k-envelope around 35
    VersionedTable.deleteWhere(spark, ref, "k = 35", 0L, "wb")
    // mainline advances DISJOINTLY: masks a row in a different file
    VersionedTable.deleteWhere(spark, dir, "k = 2", 0L, "wm")
    // sanity: they really touched different files
    val branchTouched = VersionedTable.readManifest(spark, ref, 1L).dv.keySet
    val mainTouched = VersionedTable.readManifest(spark, dir, 1L).dv.keySet
    assert((branchTouched & mainTouched).isEmpty,
      s"fixture must be file-disjoint: $branchTouched vs $mainTouched")
    val landed = VersionedTable.fastForward(spark, dir, "dev", "w").get
    assert(rows(VersionedTable.read(spark, dir)) ==
      rows(df("a", 40)) -- Set((35L, "a"), (2L, "a")))
    // overlap pole: a second branch masks a row mainline then rewrites
    VersionedTable.createBranch(spark, dir, "dev2")
    val ref2 = VersionedTable.branchRef(dir, "dev2")
    VersionedTable.deleteWhere(spark, ref2, "k = 10", landed, "wb2")
    // mainline update rewrites the file holding k=10 (same-file overlap)
    VersionedTable.updateWhere(spark, dir, "k = 11",
      Seq("v" -> "'bumped'"), landed, "wm")
    intercept[CommitConflict] {
      VersionedTable.fastForward(spark, dir, "dev2", "w")
    }
    // conservative default: mainline APPENDS refuse under readsTable,
    // land with readsTable = false (content-local branch work)
    VersionedTable.createBranch(spark, dir, "dev3")
    val ref3 = VersionedTable.branchRef(dir, "dev3")
    val v = VersionedTable.latestVersion(spark, dir)
    VersionedTable.commitDelta(spark, ref3, Some(df("b3", 2, 200)),
      Seq.empty, v, "wb3")
    VersionedTable.commitDelta(spark, dir, Some(df("m2", 2, 300)),
      Seq.empty, v, "wm")
    intercept[CommitConflict] {
      VersionedTable.fastForward(spark, dir, "dev3", "w")
    }
    val landed3 = VersionedTable.fastForward(spark, dir, "dev3", "w",
      readsTable = false)
    assert(landed3.nonEmpty)
    val got = rows(VersionedTable.read(spark, dir))
    assert(got.exists(_._2 == "b3") && got.exists(_._2 == "m2"))
  }

  test("mainline retention shields live branches; landing frees them") {
    val dir = tmp("br-ret")
    VersionedTable.commit(spark, dir, df("a", 4), -1L, "w")
    VersionedTable.createBranch(spark, dir, "keep")
    val ref = VersionedTable.branchRef(dir, "keep")
    VersionedTable.commitDelta(spark, ref, Some(df("extra", 2, 50)),
      Seq.empty, 0L, "wb")
    // mainline rewrites everything twice, then expires history so the
    // branch's fork version is GONE from the mainline log
    VersionedTable.commit(spark, dir, df("m1", 5), 0L, "w")
    VersionedTable.commit(spark, dir, df("m2", 6), 1L, "w")
    VersionedTable.commit(spark, dir, df("m3", 7), 2L, "w")
    val dropped = VersionedTable.expire(spark, dir, keep = 2)
    assert(dropped.contains(0L))
    VersionedTable.vacuum(spark, dir)
    // the branch still reads: its fork manifest is its own copy, and
    // retention treated its referenced files as pinned
    assert(rows(VersionedTable.read(spark, ref)) ==
      rows(df("a", 4)) ++ rows(df("extra", 2, 50)))
    // mainline-only surfaces refuse the ref loudly
    intercept[IllegalArgumentException] {
      VersionedTable.expire(spark, ref, keep = 2)
    }
    intercept[IllegalArgumentException] { VersionedTable.vacuum(spark, ref) }
    intercept[IllegalArgumentException] {
      VersionedTable.changeStream(spark, ref)
    }
    // forget refuses while ANY branch lives: a branch manifest may pin
    // files holding matching rows past the purge
    intercept[IllegalArgumentException] {
      VersionedTable.forget(spark, dir, "k = 1", "gdpr")
    }
    // after deleteBranch, vacuum reclaims the branch-only staging
    VersionedTable.deleteBranch(spark, dir, "keep")
    val swept = VersionedTable.vacuum(spark, dir)
    assert(swept.nonEmpty, "branch-only staged files become garbage")
    assert(rows(VersionedTable.read(spark, dir)) == rows(df("m3", 7)))
  }

  test("the full machinery works against a branch ref (merge, time travel)") {
    val dir = tmp("br-machinery")
    VersionedTable.commit(spark, dir, df("a", 10), -1L, "w",
      statsCols = Some(Seq("k")))
    VersionedTable.createBranch(spark, dir, "work")
    val ref = VersionedTable.branchRef(dir, "work")
    // keyed MERGE against the branch
    val changes = Seq((3L, "upd"), (100L, "new")).toDF("k", "v")
    VersionedTable.merge(spark, ref, changes, Seq("k"), 0L, "wb")
    assert(rows(VersionedTable.read(spark, ref)) ==
      rows(df("a", 10)) - ((3L, "a")) + ((3L, "upd")) + ((100L, "new")))
    // time travel on the branch chain
    assert(rows(VersionedTable.readVersion(spark, ref, 0L)) ==
      rows(df("a", 10)))
    // ensureFeed is a documented no-op on a branch ref
    assert(VersionedTable.ensureFeed(spark, ref, "wb").isEmpty)
  }

  test("an incremental view maintains over a BRANCH ref (dashboards on in-flight worlds)") {
    import graft.operators.AggView
    val dir = tmp("br-view")
    val root = dir.stripSuffix("/t")
    VersionedTable.commit(spark, dir,
      (1L to 200L).map(k => (k, (k % 5).toString, k.toDouble))
        .toDF("k", "g", "x"),
      -1L, "w", clusterBy = Seq("k"), clusterFiles = 4)
    VersionedTable.createBranch(spark, dir, "dev")
    val ref = VersionedTable.branchRef(dir, "dev")
    val view = s"$root/view"
    val measures = Seq("x" -> col("x"))
    AggView.init(spark, ref, view, "dash", Seq("g"), measures)
    // churn the BRANCH; mainline churns too (the view must not see it)
    VersionedTable.merge(spark, ref,
      Seq((7L, "0", 700.0), (300L, "9", 3.0)).toDF("k", "g", "x"),
      Seq("k"), 0L, "wb")
    VersionedTable.merge(spark, dir,
      Seq((8L, "0", 999.0)).toDF("k", "g", "x"), Seq("k"), 0L, "wm")
    val applied = AggView.sync(spark, ref, view, "dash", Seq("k"),
      Seq("g"), measures)
    assert(applied.contains((0L, 1L)), s"branch view sync: $applied")
    val v = AggView.read(spark, view)
    val d = AggView.finalize(AggView.state(
      VersionedTable.read(spark, ref), Seq("g"), measures))
    assert(v.exceptAll(d).isEmpty && d.exceptAll(v).isEmpty,
      "the view must equal the BRANCH world's direct aggregate")
    assert(v.where($"g" === "9").count() == 1L &&
      VersionedTable.read(spark, dir).where($"k" === 300L).count() == 0L,
      "branch-only rows in the view; mainline without them")
  }

  test("branch retention: expireBranch bounds the log, keeps the fork, ff still lands") {
    val dir = tmp("br-expire")
    VersionedTable.commit(spark, dir, df("a", 20), -1L, "w",
      clusterBy = Seq("k"), clusterFiles = 2)
    VersionedTable.createBranch(spark, dir, "long")
    val ref = VersionedTable.branchRef(dir, "long")
    // five branch commits stack five manifests past the fork
    (1 to 5).foreach { i =>
      VersionedTable.commitDelta(spark, ref, Some(df(s"b$i", 2, 100 + i * 10)),
        Seq.empty, i - 1L, "wb")
    }
    val before = VersionedTable.read(spark, ref).count()
    val victims = VersionedTable.expireBranch(spark, dir, "long", keep = 2)
    assert(victims == Seq(1L, 2L, 3L),
      s"drop all but fork + newest two: $victims")
    // the fork manifest survives (fastForward needs it), reads intact
    assert(VersionedTable.readManifest(spark, ref, 0L).version == 0L)
    assert(VersionedTable.read(spark, ref).count() == before)
    // expired-manifest staging is NOT sweepable while its files are
    // still referenced by retained manifests (delta commits share)
    VersionedTable.vacuum(spark, dir)
    assert(VersionedTable.read(spark, ref).count() == before,
      "vacuum must never eat retained branch references")
    val landed = VersionedTable.fastForward(spark, dir, "long", "w")
    assert(landed.contains(1L))
    assert(VersionedTable.read(spark, dir).count() == before)
  }

  test("a stream STAGES into a branch; validation gates the atomic landing") {
    import graft.streaming.CurationStreaming
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("br-stream").toString
    val dir = s"$root/t"; val staged = s"$root/staged"; val ckpt = s"$root/ck"
    VersionedTable.commit(spark, dir, df("a", 20), -1L, "w",
      clusterBy = Seq("k"), clusterFiles = 2)
    VersionedTable.createBranch(spark, dir, "ingest")
    val ref = VersionedTable.branchRef(dir, "ingest")
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType)))
    val ss = graft.streaming.EventsStreaming.replaySession(spark)
    // wave 1 arrives; the stream merges it into the BRANCH only
    df("w1", 3, 100).coalesce(1).write.mode("append").parquet(staged)
    CurationStreaming.tableMergeStream(ss, staged, ref, Seq("k"),
      ckpt, sch)
    assert(rows(VersionedTable.read(spark, ref))
      .exists(_._2 == "w1"))
    assert(!rows(VersionedTable.read(spark, dir)).exists(_._2 == "w1"),
      "staged ingest must be invisible on mainline")
    // the validation gate (a DQ check over the BRANCH world) passes →
    // land atomically; mainline sees the whole wave exactly once
    assert(VersionedTable.read(spark, ref).where($"k".isNull).count() == 0L)
    VersionedTable.fastForward(spark, dir, "ingest", "w")
    assert(rows(VersionedTable.read(spark, dir))
      .count(_._2 == "w1") == 3)
    // wave 2 through the SAME checkpoint: the stream keeps committing
    // to the branch (markers live on the branch chain, undisturbed by
    // the landing); a second landing publishes ONLY the increment
    df("w2", 2, 200).coalesce(1).write.mode("append").parquet(staged)
    CurationStreaming.tableMergeStream(ss, staged, ref, Seq("k"),
      ckpt, sch)
    val landed2 = VersionedTable.fastForward(spark, dir, "ingest", "w")
    assert(landed2.nonEmpty)
    val got = rows(VersionedTable.read(spark, dir))
    assert(got.count(_._2 == "w1") == 3 && got.count(_._2 == "w2") == 2,
      s"exactly-once across two stage-validate-land cycles: $got")
  }

  test("cherryPick lands ONE branch commit; order-dependent picks refuse like git") {
    val dir = tmp("br-pick")
    VersionedTable.commit(spark, dir, df("a", 40), -1L, "w",
      clusterBy = Seq("k"), clusterFiles = 4)
    VersionedTable.createBranch(spark, dir, "dev")
    val ref = VersionedTable.branchRef(dir, "dev")
    // three independent branch commits: a low-band mask (v1), a blind
    // append (v2), a high-band mask (v3)
    VersionedTable.deleteWhere(spark, ref, "k = 2", 0L, "wb")
    VersionedTable.commitDelta(spark, ref, Some(df("extra", 2, 100)),
      Seq.empty, 1L, "wb")
    VersionedTable.deleteWhere(spark, ref, "k = 35", 2L, "wb")
    // pick ONLY the append (v2): mainline gains the rows, neither mask
    val picked = VersionedTable.cherryPick(spark, dir, "dev", 2L, "w")
    assert(picked == 1L)
    val got = rows(VersionedTable.read(spark, dir))
    assert(got.count(_._2 == "extra") == 2 && got.contains((2L, "a")) &&
      got.contains((35L, "a")), s"only the append lands: $got")
    // the anchor did NOT move: a later fastForward lands the REST.
    // The net vs the anchor still includes the picked append — its
    // files are already live on main, so the landing keeps them by
    // path (idempotent by reference) and the masks land now. The pick
    // itself is the "mainline add" the conservative gate flags, so
    // the caller who picked passes readsTable = false knowingly.
    VersionedTable.fastForward(spark, dir, "dev", "w",
      readsTable = false)
    val all = rows(VersionedTable.read(spark, dir))
    assert(all.count(_._2 == "extra") == 2 &&
      !all.contains((2L, "a")) && !all.contains((35L, "a")),
      s"the full landing converges: $all")
    // order-dependence refuses: a branch commit that REWRITES a file an
    // earlier unlanded branch commit created cannot pick alone
    VersionedTable.createBranch(spark, dir, "dep")
    val ref2 = VersionedTable.branchRef(dir, "dep")
    val b0 = VersionedTable.latestVersion(spark, ref2)
    VersionedTable.commitDelta(spark, ref2, Some(df("w1", 3, 500)),
      Seq.empty, b0, "wb")
    // v(b0+2) rewrites the file v(b0+1) created (merge on its keys)
    VersionedTable.merge(spark, ref2,
      Seq((500L, "w1x")).toDF("k", "v"), Seq("k"), b0 + 1, "wb")
    intercept[IllegalArgumentException] {
      VersionedTable.cherryPick(spark, dir, "dep", b0 + 2, "w")
    }
    // picked in order, both land (pick 2 sees pick 1 as the mainline
    // "add" — the picker passes readsTable = false for their own pick)
    VersionedTable.cherryPick(spark, dir, "dep", b0 + 1, "w")
    VersionedTable.cherryPick(spark, dir, "dep", b0 + 2, "w",
      readsTable = false)
    assert(rows(VersionedTable.read(spark, dir)).contains((500L, "w1x")))
  }

  test("branch landing verdicts agree: fastForward vs rebaseBranch then fastForward") {
    // fastForward, cherryPick and rebaseBranch share ONE column-identity
    // rule, so landing directly and landing after a rebase reach the
    // same verdict on every divergence shape. Each shape: the branch
    // appends its own `score` column and the row [9, d, S]; mainline
    // diverges as named.
    val score = Seq(org.apache.spark.sql.types.StructField("score",
      org.apache.spark.sql.types.StringType, nullable = true))
    val shapes: Seq[(String, String => Unit, Boolean)] = Seq(
      ("mainline rename v -> score x same-name same-type branch append",
        d => VersionedTable.renameColumns(spark, d, Map("v" -> "score"),
          0L, "w"), false),
      ("both sides append the same name and type", { d =>
        VersionedTable.addColumns(spark, d, score, 0L, "w")
        VersionedTable.commitDelta(spark, d,
          Some(spark.range(1).coalesce(1).select(lit(50L).as("k"),
            lit("m").as("v"), lit("M").as("score"))), Seq.empty, 1L, "w")
      }, true),
      ("branch-only fresh append", d => VersionedTable.commitDelta(spark, d,
        Some(df("m", 1, 50).coalesce(1)), Seq.empty, 0L, "w"), true))
    def setup(tag: String, mainline: String => Unit): String = {
      val dir = tmp(tag)
      VersionedTable.commit(spark, dir, df("a", 4), -1L, "w")
      VersionedTable.createBranch(spark, dir, "dev")
      val ref = VersionedTable.branchRef(dir, "dev")
      VersionedTable.addColumns(spark, ref, score, 0L, "wb")
      VersionedTable.commitDelta(spark, ref,
        Some(spark.range(1).coalesce(1).select(lit(9L).as("k"),
          lit("d").as("v"), lit("S").as("score"))), Seq.empty, 1L, "wb")
      mainline(dir)
      dir
    }
    // the landed branch row's non-key values, or None when refused
    def verdict(dir: String, rebaseFirst: Boolean): Option[Seq[String]] =
      try {
        if (rebaseFirst) VersionedTable.rebaseBranch(spark, dir, "dev", "w")
        VersionedTable.fastForward(spark, dir, "dev", "w",
          readsTable = false)
        Some(VersionedTable.read(spark, dir).where($"k" === 9L).head()
          .toSeq.drop(1).map(String.valueOf))
      } catch { case _: CommitConflict => None }
    for ((shape, mainline, lands) <- shapes) {
      val direct = verdict(setup("br-dir", mainline), rebaseFirst = false)
      val rebased = verdict(setup("br-reb", mainline), rebaseFirst = true)
      assert(direct == rebased,
        s"$shape: fastForward $direct vs rebase + fastForward $rebased")
      assert(direct == (if (lands) Some(Seq("d", "S")) else None),
        s"$shape: the landing must read back the branch's own values")
    }
    // the refused rebase names the first conflicting branch commit and
    // leaves the branch chain untouched
    val dir = setup("br-ren", shapes.head._2)
    val ref = VersionedTable.branchRef(dir, "dev")
    val before = VersionedTable.versions(spark, ref)
    val e = intercept[CommitConflict] {
      VersionedTable.rebaseBranch(spark, dir, "dev", "w")
    }
    assert(e.getMessage.contains("branch version 1"), e.getMessage)
    assert(VersionedTable.versions(spark, ref) == before &&
      VersionedTable.branchBase(spark, dir, "dev") == 0L,
      "all-or-nothing: the branch chain must be untouched")
  }
}
