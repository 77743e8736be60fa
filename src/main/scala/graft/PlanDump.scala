package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Fixtures.workDir

/** Dev tool: dump formatted physical plans of the headline queries to a
  * markdown artifact (docs/PLANS.md) — reviewable evidence that filters
  * reach scans, dimensions broadcast, aggregates combine map-side, and
  * native kernels sit in the hot paths. */
object PlanDump {
  /** The formatted physical plan of `df`. Binary literals (e.g. a
    * serialized bloom sketch) print raw bytes into a plan, so control
    * chars are scrubbed and the artifact stays a text file. */
  private def explain(df: DataFrame): String =
    df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      .replaceAll("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "�")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("docs/PLANS.md")
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` over `$sfDir`. What to look for:\n")
    sb.append("`PushedFilters`/`ReadSchema` at scans (pushdown + pruning),\n")
    sb.append("`BroadcastHashJoin` on dimension joins, paired `HashAggregate`s\n")
    sb.append("around each `Exchange` (map-side combine), `TakeOrderedAndProject`\n")
    sb.append("for order+limit, and `cosine_sim`/`minhash_sig`/`shingle_hash64`\n")
    sb.append("native kernels in the similarity/dedup paths.\n")
    val extras = Seq("q41_langid", "q63_stratified_sample", "q64_pii_redact",
      "q65_repetition", "q66_shard_assign", "q69_cosine_pairs_exact",
      "q70_chunking", "q71_frame_sample", "q72_event_sequences",
      "q100_tfidf", "q101_epoch_shuffle", "q104_seq_pack",
      "q118_log_parse", "q124_url_curate", "q126_kv_store",
      "q133_biginteger_agg", "q134_gopher_rep", "q135_semdedup",
      "q137_crossdoc_repeats", "q139_hash_classifier", "q140_bpe_pairs",
      "q141_inverted_index")
      // round 10's queries are all in Bench.headline (absorbed below)
      // except q173, whose query RUNS its streams at construction —
      // a dumped plan would show only the read-back manifest aggregate
      .filterNot(Bench.headline.contains) // headline moves absorb extras
    // Dump the story Bench times (SparkEntry.timed): where the
    // correctness entry adds a check (a recall harness, a law probe),
    // that is the run half without the check — the shape a plan review
    // must judge.
    def planOf(name: String): String = explain(SparkEntry.timed(name)(spark, sfDir))
    (Bench.headline ++ extras).foreach { name =>
      sb.append(s"\n## $name\n\n```\n${planOf(name)}```\n")
    }
    // Pig-front-end evidence: the .pig TEXT next to the plan it compiles
    // to — the combiner rewrite visible end-to-end (script GROUP +
    // FOREACH(agg) → paired HashAggregates, no collect_list; nested
    // FILTER/FOREACH → conditional aggregates over projections).
    sb.append("\n# Pig-script-sourced plans\n\n")
    sb.append("The same pipeline a reference user writes as a `.pig` script,\n")
    sb.append("compiled by `graft.pig.PigCompiler`: the script text is shown\n")
    sb.append("above its physical plan. Note there is NO collect_list and no\n")
    sb.append("bag column anywhere — the algebraic FOREACH compiles straight\n")
    sb.append("to the same map-side-combine aggregate as the Scala surface.\n")
    Seq("q79_pig_join_group" -> "/pig/q79_join_group.pig",
        "q98_pig_inline_foreach" -> "/pig/q98_inline_foreach.pig",
        "q99_pig_nested_foreach" -> "/pig/q99_nested_foreach.pig")
      .foreach { case (name, res) =>
        val script = graft.pig.PigScript.resource(res).trim
        sb.append(s"\n## $name\n\n```pig\n$script\n```\n\n```\n${planOf(name)}```\n")
      }
    // Round 13: the deletion-vector masked-read shape — every reader
    // of a masked file set pays exactly this: the pinned-schema scan,
    // a BROADCAST LeftAnti hash join on (file rel, row_index), and
    // nothing else (no shuffle, no extra pass). The dv side is sized
    // from the manifest's deleted-count receipts before any I/O.
    sb.append("\n# Deletion-vector masked read (round 13)\n\n")
    sb.append("A clustered table with a scattered mask; the plan to audit:\n")
    sb.append("the data scan keeps its ReadSchema/pushdown, the mask joins\n")
    sb.append("as BroadcastHashJoin LeftAnti — reads stay one-pass.\n")
    locally {
      val dvDir = workDir("plans_dv_") + "/t"
      val base = spark.range(100000).selectExpr("id as k",
        "cast(id % 100 as double) as x")
      graft.operators.VersionedTable.commit(spark, dvDir, base, -1L, "w",
        clusterBy = Seq("k"), clusterFiles = 8)
      graft.operators.VersionedTable.deleteWhere(spark, dvDir,
        "k % 1000 = 7", 0L, "w")
      val plan = explain(graft.operators.VersionedTable.read(spark, dvDir))
      sb.append(s"\n## VersionedTable.read over a masked table\n\n```\n$plan```\n")
    }
    // Round 13 (late): the z-order clustered read — a box probe on
    // BOTH dimensions resolves its file list from the manifest (the
    // scan lists only the kept rectangles) and the residual predicate
    // pushes into parquet. And the nested-comparator HOF plan: the
    // per-group top-k runs as array_sort/slice INSIDE the row — one
    // aggregate pair, no per-group shuffle or sort operator.
    sb.append("\n# Z-order clustered read (round 13)\n\n")
    locally {
      val zDir = workDir("plans_z_") + "/t"
      val grid = spark.range(65536).selectExpr("id % 256 as a",
        "cast(id / 256 as long) as b", "id as v")
      graft.operators.VersionedTable.commit(spark, zDir, grid, -1L, "w",
        clusterBy = Seq("a", "b"), clusterFiles = 16,
        clusterMode = "zorder", statsCols = Some(Seq("a", "b")))
      val (kept, total) = graft.operators.VersionedTable.prunedFiles(
        spark, zDir, 0L,
        Seq(graft.operators.VersionedTable.ColBound("a", Some(0L), Some(63L)),
          graft.operators.VersionedTable.ColBound("b", Some(0L), Some(63L))))
      sb.append(s"Box probe (a,b in [0,63]) reads ${kept.length}/$total " +
        "files — the kept rectangles only; the scan below lists exactly " +
        "those and pushes the residual filter:\n")
      val plan = explain(graft.operators.VersionedTable.readFiltered(spark, zDir,
          "a <= 63 AND b <= 63"))
      sb.append(s"\n## readFiltered over the z-clustered table\n\n```\n$plan```\n")
    }
    sb.append("\n# Nested ORDER ... USING comparator (round 13)\n\n")
    sb.append("PigMix L16 variant through the front-end: the reverse\n")
    sb.append("comparator compiles to flipped HOF sort keys — the per-group\n")
    sb.append("top-k is array_sort + slice inside the aggregated row, never\n")
    sb.append("a per-group shuffle:\n")
    locally {
      val script = graft.pig.PigScript.resource("/pigmix/l16cmp.pig").trim
      sb.append(s"\n```pig\n$script\n```\n\n```\n${planOf("q239_pigmix_l16cmp")}```\n")
    }
    // Round 14: the column-mapping read — after a metadata-only RENAME
    // the scan's ReadSchema still lists the PHYSICAL (original) parquet
    // column names and one Project aliases them to the logical names:
    // zero extra passes, zero data movement, and old + new files read
    // under the same pinned schema.
    sb.append("\n# Column-mapping read after RENAME (round 14)\n\n")
    sb.append("The scan reads the files' own (physical) column names; the\n")
    sb.append("single Project above it restores the logical names. Skipping\n")
    sb.append("survives (stats re-keyed): the pruned probe below reads a\n")
    sb.append("strict file subset through the renamed column.\n")
    locally {
      val rnDir = workDir("plans_rn_") + "/t"
      val base = spark.range(100000).selectExpr("id as k",
        "cast(id % 97 as double) as score")
      graft.operators.VersionedTable.commit(spark, rnDir, base, -1L, "w",
        clusterBy = Seq("k"), clusterFiles = 8)
      graft.operators.VersionedTable.renameColumns(spark, rnDir,
        Map("k" -> "doc_id", "score" -> "quality"), 0L, "mig")
      val (kept, total) = graft.operators.VersionedTable.prunedFiles(
        spark, rnDir, 1L,
        Seq(graft.operators.VersionedTable.ColBound("doc_id",
          Some(0L), Some(9999L))))
      sb.append(s"\nRange probe on the RENAMED key reads ${kept.length}/" +
        s"$total files.\n")
      val plan = explain(graft.operators.VersionedTable.read(spark, rnDir))
      sb.append(s"\n## VersionedTable.read after a 2-column rename\n\n```\n$plan```\n")
    }
    // A table (k, w) of 100k rows clustered on k into 8 files, with a
    // branch "dev": where the round 16-18 landings below start.
    def branched(prefix: String): (String, String) = {
      import graft.operators.VersionedTable
      val dir = workDir(prefix) + "/t"
      VersionedTable.commit(spark, dir, spark.range(100000).selectExpr("id as k",
        "cast(id % 97 as double) as w"), -1L, "w", clusterBy = Seq("k"), clusterFiles = 8)
      VersionedTable.createBranch(spark, dir, "dev")
      (dir, VersionedTable.branchRef(dir, "dev"))
    }
    // Round 15: the mainline read AFTER a branch fastForward — the
    // landing is manifest-only, so the plan must be ONE scan whose
    // file list mixes kept mainline paths with branch-staged paths
    // (no union node, no extra pass, no copy: the files landed by
    // reference).
    sb.append("\n# Mainline read after a branch fastForward (round 15)\n\n")
    sb.append("The branch's work landed by REFERENCE: one scan lists both\n")
    sb.append("the kept mainline files and the branch-staged files (note\n")
    sb.append("the two staging dirs in the Location), with the branch's\n")
    sb.append("deletion mask applied through the usual anti-join — no\n")
    sb.append("union operator, no rewrite, no second pass.\n")
    locally {
      import graft.operators.VersionedTable
      val brDir = workDir("plans_br_") + "/t"
      val base = spark.range(100000).selectExpr("id as k",
        "cast(id % 97 as double) as score")
      VersionedTable.commit(spark, brDir, base, -1L, "w",
        clusterBy = Seq("k"), clusterFiles = 8)
      VersionedTable.createBranch(spark, brDir, "dev")
      val ref = VersionedTable.branchRef(brDir, "dev")
      VersionedTable.deleteWhere(spark, ref, "k = 7", 0L, "wb")
      VersionedTable.commitDelta(spark, ref,
        Some(spark.range(100).selectExpr("id + 1000000 as k",
          "cast(-1.0 as double) as score")), Seq.empty, 1L, "wb")
      VersionedTable.fastForward(spark, brDir, "dev", "w")
      val plan = explain(VersionedTable.read(spark, brDir))
      sb.append(s"\n## VersionedTable.read after the landing\n\n```\n$plan```\n")
    }
    // Round 16: the mainline read after a RECONCILED landing — the
    // branch appended a nullable column and re-declared the feed while
    // mainline absorbed an unrelated delete; the landing is still
    // manifest-only, and the read is still ONE scan under the pinned
    // union schema (pre-extension files null-fill the new column in
    // the scan itself — parquet missing-column semantics — never via a
    // union or a per-file branch).
    sb.append("\n# Mainline read after a RECONCILED fastForward (round 16)\n\n")
    sb.append("Branch: ADD COLUMNS score + rows carrying it + a feed\n")
    sb.append("re-declaration; mainline: a concurrent DV delete. The landing\n")
    sb.append("takes the union schema; the plan is one scan (kept mainline\n")
    sb.append("files + branch-staged files in one Location) with the\n")
    sb.append("mainline mask's anti-join — the appended column shows in\n")
    sb.append("ReadSchema, old files null-fill it inside the scan.\n")
    locally {
      import graft.operators.VersionedTable
      val (brDir, ref) = branched("plans_brx_")
      VersionedTable.addColumns(spark, ref, Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType, nullable = true)), 0L, "wb")
      VersionedTable.commitDelta(spark, ref,
        Some(spark.range(100).selectExpr("id + 1000000 as k",
          "cast(-1.0 as double) as w", "cast(0.5 as double) as score")),
        Seq.empty, 1L, "wb",
        meta = Map(VersionedTable.FeedKey -> "k"))
      VersionedTable.deleteWhere(spark, brDir, "k = 7", 0L, "w")
      VersionedTable.fastForward(spark, brDir, "dev", "w")
      val plan = explain(VersionedTable.read(spark, brDir))
      sb.append(s"\n## VersionedTable.read after the reconciled landing\n\n```\n$plan```\n")
    }
    // Round 17: the mainline read after a TWO-SIDED DISJOINT landing —
    // branch appended `score` while mainline independently appended
    // `region`; the landing is the union (mainline's fields first,
    // branch tail last, both nullable) and the read must STILL be one
    // scan: both tails in ReadSchema, each side's files null-filling
    // the OTHER side's column inside the scan (parquet missing-column
    // semantics) — no union node, no per-file branch, no rewrite.
    sb.append("\n# Mainline read after a TWO-SIDED disjoint landing (round 17)\n\n")
    sb.append("Branch: ADD COLUMNS score + rows; mainline, independently:\n")
    sb.append("ADD COLUMNS region + rows. The landed schema is the union\n")
    sb.append("(order rule: mainline's fields, then the branch tail). One\n")
    sb.append("scan lists kept mainline files + both sides' staged files;\n")
    sb.append("ReadSchema carries BOTH appended columns.\n")
    locally {
      import graft.operators.VersionedTable
      val (brDir, ref) = branched("plans_br2_")
      VersionedTable.addColumns(spark, ref, Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType, nullable = true)), 0L, "wb")
      VersionedTable.commitDelta(spark, ref,
        Some(spark.range(100).selectExpr("id + 1000000 as k",
          "cast(-1.0 as double) as w", "cast(0.5 as double) as score")),
        Seq.empty, 1L, "wb")
      VersionedTable.addColumns(spark, brDir, Seq(
        org.apache.spark.sql.types.StructField("region",
          org.apache.spark.sql.types.StringType, nullable = true)), 0L, "w")
      VersionedTable.commitDelta(spark, brDir,
        Some(spark.range(50).selectExpr("id + 2000000 as k",
          "cast(-2.0 as double) as w", "'eu' as region")),
        Seq.empty, 1L, "w")
      VersionedTable.fastForward(spark, brDir, "dev", "w",
        readsTable = false)
      val plan = explain(VersionedTable.read(spark, brDir))
      sb.append(s"\n## VersionedTable.read after the two-sided landing\n\n```\n$plan```\n")
    }
    // Round 18: the read after a ONE-SIDED RENAME reconciliation —
    // mainline renamed `w` -> `weight` (metadata-only, sticky physical
    // name) while the branch appended a column + rows under the OLD
    // name. The landing takes the renaming side's names; the read must
    // still be ONE scan whose parquet schema is the PHYSICAL one (the
    // bytes' names), aliased to the landed logical names above it —
    // both sides' files resolve `weight` to the same physical column,
    // no per-file branch, no rewrite.
    sb.append("\n# Read after a ONE-SIDED RENAME reconciliation (round 18)\n\n")
    sb.append("Mainline: RENAME w -> weight; branch: ADD COLUMNS score +\n")
    sb.append("rows written under the OLD names. The landing matches by\n")
    sb.append("physical identity and carries colmap weight->w; the scan\n")
    sb.append("reads the physical schema once and aliases to logical.\n")
    locally {
      import graft.operators.VersionedTable
      val (brDir, ref) = branched("plans_ren_")
      VersionedTable.addColumns(spark, ref, Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType, nullable = true)), 0L, "wb")
      VersionedTable.commitDelta(spark, ref,
        Some(spark.range(100).selectExpr("id + 1000000 as k",
          "cast(-1.0 as double) as w", "cast(0.5 as double) as score")),
        Seq.empty, 1L, "wb")
      VersionedTable.renameColumns(spark, brDir, Map("w" -> "weight"),
        0L, "w")
      VersionedTable.fastForward(spark, brDir, "dev", "w",
        readsTable = false)
      val plan = explain(VersionedTable.read(spark, brDir)
        .filter("weight > 90.0").selectExpr("k", "weight", "score"))
      sb.append(s"\n## filtered read after the rename-reconciled landing\n\n```\n$plan```\n")
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[plandump] wrote $out")
    spark.stop()
  }
}
