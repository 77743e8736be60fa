package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

/** Plan-hygiene checks (the "is this the plan you'd want at 100 TB"
  * gate): filters reach the parquet scan, small dimensions broadcast,
  * aggregates run partial→final, hot kernels are codegen'd. */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q01: shipdate predicate is pushed to the parquet scan") {
    val p = planOf("q01_scan_filter_project")
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("l_shipdate"), "pushed filter should mention l_shipdate")
    // pruned read schema: only the 4 needed columns reach the scan
    assert(!p.contains("l_comment"))
  }

  test("q06: dimension joins are broadcast, not shuffled") {
    val p = planOf("q06_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q03: aggregate runs partial then final (map-side combine)") {
    val p = planOf("q03_group_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    // partial agg below the Exchange, final above it
    assert(p.indexOf("HashAggregate") < p.indexOf("Exchange"), p.take(2000))
  }

  test("q39: scoring uses the native codegen'd cosine kernel") {
    val p = planOf("q39_cosine_topk")
    assert(p.contains("cosine_sim"), p.take(2000))
  }

  test("q35: dedup pipeline uses the fused native kernels") {
    val p = planOf("q35_dedup_minhash")
    assert(p.contains("shingle_hash64"), p.take(2000))
    assert(p.contains("minhash_sig"), p.take(2000))
  }

  test("q14: order+limit plans as TakeOrderedAndProject, not a full sort") {
    val p = planOf("q14_order_limit")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q118: log parse is pure projection — no UDF, no shuffle before scan output") {
    val p = planOf("q118_log_parse")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p.take(2000))
  }

  test("q124: url curation is one aggregation over a scan (single shuffle)") {
    val p = planOf("q124_url_curate")
    assert(!p.contains("ScalaUDF"), p.take(2000))
    val tree = SparkEntry.queries("q124_url_curate")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(tree).length
    assert(exchanges <= 1, s"expected a single shuffle:\n$tree")
  }

  test("q125: definite-new path carries no join; bloom probe is native") {
    val p = planOf("q125_incremental_dedup")
    assert(p.contains("might_contain"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("rankBy: data-sized key cardinality joins as SMJ, never fact-side broadcast") {
    // The worst case for rankBy's final join (fact ⋈ rankedKeys) is
    // key-cardinality ≈ row-count: at 100× BOTH sides are data-sized,
    // so the plan AQE must settle on is a sort-merge join. Locally AQE
    // broadcasts the small fact side (fine at sf0.01, size-correct) —
    // this pin scales the broadcast threshold down the way 100× scales
    // the data up and asserts the join flips to SMJ, not a broadcast
    // of either side.
    import graft.operators.Relational
    val conf = spark.conf
    val prevAuto = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAdaptive = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAuto)
    conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "1KB")
    try {
      val df = spark.range(20000)
        .select(col("id").as("k"), (col("id") * 7 % 13).as("v"))
      val ranked = Relational.rankBy(df, Seq("k"))
      assert(ranked.count() == 20000)
      val p = ranked.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(3000))
      assert(!p.contains("BroadcastHashJoin"), p.take(3000))
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAdaptive)
    }
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q134: repetition stats are one kernel projection — no shuffle at all") {
    val tree = SparkEntry.queries("q134_gopher_rep")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!tree.contains("Exchange"), s"per-row metrics must not shuffle:\n$tree")
    assert(tree.contains("rep_stats"), "native kernel in the plan")
    assert(!tree.contains("ScalaUDF"))
  }

  test("q135: semDedup assignment is projection-only; one cluster-key pair join") {
    val tree = SparkEntry.queries("q135_semdedup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!tree.contains("Window"), s"assignment must not window:\n$tree")
    // centroids are plan literals: no join against a centroid relation
    assert(!tree.contains("BroadcastNestedLoopJoin"), tree.take(3000))
    assert(!tree.contains("CartesianProduct"), tree.take(3000))
  }

  test("q143 shape: past the literal budget, centroid assignment is a broadcast join + hash argmin") {
    // semDedup localCheckpoints the assignment (it feeds 3 consumers),
    // so q143's own executed plan shows only the truncated lineage —
    // assert the ASSIGNMENT subplan, which is what the budget routes
    val e = tables.embeddings
      .select(col("vec_id"), slice(col("embedding"), 1, 16).as("ev"))
    val tree = graft.operators.Similarity
      .semDedupAssign(e, "vec_id", "ev", k = 4096)
      .queryExecution.executedPlan.toString
    // k=4096 × dim 16 >> budget: the centroid table must arrive via a
    // broadcast join, never as a kilometer-long literal Project
    assert(tree.contains("BroadcastNestedLoopJoin"), tree.take(3000))
    // ... and the argmin must be primitive HashAggregates; min(struct)
    // would plan as SortAggregate over the corpus×k candidate stream
    assert(tree.contains("HashAggregate"), tree.take(3000))
    assert(!tree.contains("SortAggregate"), s"corpus×k sort:\n${tree.take(3000)}")
    assert(!tree.contains("Window"), tree.take(3000))
  }

  test("semDedupAssign: literal path below the budget has no join at all") {
    val e = tables.embeddings
    val tree = graft.operators.Similarity
      .semDedupAssign(e, "vec_id", "embedding", k = 8)
      .queryExecution.executedPlan.toString
    assert(!tree.contains("Join"), s"assignment must be a pure projection:\n${tree.take(2000)}")
    assert(!tree.contains("Exchange"), s"assignment must not shuffle:\n${tree.take(2000)}")
  }

  test("q133: bignum chain evaluates once per operator — no CASE scaffolding") {
    val plan = SparkEntry.queries("q133_biginteger_agg")(spark, sf)
      .queryExecution.optimizedPlan.toString
    def n(k: String) = plan.sliding(k.length).count(_ == k)
    // SimplifyBigNumCarriers contract: the cast+multiply chain appears
    // once in the filter (under a sort-key compare against a FOLDED
    // literal key) and once in the project (inside bignum_wrap) — the
    // CASE-WHEN carrier scaffolding that re-evaluated the chain per
    // field access must be gone entirely
    assert(!plan.contains("CASE WHEN"), plan.take(2000))
    assert(n("bignum_wrap") == 1, plan.take(2000))
    assert(n("bignum_trunc") == 4, s"chain must appear exactly twice (2 truncs each):\n${plan.take(2000)}")
    assert(n("bignum_sort_key") == 1, plan.take(2000))
  }

  test("q140: BPE top-k is TakeOrdered, never a global sort") {
    val tree = SparkEntry.queries("q140_bpe_pairs")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(tree.contains("TakeOrderedAndProject"), tree.take(2000))
    assert(!tree.contains("rangepartitioning"), "no global range sort")
  }

  test("q141: inverted-index postings are bounded state, not collect_list") {
    val tree = SparkEntry.queries("q141_inverted_index")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!tree.toLowerCase.contains("collect_list"), tree.take(2000))
  }

  test("q148: span removal joins docs LEFT against bounded cut lists; no UDF") {
    val p = planOf("q148_span_removal")
    // the rebuild is expression-level (HOF filter), never a UDF
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p.take(2000))
    // the window-hash kernel runs in q148's FINAL plan: span removal
    // keeps the window stream visible to the optimizer (no checkpoint)
    assert(p.contains("window_hash64"), p.take(2000))
    // and on the window-stream path itself (verbatimHotWindows shares
    // windowStream)
    val wp = graft.operators.Dedup
      .verbatimHotWindows(tables.documents, "doc_id", "text", minLen = 8)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(wp.contains("window_hash64"), wp.take(2000))
  }

  test("q149: heavy-hitter verify join is a broadcast of the bounded candidate set") {
    val tree = SparkEntry.queries("q149_heavy_hitters")(spark, sf)
      .queryExecution.executedPlan.toString
    // candidates (<= partitions x capacity rows) broadcast into the
    // verify join — the token stream is never shuffled by token before
    // the candidate filter
    assert(tree.contains("BroadcastHashJoin"), tree.take(2000))
    // final exact count is a partial->final hash aggregate over the
    // candidate-filtered stream
    assert("HashAggregate".r.findAllIn(tree).size >= 2, tree.take(2000))
  }

  test("q150: token budget running sum is SHARDED — no per-group serial window") {
    val tree = SparkEntry.queries("q150_token_budget")(spark, sf)
      .queryExecution.executedPlan.toString
    // every window in the plan partitions by (group-key, __shard):
    // parallelism = groups x shards, not group count (the r8 weak
    // plan was Window.partitionBy(group) over the full stream)
    val winLines = tree.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, tree.take(2000))
    assert(winLines.forall(_.contains("__shard")),
      s"found a window not partitioned by __shard:\n${winLines.mkString("\n")}")
    // the shard-offset table ships broadcast, never shuffles the corpus
    assert(tree.contains("BroadcastHashJoin"), tree.take(2000))
    assert(!tree.contains("ScalaUDF"), tree.take(2000))
  }

  test("q153: collected group over bucketed input has zero Exchange") {
    val tree = SparkEntry.queries("q153_group_collected")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(tree.contains("HashAggregate") || tree.contains("SortAggregate"),
      tree.take(2000))
    assert(!tree.contains("Exchange hashpartitioning"),
      s"collected group shuffles — the bucketed-scan contract failed:\n$tree")
  }

  test("q154: IVF-PQ scores through codegen kernels; refine is a broadcast, not a shuffle") {
    val tree = SparkEntry.queries("q154_ann_ivfpq")(spark, sf)
      .queryExecution.executedPlan.toString
    // encode/routing/ADC are all native kernels, never UDFs/HOFs; the serve
    // path scores from the query vector (pq_adc_query) — no carried LUT column
    for (k <- Seq("pq_encode", "pq_adc_query", "top_cos_arg_max_to_set"))
      assert(tree.contains(k), s"missing kernel $k:\n${tree.take(2000)}")
    assert(!tree.contains("pq_lut"),
      s"serve plan still carries a per-row LUT column:\n${tree.take(2000)}")
    assert(!tree.contains("ScalaUDF"), tree.take(2000))
    // the exact re-rank joins the bounded shortlist BROADCAST into the
    // corpus scan — no second corpus-sized exchange for refinement
    assert(tree.contains("BroadcastHashJoin"), tree.take(2000))
  }

  test("q156: DSIR weight table broadcasts into the scoring scan") {
    val tree = SparkEntry.queries("q156_importance_weights")(spark, sf)
      .queryExecution.executedPlan.toString
    // the <= 16^3-row weight table is the broadcast side; doc grams
    // never shuffle by bucket to meet it
    assert(tree.contains("BroadcastHashJoin"), tree.take(2000))
    assert(!tree.contains("ScalaUDF") && !tree.contains("BatchEvalPython"),
      tree.take(2000))
  }

  test("q165: passage keeper election is a partial-aggregated MIN, not a ranking window") {
    val p = planOf("q165_chunk_dedup")
    // combiner shape: a boilerplate passage collapses map-side
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("RunningWindowFunction") && !p.contains("row_number"),
      "keeper election must not move every occurrence to a reducer before ranking")
  }

  test("q169: the Morton key is pure codegen'd built-ins — no UDF anywhere") {
    val p = planOf("q169_zorder_key")
    // formatted mode marks whole-stage-codegen nodes with a '*' prefix
    assert(p.contains("* Project"), p.take(2000))
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p.take(2000))
    // scan pruning: only the three needed columns are read
    assert(!p.contains("l_comment") && !p.contains("l_shipdate"))
  }

  test("q170/q171: mix mechanics are shuffle-free per-row passes") {
    for (q <- Seq("q170_upsample_repeat", "q171_leakage_safe_split")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle:\n${p.take(2000)}")
      assert(!p.contains("ScalaUDF"), p.take(2000))
    }
  }

  test("q174: projection rides the affine_project codegen kernel") {
    import graft.operators.Linalg
    val emb = tables.embeddings
    val (white, _) = Linalg.pcaWhiten(emb, "vec_id", "embedding", 64, 8)
    val p = white.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("affine_project"), p.take(2000))
    assert(!p.contains("ScalaUDF"), p.take(2000))
  }

  test("q175: merge is ONE join; the ambiguity probe aggregates partially") {
    // executedPlan.toString: one line per node (formatted mode lists
    // each node twice — tree + detail — and would double-count)
    val tree = SparkEntry.queries("q175_merge_upsert")(spark, sf)
      .queryExecution.executedPlan.toString
    val joins = "SortMergeJoin".r.findAllIn(tree).size +
      "BroadcastHashJoin".r.findAllIn(tree).size +
      "ShuffledHashJoin".r.findAllIn(tree).size
    assert(joins == 1, s"expected exactly one reconciliation join, saw $joins:\n${tree.take(2000)}")
  }

  test("q176: SCD2 closes/opens with ONE join; closed history is never joined") {
    val tree = SparkEntry.queries("q176_scd2_history")(spark, sf)
      .queryExecution.executedPlan.toString
    val joins = "SortMergeJoin".r.findAllIn(tree).size +
      "BroadcastHashJoin".r.findAllIn(tree).size +
      "ShuffledHashJoin".r.findAllIn(tree).size
    assert(joins == 1,
      s"expected one current-vs-changes join, saw $joins:\n${tree.take(2000)}")
    assert(!tree.contains("ScalaUDF"), tree.take(2000))
  }

  test("q177: DQ suite has no windows, no cartesians, no UDFs") {
    val tree = SparkEntry.queries("q177_dq_report")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!tree.contains("windowspecdefinition"),
      s"a DQ report must never sort-window the corpus:\n${tree.take(2000)}")
    assert(!tree.contains("CartesianProduct"), tree.take(2000))
    assert(!tree.contains("ScalaUDF"), tree.take(2000))
    // row-local single-scan shape is pinned separately in DataQualitySpec
  }

  test("q178: PPS running sum is SHARDED; shard offsets broadcast") {
    val tree = SparkEntry.queries("q178_pps_sample")(spark, sf)
      .queryExecution.executedPlan.toString
    val winLines = tree.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, tree.take(2000))
    assert(winLines.forall(_.contains("__shard")),
      s"found a window not partitioned by __shard:\n${winLines.mkString("\n")}")
    assert(tree.contains("BroadcastHashJoin"), tree.take(2000))
    assert(!tree.contains("ScalaUDF"), tree.take(2000))
  }

  test("q181: snapshot diff is ONE full-outer join, change-sized output") {
    val tree = SparkEntry.queries("q181_snapshot_diff")(spark, sf)
      .queryExecution.executedPlan.toString
    val joins = "SortMergeJoin".r.findAllIn(tree).size +
      "BroadcastHashJoin".r.findAllIn(tree).size +
      "ShuffledHashJoin".r.findAllIn(tree).size
    assert(joins == 1,
      s"expected one reconciliation join, saw $joins:\n${tree.take(2000)}")
    assert(!tree.contains("ScalaUDF"), tree.take(2000))
  }

  test("snapshotDiff: uniqueness guards ride the join's shuffles — 2 exchanges, 0 extra jobs") {
    // r12 (VERDICT #3): the guard used to run two eager count-probe
    // jobs before the join; now each side's groupBy(key) + assert_true
    // IS the join's required partitioning, so the whole diff is two
    // shuffle exchanges (one per side) and zero pre-jobs
    import graft.operators.Incremental
    val cust = tables.customer.select(col("c_custkey").as("k"),
      col("c_name").as("name"), col("c_acctbal").as("bal"))
    val target = cust.filter(col("k") % 2 === 0)
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val diff = Incremental.snapshotDiff(cust, target, Seq("k"))
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, s"building the diff launched ${after - before} probe job(s)")
    val tree = diff.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(tree).size
    assert(shuffles == 2,
      s"expected exactly the join's two shuffles, saw $shuffles:\n${tree.take(3000)}")
    // assert_true folds to `if (cond) true else isnull(raise_error(...))`
    assert(tree.contains("raise_error"), s"guard missing from plan:\n${tree.take(3000)}")
    // and the guarded diff still computes: every odd key is a delete
    assert(diff.filter(col("op") =!= "delete").isEmpty)
  }

  test("q182/q183: profiling reports are aggregate-only — no join of the corpus") {
    // q182: one tokenize+term-shuffle; totals are literals, so NO join
    val p182 = SparkEntry.queries("q182_distinctive_terms")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p182.contains("Join"), s"q182 must not join:\n${p182.take(2000)}")
    assert(!p182.contains("windowspecdefinition"), p182.take(2000))
    // q183: bounded top-N (TakeOrderedAndProject), 1-row broadcast total,
    // never a global sort of the key counts
    val p183 = SparkEntry.queries("q183_skew_profile")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p183.contains("TakeOrderedAndProject"), p183.take(2000))
    assert(p183.contains("BroadcastNestedLoopJoin") ||
      p183.contains("BroadcastExchange"), p183.take(2000))
    Seq(p182, p183).foreach(p => assert(!p.contains("ScalaUDF"), p.take(2000)))
  }

  test("q190: PIT join is ONE equi-join with an interval residual — no cartesian") {
    val tree = SparkEntry.queries("q190_pit_join")(spark, sf)
      .queryExecution.executedPlan.toString
    // the fact-vs-history lookup itself must be a keyed join; the
    // upstream scd2Apply contributes its own (plan-asserted in q176)
    assert(!tree.contains("CartesianProduct") &&
      !tree.contains("BroadcastNestedLoopJoin"),
      s"interval predicate must ride a keyed join as a residual:\n${tree.take(2000)}")
    assert(!tree.contains("ScalaUDF"), tree.take(2000))
  }

  test("every oracle key has a query; names are well-formed") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"orphan oracles: ${os.diff(qs)}")
    assert(qs.forall(_.matches("q[0-9]{2,3}_[a-z0-9_]+")))
  }
}
