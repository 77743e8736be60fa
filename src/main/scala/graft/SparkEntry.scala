package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Fixtures.workDir
import graft.core.Tables
import graft.core.GraftSession.Materialize
import graft.functions.PigFunctions._
import graft.operators.Relational

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one operator family from
  * SURVEY.md §2 and has a DuckDB-equivalent oracle in [[oracleSql]]
  * (same column NAMES on both sides — the driver sorts columns by name
  * and hashes values).
  *
  * Float discipline: aggregated money/quantity columns are routed
  * through exact DECIMAL casts and only cast back to DOUBLE at the end,
  * so results are identical regardless of summation order / parallelism
  * — in Spark at any partition count, and in DuckDB. (A raw double sum
  * is order-dependent and would flake the hash compare.)
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_group_agg")(spark, "/root/testdata/sf0.001")

  // ---------------- shared helpers ----------------

  /** Exact sum of a ~2-decimal double column: cast to DECIMAL per row
    * (deterministic for values within 1e-6 of a 2-decimal rational),
    * sum exactly, surface as DOUBLE. */
  private def dsum2(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** ONE-job multiset equality for in-query law probes: union the two
    * sides with +1/−1 weights, group by every column, and look for any
    * nonzero net weight. Row-for-row equivalent to the
    * `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty` pair (both are
    * multiset equality under SQL grouping semantics — NaN and -0.0
    * normalize identically) at half the jobs and one shuffle instead
    * of two exceptAll shuffles. Both sides must share column names. */
  private def sameMultiset(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq.map(col)
    a.select(cols: _*).withColumn("__w", lit(1L))
      .unionByName(b.select(cols: _*).withColumn("__w", lit(-1L)))
      .groupBy(cols: _*).agg(sum(org.apache.spark.sql.functions.col("__w")).as("__d"))
      .filter(org.apache.spark.sql.functions.col("__d") =!= 0)
      .isEmpty
  }

  /** l_extendedprice * (1 - l_discount) as an exact DECIMAL(22,4). */
  private def discPrice: Column =
    (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast(DecimalType(22, 4))

  private def t(s: SparkSession, dir: String): Tables = Tables(s, dir)

  // ---------------- the inventory ----------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- scan / filter / project (LOAD + FILTER + FOREACH…GENERATE) ---
    "q01_scan_filter_project" -> ((s, dir) =>
      t(s, dir).lineitem
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("1997-02-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"),
          discPrice.cast("double").as("revenue"))),

    // --- FILTER with IN / CASE / full-match regex (Pig `matches`) ---
    "q02_filter_expr" -> ((s, dir) =>
      t(s, dir).orders
        .filter(col("o_orderstatus").isin("F", "O") &&
                matchesFull(col("o_orderpriority"), "[12]-.*"))
        .select(col("o_orderkey"),
          when(col("o_totalprice") > 200000, lit("big"))
            .when(col("o_totalprice") > 50000, lit("mid"))
            .otherwise(lit("small")).as("bucket"))),

    // --- GROUP BY + aggregates (TPC-H Q1 shape — the M1 flagship) ---
    "q03_group_agg" -> ((s, dir) =>
      t(s, dir).lineitem
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum2(col("l_quantity")).as("sum_qty"),
          dsum2(col("l_extendedprice")).as("sum_base_price"),
          sum(discPrice).cast("double").as("sum_disc_price"),
          sum(discPrice * (lit(1) + col("l_tax")).cast(DecimalType(8, 2)))
            .cast("double").as("sum_charge"),
          (sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") / count(lit(1)))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))),

    // --- GROUP ALL (global aggregate) ---
    "q04_group_all" -> ((s, dir) =>
      t(s, dir).lineitem.agg(
        count(lit(1)).as("n_rows"),
        dsum2(col("l_quantity")).as("sum_qty"),
        min(col("l_shipdate")).as("min_ship"),
        max(col("l_shipdate")).as("max_ship"),
        countDistinct(col("l_orderkey")).as("n_orders"))),

    // --- default (shuffle) equi-join, fact ⋈ fact ---
    "q05_join_agg" -> ((s, dir) => {
      val tb = t(s, dir)
      tb.lineitem.join(tb.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
             sum(discPrice).cast("double").as("revenue"))
    }),

    // --- replicated join (Pig USING 'replicated' → explicit broadcast) ---
    "q06_join_broadcast" -> ((s, dir) => {
      val tb = t(s, dir)
      tb.lineitem
        .join(broadcast(tb.supplier), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(tb.nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_lines"),
             sum(discPrice).cast("double").as("revenue"))
    }),

    // --- LEFT OUTER join ---
    "q07_join_left" -> ((s, dir) => {
      val tb = t(s, dir)
      tb.customer.join(tb.orders, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
             coalesce(dsum2(col("o_totalprice")), lit(0.0)).as("total_spent"))
    }),

    // --- FULL OUTER join of two derived sides ---
    "q08_join_full" -> ((s, dir) => {
      val tb = t(s, dir)
      val c = tb.customer.filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey"), col("c_acctbal"))
      val o = tb.orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
        .groupBy(col("custkey")).agg(count(lit(1)).as("n_urgent"))
      c.join(o, Seq("custkey"), "full_outer")
        .select(col("custkey"),
          coalesce(col("c_acctbal"), lit(-1.0)).as("acctbal"),
          coalesce(col("n_urgent"), lit(0L)).as("n_urgent"))
    }),

    // --- semi join (first-class here; a COGROUP+IsEmpty idiom in Pig) ---
    "q09_semi_join" -> ((s, dir) => {
      val tb = t(s, dir)
      tb.customer
        .join(tb.orders.filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),

    // --- anti join ---
    "q10_anti_join" -> ((s, dir) => {
      val tb = t(s, dir)
      tb.customer.join(tb.orders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),

    // --- CROSS + FILTER (Pig's theta-join idiom) ---
    "q11_cross_theta" -> ((s, dir) => {
      val tb = t(s, dir)
      tb.nation.crossJoin(tb.region)
        .filter(col("n_regionkey") =!= col("r_regionkey"))
        .select(col("n_name"), col("r_name"))
    }),

    // --- UNION (bag semantics: no dedupe) + downstream agg ---
    "q12_union" -> ((s, dir) => {
      val ev = t(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_type"), col("value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_type"), col("value"))
      clicks.unionByName(purchases)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
             sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
    }),

    // --- DISTINCT ---
    "q13_distinct" -> ((s, dir) =>
      t(s, dir).events.select(col("user_id"), col("event_type")).distinct()),

    // --- ORDER BY + LIMIT (total order; TakeOrderedAndProject) ---
    "q14_order_limit" -> ((s, dir) =>
      t(s, dir).orders
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))),

    // --- SAMPLE (systematic/deterministic variant: key-modulo; Pig's
    //     Bernoulli SAMPLE is df.sample(p, seed) — not oracle-able) ---
    "q15_sample" -> ((s, dir) =>
      t(s, dir).lineitem.filter(col("l_orderkey") % 97 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    // --- SPLIT … INTO … OTHERWISE (multi-sink w/ shared-scan persist) ---
    "q16_split" -> ((s, dir) => {
      val branches = Relational.split(
        t(s, dir).events,
        Seq("click" -> (col("event_type") === "click"),
            "error" -> (col("event_type") === "error")),
        otherwise = Some("other"))
      branches.toSeq.sortBy(_._1)
        .map { case (name, df) =>
          df.agg(count(lit(1)).as("cnt")).select(lit(name).as("branch"), col("cnt"))
        }
        .reduce(_ unionByName _)
    }),

    // --- RANK BY (global two-pass scalable rank, SURVEY §2.5) ---
    "q17_rank" -> ((s, dir) =>
      Relational.rankBy(
          t(s, dir).orders.select(col("o_orderkey"), col("o_totalprice")),
          Seq("o_totalprice"), ascending = false)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("rank").as("rnk"), col("dense_rank").as("rnk_dense"))),

    // --- CUBE ---
    "q18_cube" -> ((s, dir) =>
      t(s, dir).lineitem
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
             dsum2(col("l_quantity")).as("sum_qty"),
             grouping_id().as("grp_id"))),

    // --- ROLLUP ---
    "q19_rollup" -> ((s, dir) =>
      t(s, dir).orders
        .withColumn("o_year", year(col("o_orderdate")))
        .rollup(col("o_year"), col("o_orderstatus"))
        .agg(count(lit(1)).as("cnt"),
             dsum2(col("o_totalprice")).as("sum_price"),
             grouping_id().as("grp_id"))),

    // --- COGROUP (bags per input, OUTER semantics) ---
    "q20_cogroup" -> ((s, dir) => {
      val tb = t(s, dir)
      val cg = Relational.cogroup(Seq("orderkey"),
        ("orders", tb.orders.select(col("o_orderkey"), col("o_totalprice")), Seq("o_orderkey")),
        ("lines", tb.lineitem.select(col("l_orderkey"), col("l_quantity")), Seq("l_orderkey")))
      cg.select(col("orderkey"),
        size(col("bag_orders")).cast("long").as("n_orders"),
        size(col("bag_lines")).cast("long").as("n_lines"))
    }),

    // --- FLATTEN of a UDTF-ish bag (TOKENIZE → word counts) ---
    "q21_flatten_tokenize" -> ((s, dir) =>
      t(s, dir).documents
        .select(explode(tokenize(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))),

    // --- nested FOREACH block compiled to HOFs over the bag ---
    "q22_nested_foreach" -> ((s, dir) => {
      val bags = t(s, dir).lineitem
        .groupBy(col("l_orderkey"))
        .agg(collect_list(struct(col("l_quantity"), col("l_extendedprice"))).as("items"))
      val big = Relational.nested.filterBag(col("items"), x => x.getField("l_quantity") > 25)
      bags.select(col("l_orderkey"),
        size(col("items")).cast("long").as("n_items"),
        size(big).cast("long").as("n_big"),
        round(Relational.nested.sumBag(big, "l_extendedprice"), 2).as("sum_big_price"))
    }),

    // --- per-group TOP-k (Pig TOP) ---
    "q23_top_per_group" -> ((s, dir) =>
      Relational.topPerGroup(t(s, dir).orders, Seq("o_custkey"), "o_totalprice", 3, "o_orderkey")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn").cast("long").as("rn"))),

    // --- GROUP → bag → FLATTEN round-trip ---
    "q24_flatten_bag" -> ((s, dir) =>
      t(s, dir).lineitem
        .groupBy(col("l_orderkey"))
        .agg(collect_list(struct(col("l_linenumber"), col("l_quantity"))).as("items"))
        .filter(size(col("items")) >= 6)
        .select(col("l_orderkey"), explode(col("items")).as("item"))
        .select(col("l_orderkey"),
          col("item.l_linenumber").as("l_linenumber"),
          col("item.l_quantity").as("l_quantity"))),

    // --- string builtin family (Pig CONCAT/SUBSTRING/INDEXOF/…) ---
    "q25_string_funcs" -> ((s, dir) =>
      t(s, dir).customer.select(
        col("c_custkey"),
        upper(col("c_name")).as("up"),
        substringPig(col("c_name"), 0, 8).as("pre"),
        indexOfPig(col("c_name"), "#").as("hash_idx"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("namex"),
        regexExtract(col("c_name"), "([0-9]+)", 1).as("digits"),
        length(col("c_name")).as("len"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("tagged"))),

    // --- math builtin family ---
    "q26_math_funcs" -> ((s, dir) =>
      t(s, dir).lineitem.select(
        col("l_orderkey"), col("l_linenumber"),
        abs(-col("l_quantity")).as("qabs"),
        // Pig CEIL/FLOOR return double; Spark's return long — cast back.
        ceil(col("l_extendedprice")).cast("double").as("cl"),
        floor(col("l_extendedprice")).cast("double").as("fl"),
        roundPig(sqrt(col("l_quantity")), 6).as("sq"),
        roundPig(log(col("l_extendedprice")), 6).as("lg"),
        (col("l_orderkey") % 7).as("m7"))),

    // --- datetime builtin family (GetYear/AddDuration/DaysBetween/…) ---
    "q27_datetime_funcs" -> ((s, dir) =>
      t(s, dir).orders.select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dy"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"),
        addDuration(col("o_orderdate"), "P1DT2H").as("plus1d2h"),
        daysBetween(lit("1998-12-31").cast("timestamp"), col("o_orderdate")).as("days_to_end"))),

    // --- JSON access over embedded JSON strings (events.props) ---
    "q28_json" -> ((s, dir) =>
      t(s, dir).events.select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))),

    // --- window functions (engine extension; running aggregates) ---
    "q29_window_funcs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wo = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val wf = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir).events.select(
        col("event_id"), col("user_id"), col("ts"),
        row_number().over(wo).cast("long").as("rn"),
        lag(col("value"), 1).over(wo).as("prev_value"),
        sum(col("value").cast(DecimalType(18, 4))).over(wf).cast("double").as("running_value"))
    }),

    // --- as-of join (extension operator, graft.operators.AsOfJoin) ---
    "q30_asof_join" -> ((s, dir) => {
      val tb = t(s, dir)
      graft.operators.AsOfJoin.asofLeft(
        left = tb.events.select(col("event_id"), col("user_id"), col("ts")),
        right = tb.orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightPayload = Seq("o_orderkey", "o_totalprice"),
        rightTiebreak = "o_orderkey")
    }),

    // --- INTERSECT (absent in Pig; free Spark surface, SURVEY §2.5) ---
    "q31_intersect" -> ((s, dir) => {
      val o = t(s, dir).orders
      o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
        .intersect(o.filter(col("o_totalprice") > 150000).select(col("o_custkey")))
    }),

    // --- EXCEPT ---
    "q32_except" -> ((s, dir) => {
      val o = t(s, dir).orders
      o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
        .except(o.filter(col("o_totalprice") > 150000).select(col("o_custkey")))
    }),

    // --- UNION ONSCHEMA (align by name, missing columns -> null) ---
    "q33_union_onschema" -> ((s, dir) => {
      val tb = t(s, dir)
      val a = tb.events.filter(col("event_type") === "click")
        .select(col("event_id").as("id"), col("value"))
      val b = tb.orders.select(col("o_orderkey").as("id"), col("o_totalprice").as("price"))
      a.unionByName(b, allowMissingColumns = true)
    }),

    // ============ LLM-pipeline extension surface (SURVEY §7.1) ============

    // --- exact dedup: deterministic winner + dup count per text group ---
    "q34_dedup_exact" -> ((s, dir) =>
      graft.operators.Dedup.exactGroups(t(s, dir).documents, Seq("text"), "doc_id")
        .select(col("keep_id"), col("n_dups"))),

    // --- fuzzy dedup: MinHash LSH candidates -> exact Jaccard verify,
    //     scored against the EXACT all-pairs ground truth computed in
    //     the same job. The oracle recomputes n_truth (DuckDB can do
    //     exact n-gram Jaccard — q37's formulation at 0.8), asserts
    //     zero false positives (the exact-verify stage guarantees
    //     found ⊆ truth up to 64-bit shingle-hash collisions), and
    //     bound-checks recall ≥ 0.9 (16×8 banding ≈ 95% at j=0.8) ---
    "q35_dedup_minhash" -> ((s, dir) => {
      val docs = t(s, dir).documents
      val found = minhashPairs(s, dir).select(col("id1"), col("id2"))
      val truth = graft.operators.Dedup.exactJaccardPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.8)
        .select(col("id1"), col("id2"))
      truth.withColumn("in_t", lit(1))
        .join(found.withColumn("in_f", lit(1)), Seq("id1", "id2"), "full_outer")
        .agg(
          coalesce(sum(col("in_t")), lit(0)).cast("long").as("nt"),
          coalesce(sum(when(col("in_t") === 1 && col("in_f") === 1, 1)), lit(0)).as("nh"),
          coalesce(sum(when(col("in_t").isNull, 1)), lit(0)).cast("long").as("nx"))
        .select(col("nt").as("n_truth"), col("nx").as("n_false_pos"),
          (col("nh") >= ceil(col("nt") * lit(0.9))).as("recall_ge_90"))
    }),

    // --- SimHash near-dup pairs: the 4×16-bit banding is EXACT for
    //     hamming ≤ 3 (pigeonhole: ≤3 differing bits can dirty ≤3 of 4
    //     chunks), so banded output must EQUAL the brute-force all-pairs
    //     hamming scan — asserted here, with n_docs as the
    //     oracle-recomputed anchor ---
    "q36_dedup_simhash" -> ((s, dir) => simhashVsBrute(s, dir, blocks = 4)),

    // --- EXACT n-gram Jaccard pairs via inverted shingle index ---
    "q37_jaccard_exact" -> ((s, dir) =>
      graft.operators.Dedup.exactJaccardPairs(t(s, dir).documents, "doc_id", "text",
        shingleN = 3, threshold = 0.5)),

    // --- embedding near-dup pairs via RP-LSH, over the fixture PLUS
    //     planted exact clones (vec_id + 1_000_000 for vec_id % 50 = 0).
    //     The fixture's max natural pairwise cosine is ~0.48, so at
    //     tau = 0.95 the answer is exactly the planted pairs — and a
    //     clone's RP-LSH bucket is identical in every band, so the
    //     banded candidate stage finds each plant with probability 1.
    //     DuckDB recomputes the full brute-force answer. ---
    "q38_cosine_dup_pairs" -> ((s, dir) => {
      val base = t(s, dir).embeddings.select(col("vec_id"), col("embedding"))
      val planted = base.unionAll(
        base.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      graft.operators.Similarity.cosineDupPairs(planted, "vec_id", "embedding",
          tau = 0.95, planes = 10)
        .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
    }),

    // --- exact brute-force cosine top-k (oracle: list_cosine_similarity) ---
    "q39_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir).embeddings
      graft.operators.Similarity.bruteForceTopK(
        corpus = emb, queries = emb.filter(col("vec_id") % 100 === 0),
        corpusId = "vec_id", queryId = "vec_id", vecCol = "embedding", k = 5)
    }),

    // --- ANN via RP-LSH buckets (the 100 TB path). The fixture's
    //     embeddings are near-uniform random (max pairwise cosine
    //     ~0.48), so generic top-k recall is information-theoretically
    //     weak for ANY sublinear index — measured 0.08 single-band /
    //     ~0.3 multi-band here, as LSH theory predicts for θ≈60°
    //     "neighbors". The checkable harness instead plants clone
    //     queries (vec_id + 1_000_000 of every %100 vector): a clone's
    //     bucket equals its source's in every band, so hit@1 = 100%
    //     deterministically, and the bounded-k invariant (≤ k rows per
    //     query) is a hard zero. Both anchors recomputed by DuckDB. ---
    "q40_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir).embeddings
      val clones = emb.filter(col("vec_id") % 100 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val found = graft.operators.Similarity.lshTopK(
        corpus = emb, queries = clones, corpusId = "vec_id", queryId = "vec_id",
        vecCol = "embedding", k = 5, planes = 8)
      val perQuery = found.groupBy(col("query_id")).agg(
        count(lit(1)).as("n_rows"),
        max(when(col("rn") === 1 && col("neighbor_id") === col("query_id") - 1000000L, 1)
          .otherwise(0)).as("hit1"))
      perQuery.agg(
        count(lit(1)).cast("long").as("n_queries"),
        coalesce(sum(col("hit1")), lit(0)).cast("long").as("n_hit_top1"),
        coalesce(sum(when(col("n_rows") > 5, 1)), lit(0)).cast("long").as("n_overflow"))
    }),

    // --- language ID (stopword-evidence argmax, deterministic tiebreak) ---
    "q41_langid" -> ((s, dir) =>
      t(s, dir).documents.select(col("doc_id"),
        graft.operators.TextAnalysis.langId(col("text")).as("lang_pred"))),

    // --- text quality features + composite score ---
    "q42_quality" -> ((s, dir) => {
      val f = graft.operators.TextAnalysis.qualityFeatures(col("text"))
      t(s, dir).documents.select(col("doc_id"),
        f.getField("n_tokens").as("n_tokens"),
        f.getField("punct_ratio").as("punct_ratio"),
        f.getField("stopword_ratio").as("stopword_ratio"),
        f.getField("mean_token_len").as("mean_token_len"),
        graft.operators.TextAnalysis.qualityScore(col("text")).as("quality"))
    }),

    // --- token counting: whitespace + BPE-ish subword estimate ---
    "q43_token_count" -> ((s, dir) =>
      t(s, dir).documents.select(col("doc_id"),
        graft.operators.TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
        graft.operators.TextAnalysis.bpeishTokenCount(col("text")).as("bpeish_tokens"))),

    // --- document fingerprint (canonical md5; engine-portable) ---
    "q44_fingerprint" -> ((s, dir) =>
      t(s, dir).documents.select(col("doc_id"),
        graft.operators.TextAnalysis.docFingerprint(col("text")).as("fp"))),

    // --- multimodal: pack blob + expression-level metadata extraction ---
    "q45_multimodal_meta" -> ((s, dir) => {
      val packed = graft.operators.Multimodal.packMedia(t(s, dir).documents, "text", "text/plain")
      val m = graft.operators.Multimodal.extractMeta(col("blob"))
      packed.select(col("doc_id"),
        col("media_meta.n_bytes").as("n_bytes"),
        col("media_meta.checksum").as("checksum"),
        m.getField("width").as("width"),
        m.getField("height").as("height"))
    }),

    // --- multimodal: partition-streaming decode of the synthetic blob
    //     format. The decode is a deterministic header/byte-stats parse,
    //     so DuckDB recomputes every emitted feature from the source
    //     text (the fixture corpus is ASCII → ord(char) = byte value) ---
    "q46_multimodal_decode" -> ((s, dir) => {
      val packed = graft.operators.Multimodal.packMedia(t(s, dir).documents, "text", "text/plain")
      graft.operators.Multimodal.decodeFeatures(packed, "doc_id", "blob")
        .withColumn("mean_byte", round(col("mean_byte"), 6))
    }),

    // --- tumbling event-time window (batch mode of the streaming agg) ---
    "q47_window_tumbling" -> ((s, dir) =>
      t(s, dir).events
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast(DecimalType(18, 4))).cast("double").as("sum_value"))
        .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
          col("n_events"), col("sum_value"))),

    // --- session window per user (30-minute gap) ---
    "q48_session_window" -> ((s, dir) =>
      t(s, dir).events
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("w_start"),
          col("session_window.end").as("w_end"), col("n_events"))),

    // --- ASSERT (passes on this data; rows flow through unchanged) ---
    "q49_assert" -> ((s, dir) =>
      Relational.assertRows(t(s, dir).lineitem,
          col("l_quantity") > 0 && col("l_extendedprice") >= 0, "sane lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    // --- aggregate UDF protocol (Algebraic/Accumulator -> Aggregator):
    //     weighted avg with an exact integer (cents) buffer ---
    "q50_udaf_weighted_avg" -> ((s, dir) => {
      graft.functions.Aggregators.register(s)
      t(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(expr("weighted_avg(l_extendedprice, l_quantity)").as("w_avg_price"))
    }),

    // --- STREAM ... THROUGH 'cmd' (external process pipe) ---
    "q51_stream_through" -> ((s, dir) =>
      graft.operators.StreamThrough(
        t(s, dir).documents.select(col("doc_id"), col("lang")),
        Seq("tr", "a-z", "A-Z"),
        Seq("doc_id", "lang_up"))),

    // --- bloom-filter join pre-filter + exact verify join ---
    "q52_bloom_join" -> ((s, dir) => {
      val tb = t(s, dir)
      val urgent = tb.orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val pre = Relational.bloomSemiFilter(tb.lineitem, "l_orderkey", urgent, "o_orderkey",
        expectedItems = 100000L)
      pre.join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
             dsum2(col("l_extendedprice")).as("sum_price"))
    }),

    // --- pure range join (no equi key) via the binned strategy ---
    "q53_range_join" -> ((s, dir) => {
      val tb = t(s, dir)
      val bands = tb.part
        .select((floor((col("p_retailprice") - 900) * 5) * 1000).cast("double").as("lo"))
        .distinct()
        .withColumn("hi", col("lo") + 1000)
      graft.operators.RangeJoin.pointInInterval(
          tb.lineitem.select(col("l_extendedprice")), "l_extendedprice",
          bands, "lo", "hi", binSize = 1000.0)
        .groupBy(col("lo"))
        .agg(count(lit(1)).as("n_points"),
             dsum2(col("l_extendedprice")).as("sum_price"))
    }),

    // --- IVF ANN (two-stage centroid probe), scored against the exact
    //     brute-force top-k in the same job (same harness as q40) ---
    "q54_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir).embeddings
      val qs = emb.filter(col("vec_id") % 100 === 0)
      val truth = graft.operators.Similarity.bruteForceTopK(
          corpus = emb, queries = qs, corpusId = "vec_id", queryId = "vec_id",
          vecCol = "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      val found = graft.operators.Similarity.ivfTopK(
          corpus = emb, queries = qs, corpusId = "vec_id", queryId = "vec_id",
          vecCol = "embedding", k = 5, nCentroids = 16, nProbe = 6)
        .select(col("query_id"), col("neighbor_id"))
      truth.withColumn("in_t", lit(1))
        .join(found.withColumn("in_f", lit(1)),
          Seq("query_id", "neighbor_id"), "full_outer")
        .agg(
          coalesce(sum(col("in_t")), lit(0)).cast("long").as("nt"),
          coalesce(sum(when(col("in_t") === 1 && col("in_f") === 1, 1)), lit(0)).as("nh"))
        .select(col("nt").as("n_truth"),
          (col("nh") >= ceil(col("nt") * lit(0.5))).as("recall_ge_50"))
    }),

    // --- SPRINTF / UCFIRST / STARTSWITH / STRSPLIT family ---
    "q55_string_funcs2" -> ((s, dir) =>
      t(s, dir).customer.select(
        col("c_custkey"),
        sprintf("%s-%04d", lower(col("c_mktsegment")), col("c_custkey")).as("tag"),
        ucfirst(lower(col("c_mktsegment"))).as("seg_uc"),
        startsWithPig(col("c_name"), "Customer#00000000").as("low_id"),
        // serialized (not a raw list column): the driver's compare hashes
        // sorted columns and cannot sort array cells
        array_join(strSplit(col("c_name"), "#"), "/").as("name_parts"))),

    // --- statistics aggregates (COR / COV / STDDEV, Pig §2.6 bag-pair stats) ---
    "q56_stats_agg" -> ((s, dir) =>
      t(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("cor_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qp"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_q"))),

    // --- salted two-phase aggregation (hot-key defense; same answer) ---
    "q57_salted_agg" -> ((s, dir) =>
      Relational.saltedAggregate(t(s, dir).lineitem, Seq("l_returnflag"), 8)(
        sum(col("l_quantity").cast(DecimalType(18, 2))).as("ps"),
        count(lit(1)).as("pc"))(
        sum(col("ps")).cast("double").as("sum_qty"),
        sum(col("pc")).as("cnt"))),

    // --- exact interpolated percentiles + exact distinct count ---
    "q58_percentiles" -> ((s, dir) =>
      t(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
          countDistinct(col("l_orderkey")).as("n_orders"))),

    // --- end-to-end fuzzy dedup: pairs -> clusters -> canonical keeper.
    //     The assignment table's structural invariants are asserted in
    //     the same job and the oracle recomputes the anchors: every doc
    //     assigned exactly once (n_assigned = n_docs), min-label
    //     canonicality (keep_id ≤ doc_id — the label is the component
    //     min, which includes the member itself), and idempotence
    //     (every keeper keeps itself) ---
    "q59_dedup_assign" -> ((s, dir) => {
      val docs = t(s, dir).documents
      val a = graft.operators.Dedup.dedupAssignments(docs, "doc_id", "text",
        threshold = 0.8)
      val badCanon = a.as("x").join(a.as("y"), col("x.keep_id") === col("y.doc_id"))
        .filter(col("y.keep_id") =!= col("x.keep_id"))
        .agg(count(lit(1)).cast("long").as("n_bad_canonical"))
      docs.agg(count(lit(1)).cast("long").as("n_docs"))
        .crossJoin(a.agg(
          count(lit(1)).cast("long").as("n_assigned"),
          coalesce(sum(when(col("keep_id") > col("doc_id"), 1)), lit(0))
            .cast("long").as("n_bad_order")))
        .crossJoin(badCanon)
    }),

    // --- SQL entry point (PigServer parity, SURVEY §3.3): the SAME SQL
    //     text runs on Spark (via GraftSession.sql) and on DuckDB ---
    "q60_sql_entry" -> ((s, dir) => {
      val tb = t(s, dir)
      val gs = new graft.core.GraftSession(s)
      gs.register("customer", tb.customer)
        .register("nation", tb.nation)
        .register("region", tb.region)
      gs.sql(SparkEntry.oracleSql("q60_sql_entry"))
    }),

    // --- bag builtin family (TOKENIZE/SIZE/BagToString/sorted bags) ---
    // lower() BEFORE tokenize on both sides — the oracle lowercases too,
    // so the check stays meaningful on mixed-case corpora
    "q61_bag_funcs" -> ((s, dir) =>
      t(s, dir).documents.select(
        col("doc_id"),
        sizeOf(tokenize(lower(col("text")))).cast("long").as("n_tokens"),
        bagToString(slice(array_sort(array_distinct(tokenize(lower(col("text"))))), 1, 5), "|")
          .as("first5_sorted"),
        isEmptyBag(tokenize(lower(col("text")))).as("is_empty"))),

    // --- TOBAG/TOTUPLE/TOMAP/KEYSET constructor family (Pig §2.6) ---
    "q62_constructors" -> ((s, dir) => {
      val m = toMapPig(lit("seg"), col("c_mktsegment"), lit("name"), col("c_name"))
      t(s, dir).customer.select(
        col("c_custkey"),
        element_at(m, "seg").as("m_seg"),
        sizeOf(keySet(m)).cast("long").as("n_keys"),
        array_max(toBag(col("c_nationkey").cast("long"), col("c_custkey") % 7)).as("bag_max"),
        toTuple(col("c_name"), col("c_acctbal")).getField("c_name").as("t_name"))
    }),

    // --- deterministic stratified sample: exact per-language quotas,
    //     md5-keyed order so any engine / partitioning picks the same
    //     rows (the training-data "balanced subset" op) ---
    "q63_stratified_sample" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir).documents
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("lang"), col("rn"))
    }),

    // --- PII-style redaction sweep: one regex union (emails, phone
    //     shapes, and high-frequency stopwords so the fixture corpus
    //     actually exercises the path), count + redact per doc ---
    "q64_pii_redact" -> ((s, dir) => {
      val pat = "[a-z0-9._%+-]+@[a-z0-9.-]+|\\b\\d{3}[- ]?\\d{4}\\b|\\b(?:the|and|for|with)\\b"
      t(s, dir).documents.select(
        col("doc_id"),
        regexp_count(lower(col("text")), lit(pat)).cast("long").as("n_redact"),
        regexp_replace(lower(col("text")), pat, "[MASK]").as("redacted"))
    }),

    // --- repetition quality metric: duplicate-trigram fraction in ppm
    //     (integer-exact on both engines; no float rounding hazard).
    //     Native one-pass kernel (exact n-gram strings, no interpreted
    //     HOF chain — was the slowest query of the sf0.1 verify pass) ---
    "q65_repetition" -> ((s, dir) =>
      t(s, dir).documents
        .withColumn("__st", graft.plans.TextExpressions.ngramStats(col("text"), 3))
        .select(
          col("doc_id"),
          element_at(col("__st"), 1).as("n_trigrams"),
          element_at(col("__st"), 2).as("n_uniq"),
          when(element_at(col("__st"), 1) > 0,
            expr("(__st[0] - __st[1]) * 1000000L div __st[0]"))
            .otherwise(lit(0L)).as("rep_ppm"))),

    // --- corpus sharding: content-hash shard assignment (md5 nibble),
    //     the deterministic "shuffle the corpus into N training shards"
    //     op; at scale this feeds repartition(shard) + partitioned write ---
    "q66_shard_assign" -> ((s, dir) =>
      t(s, dir).documents
        .withColumn("__h", md5(col("doc_id").cast("string")))
        .select(col("doc_id"), col("lang"),
          (expr("position(substring(__h, 1, 1) IN '0123456789abcdef')").cast("long") - 1L)
            .mod(lit(8L)).as("shard"))),

    // --- analytic window family (lag/lead/ntile/percent_rank) — beyond
    //     Pig's global RANK; partitioned windows parallelize by key ---
    "q67_window_analytics" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir).orders.select(
        col("o_orderkey"), col("o_custkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pr"))
    }),

    // --- GROUPING SETS (generalizes CUBE/ROLLUP §2.3) — same SQL text
    //     on Spark and DuckDB, like q60 ---
    "q68_grouping_sets" -> ((s, dir) => {
      val tb = t(s, dir)
      val gs = new graft.core.GraftSession(s)
      gs.register("orders", tb.orders)
      gs.sql(SparkEntry.oracleSql("q68_grouping_sets"))
    }),

    // --- exact cosine pair scan (oracle-checked complement of the
    //     LSH-prefiltered q38): deterministic subsample, threshold set
    //     INSIDE the fixture's similarity distribution (max pairwise
    //     cosine here is ~0.48 — a 0.95 "dup" threshold would make the
    //     check vacuously empty) ---
    "q69_cosine_pairs_exact" -> ((s, dir) => {
      val emb = t(s, dir).embeddings.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"),
          graft.operators.Similarity.asDouble(col("embedding")).as("v"))
      emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
        .withColumn("cosine",
          graft.operators.Similarity.cosineFast(col("a.v"), col("b.v")))
        .filter(col("cosine") >= 0.35)
        .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
          round(col("cosine"), 6).as("cosine"))
    }),

    // --- token chunking with overlap (window 50, stride 40) — the
    //     context-window packing op every training pipeline runs ---
    "q70_chunking" -> ((s, dir) => {
      val toks = tokenize(lower(col("text")))
      val starts = when(size(toks) > 0,
        sequence(lit(0), size(toks) - 1, lit(40)))
        .otherwise(array().cast("array<int>"))
      t(s, dir).documents
        .withColumn("__toks", toks)
        .select(col("doc_id"), col("__toks"), posexplode(starts).as(Seq("chunk_id", "start")))
        .select(
          col("doc_id"),
          col("chunk_id").cast("long").as("chunk_id"),
          size(slice(col("__toks"), col("start") + 1, lit(50))).cast("long").as("n_chunk_tokens"),
          array_join(slice(col("__toks"), col("start") + 1, lit(50)), " ").as("chunk_text"))
    }),

    // --- multimodal frame sampling: 256-byte frames from the packed
    //     blob, every 2nd kept — pure-expression slicing (no decode),
    //     oracle-checkable because the fixture corpus is ASCII so byte
    //     frames align with the oracle's varchar slicing ---
    "q71_frame_sample" -> ((s, dir) => {
      val packed = graft.operators.Multimodal.packMedia(
        t(s, dir).documents, "text", "text/plain")
      graft.operators.Multimodal.frameSample(packed, "doc_id", "blob",
        frameBytes = 256, everyN = 2)
    }),

    // --- benchmark decontamination: 5-gram overlap between the corpus
    //     and a "benchmark" subset (doc_id % 50) — the eval-leak check
    //     every training pipeline runs before a data release ---
    "q73_contamination" -> ((s, dir) =>
      graft.operators.TextAnalysis.contamination(
        t(s, dir).documents, "doc_id", "text",
        isBenchmark = col("doc_id") % 50 === 0, n = 5)),

    // --- corpus data card: per-language release stats (docs, sources,
    //     token volume, exact-dup docs by canonical fingerprint) ---
    "q74_data_card" -> ((s, dir) => {
      val d = t(s, dir).documents.select(
        col("doc_id"), col("lang"), col("source"),
        graft.operators.TextAnalysis.wsTokenCount(col("text")).as("nt"),
        graft.operators.TextAnalysis.docFingerprint(col("text")).as("fp"))
      val fpCounts = d.groupBy(col("fp")).agg(count(lit(1)).as("fp_cnt"))
      d.join(fpCounts, "fp")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          countDistinct(col("source")).cast("long").as("n_sources"),
          sum(col("nt")).cast("long").as("total_tokens"),
          sum(when(col("fp_cnt") > 1, 1L).otherwise(0L)).cast("long").as("n_dup_docs"))
    }),

    // --- deterministic fraction sampling: hash-Bernoulli keep-if
    //     md5-nibble < threshold — reproducible on any engine, retry,
    //     or partitioning (the scalable SAMPLE / TABLESAMPLE) ---
    "q75_fraction_sample" -> ((s, dir) =>
      t(s, dir).documents
        .withColumn("__h", md5(col("doc_id").cast("string")))
        .filter(expr("position(substring(__h, 1, 1) IN '0123456789abcdef')") <= 4)
        .select(col("doc_id"), col("lang"), col("source"))),

    // --- sessionized training sequences: split each user's events at
    //     >30-min gaps (lag + running session counter), then one
    //     ordered event-type string per session ---
    "q76_session_sequences" -> ((s, dir) => {
      val wUser = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val withGap = t(s, dir).events
        .withColumn("__prev", lag(col("ts"), 1).over(wUser))
        .withColumn("__new_sess",
          when(col("__prev").isNull ||
            unix_micros(col("ts")) - unix_micros(col("__prev")) > 1800L * 1000000L,
            1L).otherwise(0L))
        .withColumn("sess_id", sum(col("__new_sess")).over(
          wUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      withGap.groupBy(col("user_id"), col("sess_id"))
        .agg(
          count(lit(1)).cast("long").as("n_events"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
              x => x.getField("event_type")),
            ">").as("seq"))
    }),

    // --- user behavior sequences: per-user event-type strings in
    //     time order (ties broken by event_id) — the sequence-corpus
    //     construction op; one shuffle, bags sorted inside the agg ---
    "q72_event_sequences" -> ((s, dir) =>
      t(s, dir).events
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).cast("long").as("n_events"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
              x => x.getField("event_type")),
            ">").as("seq"))),

    // ============ Pig Latin textual front-end (SURVEY §3.1) ============
    // q77+ run bundled .pig scripts through graft.pig.PigScript — the
    // reference's dominant entry point (a text script), parsed and
    // compiled onto the same Engine surface and oracle-checked like any
    // other query. The aggregating scripts (q78–q81, q85, q89) hit the
    // combiner path: FOREACH-on-GROUP compiles to groupBy().agg(), so
    // the textual route produces the same bag-free plan as the Scala one.
    "q77_pig_scan_filter" -> pigQ("/pig/q77_scan_filter.pig"),
    "q78_pig_group_agg" -> pigQ("/pig/q78_group_agg.pig"),
    "q79_pig_join_group" -> pigQ("/pig/q79_join_group.pig"),
    "q80_pig_join_replicated" -> pigQ("/pig/q80_join_replicated.pig"),
    "q81_pig_left_join" -> pigQ("/pig/q81_left_join.pig"),
    "q82_pig_union_distinct" -> pigQ("/pig/q82_union_distinct.pig"),
    "q83_pig_order_limit" -> pigQ("/pig/q83_order_limit.pig"),
    "q84_pig_flatten_tokenize" -> pigQ("/pig/q84_flatten_tokenize.pig"),
    "q85_pig_split" -> pigQ("/pig/q85_split.pig"),
    "q86_pig_cogroup" -> pigQ("/pig/q86_cogroup.pig"),
    "q87_pig_rank" -> pigQ("/pig/q87_rank.pig"),
    "q88_pig_csv_lazy" -> ((s, dir) => {
      val csv = writeNationCsv(s, dir)
      graft.pig.PigScript.queryResource(s, "/pig/q88_csv_lazy.pig", Map("CSV" -> csv))
    }),
    "q89_pig_macro" -> pigQ("/pig/q89_macro.pig"),
    "q90_pig_cross" -> pigQ("/pig/q90_cross.pig"),
    "q91_pig_cogroup_semi" -> pigQ("/pig/q91_cogroup_semi.pig"),
    "q92_pig_scalar_funcs" -> pigQ("/pig/q92_scalar_funcs.pig"),
    "q93_pig_dates" -> pigQ("/pig/q93_dates.pig"),
    "q94_pig_nested_filter" -> pigQ("/pig/q94_nested_filter.pig"),
    "q95_pig_nested_top" -> pigQ("/pig/q95_nested_top.pig"),
    "q96_pig_cube" -> pigQ("/pig/q96_cube.pig"),
    "q97_pig_rollup" -> pigQ("/pig/q97_rollup.pig"),
    "q98_pig_inline_foreach" -> pigQ("/pig/q98_inline_foreach.pig"),
    "q99_pig_nested_foreach" -> pigQ("/pig/q99_nested_foreach.pig"),
    // inner FLATTEN inside the nested block (legal Pig the compiler
    // used to refuse): a sub-bag field expands via transform²+flatten
    // HOFs — per-row, shuffle-free — then DISTINCT/count per group
    "q228_nested_flatten" -> pigQ("/pig/q228_nested_flatten.pig"),
    "q102_pig_scalar_alias" -> pigQ("/pig/q102_scalar_alias.pig"),
    "q103_pig_case" -> pigQ("/pig/q103_case.pig"),

    // --- TF-IDF characteristic terms (corpus keyword extraction) ---
    "q100_tfidf" -> ((s, dir) =>
      graft.operators.TextAnalysis.tfidfTopTerms(
        t(s, dir).documents, "doc_id", "text", k = 5)),

    // --- deterministic epoch shuffle (training order) ---
    "q101_epoch_shuffle" -> ((s, dir) =>
      graft.operators.TrainingPipeline.epochShuffle(
        t(s, dir).documents, "doc_id", seed = 7)
        .select(col("doc_id"), col("ord"))),

    // --- sequence packing (docs -> fixed-token-budget sequences) ---
    "q104_seq_pack" -> ((s, dir) =>
      graft.operators.TrainingPipeline.packSequences(
        t(s, dir).documents, "source", "doc_id",
        graft.operators.TextAnalysis.wsTokenCount(col("text")), budgetTokens = 200L)
        .select(col("doc_id"), col("source"), col("seq_id"))),

    // --- federated two-cluster execution (SURVEY §2.8/§7.4): orders
    //     lives on "cluster" A, customer on B (isolated newSession()s,
    //     the FederationSpec harness shape). The planner cuts the join
    //     edge, the orchestrator stages the cheaper side as parquet in
    //     the destination's scratch area (cut + transfer + orchestrate),
    //     and the result must hash-match the same plain single-session
    //     SQL in DuckDB. ---
    "q105_federated_join" -> ((s, dir) => {
      import graft.fed.Federation._
      val scratch = workDir("graft_fed_q105_")
      val clusters = Map(
        "A" -> Cluster("A", s.newSession(), s"$scratch/A"),
        "B" -> Cluster("B", s.newSession(), s"$scratch/B"))
      val catalog = new Catalog()
        .register("orders", TableLoc("A", "parquet", s"$dir/orders.parquet"))
        .register("customer", TableLoc("B", "parquet", s"$dir/customer.parquet"))
      val fedPlan = FedBinary(
        FedStage(FedScan("orders"),
          _.filter(col("o_totalprice") > 100000), "hi_orders"),
        FedScan("customer"),
        (o, c) => o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_orders"),
               sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price")),
        "join_agg")
      new Orchestrator(catalog, clusters).execute(fedPlan)
    }),

    // --- federation over the Spark Connect substrate (round 9; SURVEY
    //     §3.2/§7.4 full case): q105's plan, but each "cluster" is a
    //     CONNECT CLIENT session behind an sc:// URI — every read,
    //     stage lambda, and cut-edge parquet write crosses the gRPC
    //     protocol a production multi-cluster deployment would use
    //     (the sandbox degenerates to one in-process server; nothing
    //     in the orchestrator knows that). The bounded aggregate
    //     result re-materializes on the local session so the client
    //     channels close deterministically. ---
    "q157_fed_connect" -> ((s, dir) => {
      import graft.fed.Federation
      import graft.fed.Federation._
      val port = Federation.ensureConnectServer(s)
      val scratch = workDir("graft_fed_q157_")
      val clusters = Map(
        "A" -> Federation.connectCluster("A", s"sc://localhost:$port", s"$scratch/A"),
        "B" -> Federation.connectCluster("B", s"sc://localhost:$port", s"$scratch/B"))
      val catalog = new Catalog()
        .register("orders", TableLoc("A", "parquet", s"$dir/orders.parquet"))
        .register("customer", TableLoc("B", "parquet", s"$dir/customer.parquet"))
      val fedPlan = FedBinary(
        FedStage(FedScan("orders"),
          _.filter(col("o_totalprice") > 100000), "hi_orders"),
        FedScan("customer"),
        (o, c) => o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_nationkey"))
          .agg(count(lit(1)).as("n_orders"),
               sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price")),
        "join_agg")
      val orch = new Orchestrator(catalog, clusters)
      try {
        val fed = orch.execute(fedPlan)
        val (schema, rows) = (fed.schema, fed.collect().toSeq)
        s.createDataFrame(
          new java.util.ArrayList(scala.jdk.CollectionConverters
            .SeqHasAsJava(rows).asJava), schema)
      } finally {
        orch.cleanupStaged()
        Federation.closeClusterSessions(clusters)
        // the gRPC server's threads are non-daemon: leaving it running
        // would hang the forked Verify/Bench JVM at exit
        Federation.stopConnectServer()
      }
    }),

    // --- three-cluster federation, two cut edges: orders on A,
    //     customer on B, nation on C. The planner places each binary
    //     node to minimize transfer bytes and the orchestrator stages
    //     parquet across BOTH cuts; the answer must equal the plain
    //     single-engine SQL DuckDB runs. FederationSpec asserts the
    //     placement shape (multi-cluster, ≥1 transfer). ---
    "q130_federated_3way" -> ((s, dir) => {
      import graft.fed.Federation._
      val scratch = workDir("graft_fed_q130_")
      val clusters = Map(
        "A" -> Cluster("A", s.newSession(), s"$scratch/A"),
        "B" -> Cluster("B", s.newSession(), s"$scratch/B"),
        "C" -> Cluster("C", s.newSession(), s"$scratch/C"))
      val catalog = new Catalog()
        .register("orders", TableLoc("A", "parquet", s"$dir/orders.parquet"))
        .register("customer", TableLoc("B", "parquet", s"$dir/customer.parquet"))
        .register("nation", TableLoc("C", "parquet", s"$dir/nation.parquet"))
      val oc = FedBinary(
        FedStage(FedScan("orders"),
          _.filter(col("o_orderstatus") === "O"), "open_orders"),
        FedScan("customer"),
        (o, c) => o.join(c, o("o_custkey") === c("c_custkey"))
          .select(c("c_nationkey"), o("o_totalprice")),
        "oc_join")
      val fedPlan = FedBinary(
        oc, FedScan("nation"),
        (j, n) => j.join(n, j("c_nationkey") === n("n_nationkey"))
          .groupBy(n("n_name"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("sum_price")),
        "with_nation")
      new Orchestrator(catalog, clusters).execute(fedPlan)
    }),

    // --- ORDER ... USING a case-insensitive comparator, honored as
    //     lower(key)+raw-key sort keys (SURVEY §2.5 ORDER row). Half
    //     the keys are UPPER()'d, so the LIMIT-25 selection set itself
    //     proves comparator semantics: a case-sensitive sort would
    //     pick only even doc_ids (ASCII upper < lower). ---
    "q131_order_comparator" -> pigQ("/pig/q131_order_comparator.pig"),

    // --- BIGINTEGER arbitrary precision (the r5 verdict's precision
    //     gap): per-row products beyond int64, sums ~1e23, a filter
    //     bound past Long.MAX — exact string-backed bignum structs
    //     (graft.functions.BigNum) end-to-end through the Pig front
    //     end. DuckDB oracles the int128-reachable range; BigNumSpec
    //     pins the >38-digit tail against java.math. ---
    "q133_biginteger_agg" -> pigQ("/pig/q133_biginteger_agg.pig"),

    // --- Gopher repetition filters (Rae et al. 2021): top-2gram count
    //     and char mass + duplicate-LINE stats, one native kernel pass
    //     (RepKernels), zero shuffle. The corpus has no newlines, so
    //     the query injects one per space (same regexp both engines):
    //     every dup-line counter takes real nonzero values — the
    //     metrics are exercised, not vacuously zero. Integer ppm
    //     outputs (q65's float-hazard discipline). ---
    "q134_gopher_rep" -> ((s, dir) => {
      val te = graft.plans.TextExpressions
      t(s, dir).documents
        .withColumn("__t2", regexp_replace(lower(col("text")), " ", "\n"))
        .withColumn("__rs", te.repStats(col("__t2"), 2))
        .select(
          col("doc_id"),
          element_at(col("__rs"), 3).as("top2_count"),
          when(length(col("__t2")) > 0,
            expr("__rs[3] * 1000000L div length(__t2)"))
            .otherwise(lit(0L)).as("top2_char_ppm"),
          element_at(col("__rs"), 5).as("n_lines"),
          when(element_at(col("__rs"), 5) > 0,
            expr("(__rs[4] - __rs[5]) * 1000000L div __rs[4]"))
            .otherwise(lit(0L)).as("dup_line_ppm"),
          when(element_at(col("__rs"), 8) > 0,
            expr("__rs[6] * 1000000L div __rs[7]"))
            .otherwise(lit(0L)).as("dup_line_char_ppm"))
    }),

    // --- cross-document repeated 5-grams (Lee et al. 2021 exact
    //     -substring dedup proxy): per doc, how much of its text is
    //     repeated ANYWHERE else in the corpus. Doc-frequency
    //     aggregation, never a pair join — hot grams cost one
    //     combiner row at any corpus size. ---
    "q137_crossdoc_repeats" -> ((s, dir) =>
      graft.operators.TextAnalysis.crossDocRepeats(
        t(s, dir).documents, "doc_id", "text", n = 5)),

    // --- hashed-feature linear quality classifier (the fastText
    //     "quality model" pipeline stage, CCNet/Gopher): token -> md5
    //     bucket -> integer weight table -> exact ppm score. Pure
    //     expression, zero shuffle; integer-exact end to end. ---
    "q139_hash_classifier" -> ((s, dir) =>
      t(s, dir).documents
        .withColumn("__q",
          graft.operators.TextAnalysis.hashClassifierScore(col("text"), dim = 1024))
        .select(col("doc_id"), col("__q.n_tokens").as("n_tokens"),
          col("__q.w_sum").as("w_sum"), col("__q.score_ppm").as("score_ppm"))),

    // --- BPE tokenizer-training inner loop (Sennrich et al. 2016):
    //     corpus-weighted char-pair frequencies over the token
    //     vocabulary; both shuffles are vocab-sized, the top-k is
    //     TakeOrdered with a total (count desc, pair) order. ---
    "q140_bpe_pairs" -> ((s, dir) =>
      graft.operators.TextAnalysis.bpePairCounts(
        t(s, dir).documents, "text", topK = 20)),

    // --- bounded inverted index: per term, doc frequency + first-k
    //     postings via the BoundedConcat Aggregator — a stop-word in
    //     every doc costs k strings of state, never a corpus-sized
    //     collect_list. ---
    "q141_inverted_index" -> ((s, dir) =>
      graft.operators.TextAnalysis.invertedIndex(
        t(s, dir).documents, "doc_id", "text", k = 5)),

    // --- int8 embedding quantization (vector-store prep): per-vector
    //     affine codes, zero shuffle; codes joined to a string so the
    //     hash compare is rendering-proof. Fixed-order IEEE double
    //     ops -> DuckDB replays codes bit-for-bit. ---
    "q142_quantize_int8" -> ((s, dir) =>
      t(s, dir).embeddings
        .withColumn("__q", graft.operators.Similarity.quantizeInt8(col("embedding")))
        .select(col("vec_id"), col("__q.mn").as("mn"), col("__q.mx").as("mx"),
          concat_ws(",", expr("transform(__q.codes, c -> cast(c as string))"))
            .as("codes"))),

    // --- SemDeDup past the literal-centroid ceiling: k=4096 clusters
    //     (the paper's regime is k≈10k–50k — far past any sane plan-
    //     literal budget), so assignment runs as a BROADCAST centroid-
    //     table join + partial-agg argmin instead of inlined literals
    //     (plan-asserted in PlanSpec). Fixture: each of the 500
    //     embeddings expands to 16 exact clones (dim sliced to 16 to
    //     keep the DuckDB oracle's 33M-cosine argmax affordable);
    //     centroids = lowest 4096 ids. Every clone group must collapse
    //     to its lowest id (cosine 1.0 ties broken by centroid id —
    //     exercised 8000 times), natural cross-vector cosine ~0.5
    //     never prunes. ---
    "q143_semdedup_bigk" -> ((s, dir) => {
      val e = t(s, dir).embeddings
      val expanded = e
        .select(col("vec_id"), slice(col("embedding"), 1, 16).as("ev"),
          explode(sequence(lit(0), lit(15))).as("i"))
        .select((col("vec_id") * 16 + col("i")).as("vid"), col("ev"))
      graft.operators.Similarity.semDedup(expanded, "vid", "ev",
        k = 4096, tau = 0.9)
    }),

    // --- stream–stream RIGHT OUTER interval join (round 7; closes the
    //     family with q136 inner / q138 left-outer): every purchase
    //     survives, null-extended when no click preceded it within the
    //     interval. Unmatched RIGHT rows can only emit once the LEFT
    //     watermark proves no matching click can still arrive. Unlike
    //     q138/q145 (whose sentinel arrives in a SECOND query run, so
    //     outer state must survive a checkpoint restart), the sentinel
    //     here is appended to the source up front: batch 0 emits the
    //     inner matches and lifts the watermark past every real
    //     interval, and AvailableNow's no-data batch flushes the
    //     null-extended rows — one query lifetime, half the replay
    //     cost (r9 probe: 4.1 s -> 2.7 s warm; restart-flush coverage
    //     stays with q138/q145). Store parallelism sized to the replay
    //     (4 partitions x 4 join stores). ---
    "q144_stream_right_outer_join" -> ((s, dir) => {
      val tmp = workDir("graft_stream_q144_")
      val src = s"$tmp/src"; val sink = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
      Fixtures.linkParquet(Fixtures.events(s, dir), src, "ev_")
      Fixtures.linkParquet(Fixtures.sentinel(s, dir), src, "sn_")
      val ss = graft.streaming.EventsStreaming.replaySession(s, 4)
      val clicks = graft.streaming.EventsStreaming.readEvents(ss, src)
        .filter(col("event_type").isin("click", "__sentinel"))
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
          col("user_id").as("click_user"))
      val buys = graft.streaming.EventsStreaming.readEvents(ss, src)
        .filter(col("event_type").isin("purchase", "__sentinel"))
        .select(col("event_id").as("buy_id"), col("ts").as("buy_ts"),
          col("user_id"), col("value"))
      val q = graft.streaming.EventsStreaming.streamIntervalJoin(
          clicks, buys, "click_user", "user_id", "click_ts", "buy_ts",
          within = "30 minutes", joinType = "right_outer")
        .select(col("click_id"), col("buy_id"), col("user_id").as("buy_user"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("value_cents"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // null-safe: click_id IS null on unmatched rows; <=> keeps them
      s.read.parquet(sink)
        .filter(!(col("click_id") <=> lit(-1L)) && !(col("buy_id") <=> lit(-1L)))
    }),

    // --- stream–stream FULL OUTER interval join (round 7): unmatched
    //     rows of BOTH sides flush at the sentinel; matched rows carry
    //     both ids. user_id coalesces across sides so every row has
    //     its key. ---
    "q145_stream_full_outer_join" -> ((s, dir) =>
      outerJoinReplay(s, dir, "full_outer")),

    // --- CHAINED stateful streaming operators (round 8): dedup-
    //     within-watermark FEEDING a windowed aggregation in ONE
    //     query — Spark's multi-stateful-operator support, the shape
    //     real event pipelines need (exactly-once counts over an
    //     at-least-once source). The fixture lands in the source
    //     TWICE, so every event arrives duplicated; the dedup stage
    //     must suppress re-emits so the window counts each event
    //     exactly once; the sentinel pushes the watermark past every
    //     real window. Sink must equal batch DISTINCT -> hourly
    //     counts, which DuckDB recomputes. ---
    "q151_stream_dedup_agg" -> ((s, dir) => {
      val out = dedupAggReplay(s, dir)
      // fixture contract (r9 ADVICE): the stream dedups on event_id
      // alone (keep-first) while the oracle dedups on the DISTINCT
      // (event_id, ts, event_type) triple — equivalent ONLY while
      // event_id determines the row, so assert that instead of
      // relying on it silently (1-row scalar, fails loudly if a
      // regenerated fixture ever reuses ids)
      val ambiguous = t(s, dir).events.groupBy(col("event_id"))
        .agg(countDistinct(col("ts"), col("event_type")).as("nv"))
        .filter(col("nv") > 1).limit(1).count()
      require(ambiguous == 0L, "q151 fixture contract violated: an event_id " +
        "maps to multiple (ts, event_type) rows; keep-first stream dedup " +
        "would diverge from the DISTINCT-triple oracle")
      out
    }),

    // --- SemDeDup with per-cluster banded RP-LSH pruning (round 7):
    //     the hot-semantic-cluster fallback as a first-class operator.
    //     Same fixture/centroid rule as q143; exact clones collide in
    //     EVERY band (recall 1 on identical vectors) and natural
    //     cross-vector cosine (~0.5 at dim 16) never reaches tau=0.9,
    //     so the verdict set is deterministic and equals the exact
    //     pair-join's — which is what the q143-shaped oracle checks. ---
    "q147_semdedup_lsh" -> ((s, dir) => {
      val e = t(s, dir).embeddings
      val expanded = e
        .select(col("vec_id"), slice(col("embedding"), 1, 16).as("ev"),
          explode(sequence(lit(0), lit(15))).as("i"))
        .select((col("vec_id") * 16 + col("i")).as("vid"), col("ev"))
      graft.operators.Similarity.semDedupLsh(expanded, "vid", "ev",
        k = 4096, tau = 0.9, planes = 10, bands = 4)
    }),

    // --- exact-substring dedup as SPANS (Lee et al. 2022; round 7 —
    //     closes the "q137 is a frequency proxy" gap): all maximal
    //     token-aligned verbatim overlaps >= 8 tokens between doc
    //     pairs, as (pair, 1-based start offsets, token length).
    //     Window-fingerprint equality has EXACT recall on aligned
    //     overlaps; candidates only meet inside equal-fingerprint
    //     buckets; spans chain per (pair, diagonal) — shuffle sized by
    //     true matches. The oracle replays it from the window STRINGS
    //     (the engine's xxhash64 is internal only). ---
    "q146_verbatim_spans" -> ((s, dir) =>
      graft.operators.Dedup.verbatimSpans(
        t(s, dir).documents, "doc_id", "text", minLen = 8, maxDocFreq = 50)),

    // --- exact-substring dedup COMPLETED (round 8): detect AND REMOVE
    //     (Lee et al. cut one copy of every duplicated span; q146 is
    //     the detect half). Min-id keeps its copy; the id2-side
    //     occurrence is cut. Interval UNION per doc (islands over a
    //     per-doc window, span-count-sized), ONE left join of docs
    //     against bounded cut lists, per-row HOF rebuild. The oracle
    //     recomputes coverage INDEPENDENTLY (position-set anti-join,
    //     no interval merge), so an island-merge bug cannot self-
    //     confirm. ---
    "q148_span_removal" -> ((s, dir) =>
      graft.operators.Dedup.removeVerbatimSpans(
        t(s, dir).documents, "doc_id", "text", minLen = 8, maxDocFreq = 50)),

    // --- EXACT heavy hitters via Misra-Gries candidates + one exact
    //     verify pass (round 8): no vocabulary-sized shuffle — per-
    //     partition MG summaries (<= capacity counters), candidate
    //     union broadcast to a verify join that recounts exactly.
    //     minCount*capacity > N is require'd, so recall is a THEOREM
    //     (averaging argument), not a hope; the oracle is the plain
    //     exact GROUP BY HAVING. ---
    "q149_heavy_hitters" -> ((s, dir) =>
      graft.operators.TextAnalysis.heavyHitters(
        t(s, dir).documents, "text", minCount = 500L, capacity = 1024)),

    // --- heavy-hitter 4-grams by TOTAL count (round 8): the
    //     boilerplate detector — q137 measures doc-frequency, this
    //     measures MASS (a license header repeated 1000x in one doc
    //     is invisible to doc-frequency). Same MG-then-exact-verify
    //     machinery as q149; capacity 131072 keeps the recall theorem
    //     true through sf0.1 (255k grams < 3x131072). ---
    "q152_hot_ngrams" -> ((s, dir) =>
      graft.operators.TextAnalysis.hotNgrams(
        t(s, dir).documents, "text", n = 4, minCount = 3L, capacity = 131072)),

    // --- GROUP ... USING 'collected' (round 9): Pig's map-side group
    //     over collectable input, honored (not ignored): the input is
    //     a table bucketed by the group key loaded through the catalog
    //     route (HCatLoader analogue), so the aggregate needs ZERO
    //     Exchange — the compiler verifies the contract via a probe
    //     plan and refuses loudly on unclustered input. ---
    "q153_group_collected" -> ((s, dir) => {
      // drop BOTH the catalog entry and any stale warehouse location a
      // previous JVM left (in-memory catalog cannot see it — q113's
      // pattern; missing here, this flaked LOCATION_ALREADY_EXISTS on
      // every fresh-JVM rerun)
      s.sql("DROP TABLE IF EXISTS q153_lineitem_b")
      locally {
        val p = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), "q153_lineitem_b")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      t(s, dir).lineitem.select(col("l_orderkey"), col("l_linenumber"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("q153_lineitem_b")
      graft.pig.PigScript.query(s,
        """L = LOAD 'q153_lineitem_b' USING hcatloader;
           G = GROUP L BY l_orderkey USING 'collected';
           A = FOREACH G GENERATE group AS l_orderkey,
               SUM(L.l_linenumber) AS sum_ln, COUNT_STAR(L) AS n_items;""",
        Map.empty)
    }),

    // --- IVF-PQ ANN (round 9; Jégou et al. TPAMI 2011): coarse fitted
    //     centroids route cells, candidates score by m=16 CODE IDS
    //     (ADC) instead of vectors — the corpus-sized shuffle moves
    //     code bytes, not embeddings — then the bounded refine re-ranks
    //     the ADC shortlist exactly. Recall-invariant oracle like q54:
    //     RecallProbe r9 (a probe main deleted after commit 71395f2)
    //     measured this operating point (m16/c256,
    //     nProbe 12/16, refine 4) at 1.00 / 1.00 / 0.94 recall on
    //     sf0.001 / sf0.01 / sf0.1; pinned ≥0.9. Every stage is
    //     deterministic (hash-ordered samples, lowest-index ties), so
    //     the floor holds exactly, not probabilistically. ---
    "q154_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir).embeddings
      val truth = graft.operators.Similarity.bruteForceTopK(
          corpus = emb, queries = emb.filter(col("vec_id") % 100 === 0),
          corpusId = "vec_id", queryId = "vec_id", vecCol = "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      recallAtLeast90(truth, annServe(s, dir))
    }),

    // --- HLL mergeable-sketch distinct (round 9; Datasketches HLL via
    //     Spark's hll_* functions): the 100 TB distinct-count shape —
    //     per-shard sketches merge ASSOCIATIVELY (partial aggregation,
    //     re-aggregation across days/partitions) where countDistinct
    //     re-shuffles raw keys. The query pins BOTH contracts: the
    //     estimate lands within 5% of exact (lgK=12 ⇒ ~1.6% rse;
    //     measured ≤1.3% at all three SFs), and the sharded-sketch
    //     union lands within the same 5% (register-max union is
    //     exactly lossless once dense — measured bit-identical at
    //     sf0.1 — while sparse-mode coupon promotion can differ from
    //     the one-shot sketch by <1%, so exact equality is NOT the
    //     contract). Deterministic: same input ⇒ same sketch. ---
    "q155_hll_distinct" -> ((s, dir) => {
      val li = t(s, dir).lineitem
      val oneShot = li.groupBy(col("l_returnflag")).agg(
        hll_sketch_estimate(hll_sketch_agg(col("l_orderkey"), lit(12))).as("est"),
        countDistinct(col("l_orderkey")).as("exact_distinct"))
      val merged = li.withColumn("__sh", col("l_orderkey") % 8)
        .groupBy(col("l_returnflag"), col("__sh"))
        .agg(hll_sketch_agg(col("l_orderkey"), lit(12)).as("sk"))
        .groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_m"))
      oneShot.join(merged, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_distinct"),
          (abs(col("est") - col("exact_distinct"))
            <= col("exact_distinct") * lit(0.05)).as("within_5pct"),
          (abs(col("est_m") - col("exact_distinct"))
            <= col("exact_distinct") * lit(0.05)).as("merge_within_5pct"))
    }),

    // --- Count-Min sketch token frequencies (round 9): the third
    //     mergeable-sketch family member (HLL q155 = distinct, CMS =
    //     frequency). Per-shard sketches ADD counter-wise (same
    //     seed/width/depth), so merged estimates are BIT-equal to the
    //     one-shot sketch — partial aggregation and cross-day
    //     re-aggregation at 100 TB without reshuffling tokens. The
    //     oracle pins real content: exact probe-token counts (DuckDB
    //     recomputes them), the never-underestimate theorem, the
    //     ε·N overestimate bound, and merge exactness. ---
    "q160_cms_freq" -> ((s, dir) => {
      import org.apache.spark.util.sketch.CountMinSketch
      val toks = t(s, dir).documents
        .select(explode(graft.operators.Dedup.tokens(col("text"))).as("tok"))
      val eps = 0.001; val conf = 0.99; val seed = 42
      val oneShot = CountMinSketch.readFrom(toks
        .agg(count_min_sketch(col("tok"), lit(eps), lit(conf), lit(seed)).as("sk"))
        .collect()(0).getAs[Array[Byte]](0))
      val merged = t(s, dir).documents
        .withColumn("__sh", col("doc_id") % 8)
        .select(col("__sh"), explode(graft.operators.Dedup.tokens(col("text"))).as("tok"))
        .groupBy(col("__sh"))
        .agg(count_min_sketch(col("tok"), lit(eps), lit(conf), lit(seed)).as("sk"))
        .collect().map(r => CountMinSketch.readFrom(r.getAs[Array[Byte]]("sk")))
        .reduce { (a, b) => a.mergeInPlace(b); a }
      val n = toks.count()
      val probes = Seq("batch", "scan", "join", "zzz_not_a_token")
      val exact = toks.filter(col("tok").isin(probes: _*))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .as[(String, Long)](org.apache.spark.sql.Encoders.product[(String, Long)])
        .collect().toMap
      val rows = probes.map { p =>
        val ex = exact.getOrElse(p, 0L)
        val est = oneShot.estimateCount(p)
        (p, ex,
          est >= ex,                            // CMS never underestimates
          est <= ex + math.ceil(eps * n).toLong, // ε·N overestimate bound
          est == merged.estimateCount(p))        // counter-additive merge
      }
      import s.implicits._
      rows.toDF("tok", "exact_cnt", "never_under", "within_eps", "merge_exact")
    }),

    // --- mergeable approx-percentile sketch contract (round 9): q58
    //     pins exact percentiles; this pins the SKETCH path
    //     (approx_percentile = mergeable quantile summaries — the
    //     shape that re-aggregates across partitions/days). The
    //     guarantee is RANK error, not value error: the number of
    //     rows below the estimate must sit within ε·N of the target
    //     rank. Computed Spark-side; the oracle pins n + the bounds. ---
    "q161_approx_quantile" -> ((s, dir) => {
      val li = t(s, dir).lineitem
      val n = li.count()
      val acc = 100 // accuracy parameter => rank error <= N/acc = 1%·N
      val ps = li.agg(percentile_approx(col("l_quantity"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(acc)).as("p")).collect()(0)
        .getSeq[Double](0)
      // ties matter: l_quantity is discrete (~50 values), so a single
      // value can own 2% of all rows. The sketch's guarantee is that
      // the returned VALUE's rank interval [count(<est), count(<=est)]
      // intersects [qN - eN, qN + eN] — count(<=) alone overshoots by
      // a whole tie block and fails spuriously on duplicate-heavy data
      def rankOk(est: Double, q: Double): Boolean = {
        val lt = li.filter(col("l_quantity") < lit(est)).count()
        val le = li.filter(col("l_quantity") <= lit(est)).count()
        val slack = math.ceil(n.toDouble / acc).toLong
        le >= math.floor(q * n).toLong - slack &&
          lt <= math.ceil(q * n).toLong + slack
      }
      import s.implicits._
      Seq((n, rankOk(ps(0), 0.5), rankOk(ps(1), 0.9), rankOk(ps(2), 0.99)))
        .toDF("n_rows", "p50_rank_ok", "p90_rank_ok", "p99_rank_ok")
    }),

    // --- deterministic training export + manifest (round 9): write
    //     the corpus as md5-nibble shards, then the manifest derives
    //     from the READ-BACK files while the oracle recomputes the
    //     same per-shard stats from the SOURCE table + shard rule —
    //     a hash match proves the export is complete (no doc lost or
    //     duplicated, every doc in its assigned shard). ---
    "q162_export_manifest" -> ((s, dir) => {
      val out = workDir("graft_export_q162_")
      graft.operators.TrainingPipeline.exportShards(
        t(s, dir).documents, "doc_id", "text", nShards = 8, outDir = s"$out/shards")
    }),

    // --- the CAPSTONE composition (round 9): DSIR selection → hard
    //     per-lang token budgets → sharded export with a completeness
    //     manifest, as ONE dataflow — the "make a training mix" recipe
    //     the individual operators exist for, under a single
    //     differential oracle that replays every stage (q156's weight
    //     CTEs, q150's budget window, q162's manifest stats) in SQL.
    //     Threshold 4e7 keeps ~52–58 % of docs at every SF (measured);
    //     every stage is deterministic, so the composed manifest is
    //     hash-exact. ---
    "q164_curate_mix_export" -> ((s, dir) => {
      val docs = t(s, dir).documents
      val iw = graft.operators.TrainingPipeline.importanceWeights(
        docs, docs.filter(col("lang") === "en"), "doc_id", "text")
      val kept = docs.join(iw, Seq("doc_id"))
        .filter(col("iw") >= lit(40000000L))
        .select(col("doc_id"), col("lang"), col("text"))
      val budgeted = graft.operators.TrainingPipeline.tokenBudgetSample(
        kept, "lang", "doc_id", "text",
        budgets = Map("en" -> 5000L), defaultBudget = 2500L)
      val out = workDir("graft_mix_q164_")
      graft.operators.TrainingPipeline.exportShards(
        budgeted.select(col("doc_id")).join(docs, Seq("doc_id"))
          .select(col("doc_id"), col("text")),
        "doc_id", "text", nShards = 8, outDir = s"$out/shards")
    }),

    // --- CCNet-style passage dedup (round 10; Wenzek et al. 2020):
    //     fixed 10-token passages, ONE global keeper per distinct
    //     passage (min (doc, idx)), docs rebuilt from survivors.
    //     Keeper election is a combiner-friendly MIN aggregate (a
    //     boilerplate passage contributes one row per task to the
    //     shuffle, not one per occurrence) — NOT a row_number window.
    //     The oracle replays the same keep-first rule with a window,
    //     so the two formulations check each other. ---
    "q165_chunk_dedup" -> ((s, dir) =>
      graft.operators.Dedup.chunkDedup(
        t(s, dir).documents, "doc_id", "text", chunkTokens = 10)),

    // --- incremental aggregate maintenance (round 10): the algebraic
    //     partial-state contract behind Pig's Algebraic interface,
    //     surfaced as a maintainable rollup — state(base) folded with
    //     an insert-only delta must equal the full recompute, which is
    //     exactly what the oracle computes (it never sees the split).
    //     Exact DECIMAL sums make the merge order immaterial. ---
    "q166_incremental_agg" -> ((s, dir) => {
      val li = t(s, dir).lineitem
      val keys = Seq("l_returnflag", "l_linestatus")
      val measures = Seq("qty" -> col("l_quantity"), "price" -> col("l_extendedprice"))
      val base  = li.filter(col("l_orderkey") % 10 =!= 0)
      val delta = li.filter(col("l_orderkey") % 10 === 0)
      graft.operators.Incremental.finalizeState(
        graft.operators.Incremental.applyDelta(
          graft.operators.Incremental.aggState(base, keys, measures),
          delta, keys, measures))
    }),

    // --- MERGE upsert (round 10): the Delta/Iceberg `MERGE INTO`
    //     dataflow — a CDC change set (updates + inserts + deletes,
    //     provably key-unique) reconciled into a base table with ONE
    //     full-outer join. Change presence is a carried literal, not
    //     value nullability, so a change may legitimately SET null.
    //     The oracle replays the merge as SQL set logic. ---
    "q175_merge_upsert" -> ((s, dir) => {
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))
      val upd = cust.filter(col("k") % 7 === 0 && col("k") % 11 =!= 0)
        .select(col("k"), upper(col("name")).as("name"),
          (col("bal") + 1000).as("bal"), lit(false).as("del"))
      val ins = cust.filter(col("k") % 13 === 0)
        .select((col("k") + 1000000).as("k"),
          concat(lit("new_"), col("k").cast("string")).as("name"),
          lit(0.0).as("bal"), lit(false).as("del"))
      val dels = cust.filter(col("k") % 11 === 0).withColumn("del", lit(true))
      graft.operators.Incremental.mergeUpsert(
        cust, upd.unionByName(ins).unionByName(dels), Seq("k"),
        deleteCol = Some("del"))
    }),

    // --- Point-in-time join (round 10): the feature-store rule —
    //     each order is enriched with the customer VERSION valid at
    //     its own order date (joining current attrs onto old facts
    //     leaks the future). History built by scd2Apply (change at
    //     1998-01-01: %3 keys renamed/re-balanced), orders 1995–2001
    //     straddle it, so both versions surface. Equi-join on the key
    //     + interval residual — never a range-only join. ---
    "q190_pit_join" -> ((s, dir) => {
      val cust = t(s, dir).customer.select(col("c_custkey").as("o_custkey"),
        col("c_name").as("cust_name"), col("c_acctbal").as("cust_bal"))
      val hist0 = cust
        .withColumn("valid_from", lit(java.sql.Timestamp.valueOf("1990-01-01 00:00:00")))
        .withColumn("valid_to", lit(null).cast("timestamp"))
      val ch = cust.filter(col("o_custkey") % 3 === 0)
        .select(col("o_custkey"), upper(col("cust_name")).as("cust_name"),
          (col("cust_bal") + 500).as("cust_bal"))
      val hist = graft.operators.Incremental.scd2Apply(hist0, ch,
        Seq("o_custkey"), java.sql.Timestamp.valueOf("1998-01-01 00:00:00"))
      graft.operators.Incremental.pitJoin(
        t(s, dir).orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate")),
        hist, Seq("o_custkey"), "o_orderdate")
    }),

    // --- ANN index persistence (round 11): train ONCE, serve many —
    //     coarse centroids, PQ codebooks, and the encoded corpus land
    //     as parquet with a manifest commit marker (written last, so
    //     a crashed save refuses to load instead of serving torn
    //     neighbors). A FRESH session reloads the cached index and
    //     serves the SAME answer as q154's in-memory query path under
    //     the stored model — require()'d row-exact in-entry, scores
    //     included — and the model survives a save and reload
    //     bit-identical; the emitted result is the served path's
    //     recall vs brute-force truth (the q154 contract). ---
    "q191_ann_index_persist" -> ((s, dir) => {
      import graft.operators.{AnnIndex, Similarity}
      // a fresh session: nothing survives but the on-disk artifacts
      val served = annIndexServe(s.newSession(), dir)
        .select(col("query_id"), col("neighbor_id"), col("score"))
      val emb = t(s, dir).embeddings
      val qs = emb.filter(col("vec_id") % 100 === 0)
      val loaded = AnnIndex.load(s, Fixtures.annIndex(s, dir))
      val inMem = Similarity.ivfPqTopK(
          corpus = emb, queries = qs, corpusId = "vec_id", queryId = "vec_id",
          vecCol = "embedding", k = 5, centroids = centroidsDf(s, loaded.cents),
          pq = loaded.pq, nProbe = 12, refine = 4)
        .select(col("query_id"), col("neighbor_id"), col("score"))
      require(served.exceptAll(inMem).isEmpty && inMem.exceptAll(served).isEmpty,
        "q191: the reloaded index must serve the in-memory answer " +
          "row-for-row, exact scores included")
      // the model round-trips: saved afresh and reloaded in a fresh
      // session, it is bit-identical to the one it was saved from
      val idx = workDir("graft_annidx_q191_") + "/idx"
      AnnIndex.save(s, idx, emb, "vec_id", "embedding",
        centroidsDf(s, loaded.cents), loaded.pq)
      val again = AnnIndex.load(s.newSession(), idx)
      def books(pq: graft.plans.PqCodebooks) =
        (pq.subDim, pq.codes.map(_.map(_.toSeq).toSeq).toSeq)
      require(again.cents == loaded.cents && books(again.pq) == books(loaded.pq),
        "q191: a saved and reloaded model must equal the model saved")
      val truth = Similarity.bruteForceTopK(
          corpus = emb, queries = qs, corpusId = "vec_id", queryId = "vec_id",
          vecCol = "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      recallAtLeast90(truth, served)
    }),

    // --- Streaming ANN-index ingest (round 11): new vectors arrive
    //     via Structured Streaming and are PQ-encoded under the
    //     index's persisted, FROZEN model exactly once
    //     (overwrite-own-directory batch dirs; restart + no-new-data
    //     replays probed in-entry after the timed one-drain ingest),
    //     landing as codes_delta/ that AnnIndex.load unions into the
    //     serving scan — index ingest without a rebuild. Served top-k
    //     over base+delta is require()'d row-identical to the
    //     in-memory path over the FULL corpus under the same models. ---
    "q197_ann_stream_ingest" -> ((s, dir) => {
      import graft.operators.{AnnIndex, Similarity}
      val served = annIngestServe(s, dir)
        .select(col("query_id"), col("neighbor_id"), col("score"))
      // the exactly-once probes of the q173/q180 discipline, on a
      // second copy of the base index: the delta in two chunks with a
      // RESTART between, then a no-new-data rerun
      val emb = t(s, dir).embeddings
      val newRows = emb.filter(col("vec_id") % 10 === 0)
      val tmp = workDir("graft_annstream_q197_")
      val (_, ingest) = annIngestSetup(s, dir, tmp)
      newRows.filter(col("vec_id") % 20 === 0)
        .coalesce(1).write.mode("append").parquet(s"$tmp/src")
      ingest()
      newRows.filter(col("vec_id") % 20 =!= 0)
        .coalesce(1).write.mode("append").parquet(s"$tmp/src")
      ingest()
      ingest()
      val loaded = AnnIndex.load(s, s"$tmp/idx")
      require(loaded.codes.count() == emb.count(),
        "q197: base + streamed deltas must equal the full corpus " +
          "(no duplicate or lost ingests)")
      require(loaded.codes.groupBy(col("vec_id")).count()
        .filter(col("count") > 1).limit(1).count() == 0L,
        "q197: a vector was ingested twice")
      val qs = emb.filter(col("vec_id") % 100 === 0)
      val inMem = Similarity.ivfPqTopK(emb, qs, "vec_id", "vec_id",
          "embedding", k = 5, centroidsDf(s, loaded.cents), loaded.pq,
          nProbe = 14, refine = 6)
        .select(col("query_id"), col("neighbor_id"), col("score"))
      val chunked = annIngestTopK(loaded, emb)
        .select(col("query_id"), col("neighbor_id"), col("score"))
      Seq(served, chunked).foreach { got =>
        require(got.exceptAll(inMem).isEmpty && inMem.exceptAll(got).isEmpty,
          "q197: serving over base+delta must equal the in-memory path " +
            "over the full corpus")
      }
      val truth = Similarity.bruteForceTopK(
          corpus = emb, queries = qs, corpusId = "vec_id",
          queryId = "vec_id", vecCol = "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      recallAtLeast90(truth, served)
    }),

    // --- File-granular MERGE commits (round 12): manifests list the
    //     exact live file set per version, so a keyed MERGE rewrites
    //     ONLY the files containing matched keys and shares the rest
    //     by reference — whole-table rewrites per version are the
    //     r11 design's scale killer (1% daily churn on 100 TB must
    //     not write 100 TB). Receipts require()'d from the commit's
    //     own byte accounting: churn bytes < 5% of table bytes,
    //     touched files a strict subset, a stale delta loses its CAS
    //     loudly, and v0 time-travels back exactly. The oracle
    //     replays update+insert then delete over the raw table. ---
    "q198_file_granular_merge" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_fgm_q198_") + "/t"
      // per-order rollup (synthetic lineitem has no unique natural
      // key), range-clustered on k1 so keyed churn is file-local —
      // the layout any lakehouse table carries for merge-heavy use
      val li = t(s, dir).lineitem.groupBy(col("l_orderkey").as("k1"))
        .agg(sum(col("l_quantity").cast(org.apache.spark.sql.types
          .DecimalType(18, 2))).as("qty"))
        .repartitionByRange(64, col("k1")).sortWithinPartitions("k1")
      require(VersionedTable.commit(s, vt, li, -1L, "loader") == 0L)
      val cur0 = VersionedTable.read(s, vt)
      val qtyT = cur0.schema("qty").dataType
      // churn leg 1: update the lowest ~2% of the key range + insert
      // sparse new keys (the oracle replays the same arithmetic)
      val thr = math.floor(t(s, dir).lineitem
        .agg(max(col("l_orderkey"))).collect()(0).getLong(0) / 50.0).toLong
      val ch1 = cur0.filter(col("k1") <= thr)
        .select(col("k1"), (col("qty") + 100).cast(qtyT).as("qty"))
        .unionByName(cur0.filter(col("k1") % 1009 === 0)
          .select((col("k1") + 100000000L).as("k1"),
            lit(1.00).cast(qtyT).as("qty")))
      val st1 = VersionedTable.merge(s, vt, ch1, Seq("k1"), 0L, "merger")
      require(st1.version == 1L)
      require(st1.bytesAdded * 20 < st1.bytesTable,
        s"q198: a ~2%-churn MERGE must write <5% of the table's bytes " +
          s"(wrote ${st1.bytesAdded} of ${st1.bytesTable})")
      require(st1.filesRemoved * 8 <= st1.filesTotal,
        s"q198: churn must touch a strict file subset " +
          s"(${st1.filesRemoved} of ${st1.filesTotal})")
      // a concurrent writer's STALE delta (planned against v0 after
      // v1 landed) must lose its CAS loudly, never tear the table
      val conflicted =
        try { VersionedTable.merge(s, vt, ch1, Seq("k1"), 0L, "stale"); false }
        catch { case _: VersionedTable.CommitConflict => true }
      require(conflicted, "q198: a stale merge must raise CommitConflict")
      // churn leg 2: a delete-merge, also file-granular
      val cur1 = VersionedTable.read(s, vt)
      val ch2 = cur1.filter(col("k1") % 701 === 0)
        .withColumn("__del", lit(true))
      val st2 = VersionedTable.merge(s, vt, ch2, Seq("k1"),
        VersionedTable.latestVersion(s, vt), "merger",
        deleteCol = Some("__del"))
      require(st2.version == 2L)
      // time travel: v0 still reads exactly through its manifest
      val v0 = VersionedTable.readVersion(s, vt, 0L)
      require(v0.exceptAll(cur0).isEmpty && cur0.exceptAll(v0).isEmpty,
        "q198: version 0 must remain exactly the loaded base")
      VersionedTable.read(s, vt)
        .groupBy((col("k1") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), dsum2(col("qty")).as("qty_sum"))
    }),

    // --- ANN index lifecycle capstone (round 12): publish → stream
    //     ingest → tombstoned delete → compact → serve, all through
    //     the atomic generation log. Receipts require()'d in-entry:
    //     deleted ids vanish from serving, compaction changes NO
    //     served answer (row-exact, scores included), and the
    //     compacted index serves exactly what a FRESH build over the
    //     current corpus under the same frozen models would — the
    //     fold is lossless, not approximately so. The oracle pins the
    //     deterministic truth size + recall floor (q191 contract). ---
    "q199_ann_index_compact" -> ((s, dir) => {
      import graft.operators.{AnnIndex, Similarity}
      val emb = t(s, dir).embeddings
      val base = emb.filter(col("vec_id") % 10 =!= 0)
      val newRows = emb.filter(col("vec_id") % 10 === 0)
      // the frozen model of q197's cached base index (the same fit)
      val model = AnnIndex.load(s, s"${annBaseIndex(s, dir)}/idx")
      val tmp = workDir("graft_anncomp_q199_")
      val root = s"$tmp/idx"
      require(AnnIndex.savePublished(s, root, base, "vec_id", "embedding",
        centroidsDf(s, model.cents), model.pq) == 0L)
      // stream the 10% in under the frozen model (the q197 discipline)
      newRows.coalesce(1).write.mode("append").parquet(s"$tmp/src")
      graft.streaming.CurationStreaming.annIngestStream(
        graft.streaming.EventsStreaming.replaySession(s),
        s"$tmp/src", root, s"$tmp/ckpt", "embedding", newRows.schema)
      // tombstone ids straddling base and delta
      require(AnnIndex.deleteIds(s, root,
        emb.filter(col("vec_id") % 9 === 0).select(col("vec_id"))) > 0L)
      val corpus = emb.filter(col("vec_id") % 9 =!= 0)
      val qs = emb.filter(col("vec_id") % 100 === 0)
      def serve(l: AnnIndex.Loaded) =
        AnnIndex.topK(l, qs, "vec_id", "embedding", k = 5, nProbe = 14,
            refine = 6, exactCorpus = Some(corpus))
          .select(col("query_id"), col("neighbor_id"), col("score"))
      val pre = serve(AnnIndex.load(s, root))
      require(pre.join(emb.filter(col("vec_id") % 9 === 0)
          .select(col("vec_id").as("neighbor_id")), Seq("neighbor_id"),
          "left_semi").limit(1).count() == 0L,
        "q199: a tombstoned id must never be served as a neighbor")
      require(AnnIndex.compact(s, root) == 1L)
      val post = serve(AnnIndex.load(s, root))
      require(post.exceptAll(pre).isEmpty && pre.exceptAll(post).isEmpty,
        "q199: compaction changed a served answer")
      // fresh build over the CURRENT corpus under the same models ==
      // the compacted index, exactly
      val loadedModels = AnnIndex.load(s, root)
      val freshDir = s"$tmp/fresh"
      AnnIndex.save(s, freshDir, corpus, "vec_id", "embedding",
        centroidsDf(s, loadedModels.cents), loadedModels.pq)
      val fresh = serve(AnnIndex.load(s, freshDir))
      require(fresh.exceptAll(post).isEmpty && post.exceptAll(fresh).isEmpty,
        "q199: compacted serving diverged from a fresh build over the " +
          "current corpus under the same models")
      require(AnnIndex.expireGenerations(s, root, keep = 2).isEmpty)
      val truth = Similarity.bruteForceTopK(
          corpus = corpus, queries = qs, corpusId = "vec_id",
          queryId = "vec_id", vecCol = "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
      recallAtLeast90(truth, post)
    }),

    // --- Byte-level BPE (round 12): train/encode over UTF-8 bytes —
    //     the 256-symbol base alphabet every production tokenizer
    //     (GPT-2/tiktoken lineage) uses, because a byte vocabulary
    //     can never hit an unknown symbol. Implementation rides the
    //     existing string machinery via the Latin-1 trick (UTF-8
    //     bytes re-read as Latin-1 chars, injective both ways).
    //     In-entry receipts: on this PURE-ASCII corpus (premise
    //     require()'d) byte mode and code-point mode train the
    //     IDENTICAL merge sequence; the per-job and incremental
    //     trainers agree in byte mode; a non-ASCII fixture diverges
    //     between modes (bytes of 'é' merge before 'é' pairs do);
    //     byte-encode round-trips every distinct token through
    //     bpeDecodeBytes losslessly; save/load persists the MODE
    //     (serving with the wrong alphabet is a silently different
    //     tokenizer — refused by construction). ---
    "q200_bpe_byte_level" -> ((s, dir) => {
      import graft.operators.TextAnalysis
      val docs = t(s, dir).documents
      require(docs.filter(col("text").rlike("[^\\x00-\\x7F]"))
        .limit(1).count() == 0L,
        "q200 premise drifted: synthetic documents must be pure ASCII")
      val (mB, _, _) = TextAnalysis.bpeTrainIncremental(docs, "text",
        nMerges = 256, byteLevel = true)
      val (mC, _, _) = TextAnalysis.bpeTrainIncremental(docs, "text",
        nMerges = 256)
      require(mB.map(m => (m.left, m.right, m.count)) ==
        mC.map(m => (m.left, m.right, m.count)),
        "q200: on ASCII text the byte and code-point alphabets coincide " +
          "— the two modes must train identical merges")
      val (m8, _) = TextAnalysis.bpeTrain(docs, "text", nMerges = 8,
        byteLevel = true)
      require(mB.take(8).map(m => (m.left, m.right, m.count)) ==
        m8.map(m => (m.left, m.right, m.count)),
        "q200: byte-mode incremental trainer diverged from the per-job one")
      // non-ASCII: the modes MUST diverge ('é' is one code point but
      // two bytes, so byte mode merges its bytes first)
      val uni = { import s.implicits._; Seq("éé éé ab ab").toDF("text") }
      val (uB, _, _) = TextAnalysis.bpeTrainIncremental(uni, "text",
        nMerges = 1, byteLevel = true)
      val (uC, _, _) = TextAnalysis.bpeTrainIncremental(uni, "text",
        nMerges = 1)
      require(uB.map(m => (m.left, m.right)) != uC.map(m => (m.left, m.right)),
        "q200: byte and code-point modes must diverge on non-ASCII text")
      require(uB.head.left.length == 1 && uB.head.left.charAt(0) <= 0xFF,
        "q200: byte-mode symbols must stay in the 0..255 alphabet")
      // byte-mode losslessness over every distinct token
      val bad = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("w")).distinct()
        .filter(TextAnalysis.bpeDecodeBytes(
          TextAnalysis.bpeEncode(col("w"), mB, byteLevel = true)) =!= col("w"))
        .limit(1).count()
      require(bad == 0L, "q200: byte-mode encode must round-trip losslessly")
      // the mode persists with the model
      val tmp = workDir("graft_bpe_q200_") + "/m"
      TextAnalysis.saveBpe(s, tmp, mB, byteLevel = true)
      val (mLoaded, loadedMode) = TextAnalysis.loadBpeWithMode(s, tmp)
      require(mLoaded == mB && loadedMode,
        "q200: the alphabet mode must round-trip with the saved model")
      docs.select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .agg(count(lit(1)).cast("long").as("n_tokens"))
        .select(col("n_tokens"), lit(true).as("byte_lossless"),
          lit(true).as("ascii_modes_agree"))
    }),

    // --- Scripting UDFs (round 12, VERDICT #7): the `REGISTER
    //     '<script>' USING <jsr223-lang> AS ns` surface oracle-checked
    //     end to end — through the textual front-end, with the
    //     built-in `toy` reference JSR-223 engine standing in for
    //     jython/graal (none ship in this sandbox). Same protocol a
    //     real engine jar takes: only (language, source) travels in
    //     the UDF closure, each executor thread instantiates its own
    //     engine, output types come from the script's declared
    //     graft_output_schemas (schema-less functions default to
    //     string, Pig's default-to-bytearray analogue). ---
    "q201_script_udf" -> ((s, dir) => {
      val udf = java.nio.file.Files.createTempFile("graft_q201_", ".toy")
      java.nio.file.Files.writeString(udf,
        """# schema: double_it double
          |def double_it(x) = x * 2
          |# schema: shout string
          |def shout(s) = s + "!"
          |# schema: add int
          |def add(a, b) = a + b
          |# schema: klen int
          |def klen(s) = len(s)
          |""".stripMargin)
      graft.pig.PigScript.queryResource(s, "/pig/q201_script_udf.pig",
        Map("DIR" -> dir, "UDF" -> udf.toString))
    }),

    // --- PigMix corpus (round 12, VERDICT #8): the reference
    //     lineage's public perf suite (SURVEY §5 item 5: PigMix
    //     L1–L17) re-shaped onto the testdata star schema and run as
    //     .pig scripts through the textual front-end. Each script
    //     exercises a parser/compiler COMBINATION no single q-entry
    //     composed before (explode→regroup, FR join over a filtered
    //     dim, nested multi-DISTINCT, COGROUP anti-join, SPLIT
    //     fan-out + union of branch summaries, merge join over sorted
    //     fixtures, nested top-k flatten, wide group keys), each
    //     under the DuckDB oracle. Scripts live in
    //     src/main/resources/pigmix/. ---
    "q202_pigmix_l01" -> pigmixQ("l01"),
    "q203_pigmix_l02" -> pigmixQ("l02"),
    "q204_pigmix_l03" -> pigmixQ("l03"),
    "q205_pigmix_l04" -> pigmixQ("l04"),
    "q206_pigmix_l05" -> pigmixQ("l05"),
    "q207_pigmix_l06" -> pigmixQ("l06"),
    "q208_pigmix_l07" -> pigmixQ("l07"),
    "q209_pigmix_l08" -> pigmixQ("l08"),
    "q210_pigmix_l09" -> pigmixQ("l09"),
    "q211_pigmix_l10" -> pigmixQ("l10"),
    "q212_pigmix_l11" -> pigmixQ("l11"),
    "q213_pigmix_l12" -> pigmixQ("l12"),
    // L12 multi-output variant (the reference's MultiQueryOptimizer,
    // SURVEY §4.2): every branch summary lands in its OWN sink; the
    // compiler's shared-scan policy persists the unsplit point so the
    // three STOREs pay ~one scan of events. The entry executes the
    // stores for real and answers from the read-back sinks.
    "q230_pigmix_l12_multistore" -> ((s, dir) => {
      val out = workDir("graft_mqo_q230_")
      val script = graft.pig.PigScript.resource("/pigmix/l12multi.pig")
      // the policy must pick the unsplit point — pinned here so a
      // regression in the frontier computation fails the query, not
      // just a spec
      require(graft.pig.PigCompiler.sharedScanAliases(
          graft.pig.PigParser.parseScript(
            graft.pig.PigPreprocessor(script,
              Map("DIR" -> dir, "OUT" -> out)))) == Set("E"),
        "q230: the shared-scan policy must cache the unsplit input E")
      graft.pig.PigScript.run(s, script,
        Map("DIR" -> dir, "OUT" -> out), executeStores = true)
      s.read.parquet(s"$out/err").unionByName(s.read.parquet(s"$out/buy"))
        .unionByName(s.read.parquet(s"$out/rest"))
    }),
    "q214_pigmix_l13" -> pigmixQ("l13"),
    // L14 (merge join) needs sorted-by-key inputs: the entry writes
    // both sides as range-partitioned, within-partition-sorted parquet
    // (the q122/q123 fixture discipline), then the script joins them
    // USING 'merge'
    "q215_pigmix_l14" -> ((s, dir) => {
      val tmp = workDir("graft_pigmix_merge_")
      val so = s"$tmp/orders_sorted"; val sl = s"$tmp/lineitem_sorted"
      t(s, dir).orders.select(col("o_orderkey"), col("o_orderstatus"))
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite").parquet(so)
      t(s, dir).lineitem
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(sl)
      graft.pig.PigScript.queryResource(s, "/pigmix/l14.pig",
        Map("SORTED_O" -> so, "SORTED_L" -> sl))
    }),
    "q216_pigmix_l15" -> pigmixQ("l15"),
    "q217_pigmix_l16" -> pigmixQ("l16"),
    "q218_pigmix_l17" -> pigmixQ("l17"),

    // --- PigMix VARIANTS (round-13 front-end hardening): corners the
    //     L1–L17 shapes don't reach — a macro-wrapped replicated join
    //     (hint survives expansion), a nested ORDER ... USING
    //     comparator via a DEFINE alias, and FLATTEN of a COMPUTED
    //     expression inside the nested block (typed by analyzing the
    //     per-element HOF, never a materialized probe). ---
    "q238_pigmix_l02macro" -> pigmixQ("l02macro"),
    "q239_pigmix_l16cmp" -> pigmixQ("l16cmp"),
    "q240_pigmix_l01flat" -> pigmixQ("l01flat"),

    // --- Data skipping over manifest stats (round 12): commits record
    //     per-file min/max from parquet footers (a distributed
    //     metadata job, never a data scan); a range read resolves its
    //     file list from ONE manifest read. Receipts require()'d
    //     in-entry: a ~2% key range on a clustered table prunes ≥ 7/8
    //     of the files, and the pruned read is row-exactly the full
    //     read's filter (skipping must never change an answer). ---
    "q219_data_skipping" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_skip_q219_") + "/t"
      val ord = t(s, dir).orders.select(col("o_orderkey").as("k"),
          col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, ord, -1L, "loader",
        statsCols = Some(Seq("k", "price")),
        clusterBy = Seq("k"), clusterFiles = 32) == 0L)
      val maxk = t(s, dir).orders.agg(max(col("o_orderkey")))
        .collect()(0).getLong(0)
      val lo = maxk / 4; val hi = lo + maxk / 50
      val bounds = Seq(VersionedTable.ColBound("k", Some(lo), Some(hi)))
      val (kept, total) = VersionedTable.prunedFiles(s, vt, 0L, bounds)
      require(kept.length * 8 <= total,
        s"q219: a ~2% key range on a clustered table must skip >= 7/8 of " +
          s"its files (kept ${kept.length} of $total)")
      val pruned = VersionedTable.readWhere(s, vt, bounds)
        .filter(col("k").between(lo, hi))
      val full = VersionedTable.read(s, vt).filter(col("k").between(lo, hi))
      require(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
        "q219: skipping changed the answer")
      pruned
    }),

    // --- Z-order × data skipping capstone (round 12): a versioned
    //     table committed in Morton-interleaved layout makes every
    //     file a BOX in (k1, k2) space, so manifest stats prune on
    //     BOTH dimensions — the property a linear sort cannot give.
    //     Receipts: a ~10% band on EITHER single dimension skips >=
    //     half the files, the 2-D box skips >= 3/4, and every pruned
    //     read is row-exactly the full read's filter. Dimensions are
    //     range-normalized before interleave (uniform dense keys →
    //     fixed-point scaling; the general-distribution variant is
    //     Layout.zorderWriteNormalized's rankBy path). ---
    "q221_zorder_skipping" -> ((s, dir) => {
      import graft.operators.{Layout, VersionedTable}
      val vt = workDir("graft_zskip_q221_") + "/t"
      val o = t(s, dir).orders.select(col("o_orderkey").as("k1"),
        col("o_custkey").as("k2"), col("o_totalprice").as("price"))
      val Array(max1, max2) = o.agg(max(col("k1")), max(col("k2")))
        .collect()(0).toSeq.map(_.asInstanceOf[Long].max(1L)).toArray
      val B = 1L << 16
      val zed = o.withColumn("__z", Layout.zValue2(
          expr(s"(k1 * ${B}L) div ${max1 + 1}L"),
          expr(s"(k2 * ${B}L) div ${max2 + 1}L")))
        .repartitionByRange(64, col("__z")).sortWithinPartitions("__z")
        .drop("__z")
      require(VersionedTable.commit(s, vt, zed, -1L, "loader",
        statsCols = Some(Seq("k1", "k2"))) == 0L)
      def band(maxK: Long): (Long, Long) = (maxK * 2 / 5, maxK * 2 / 5 + maxK / 10)
      val (lo1, hi1) = band(max1); val (lo2, hi2) = band(max2)
      def receipt(bounds: Seq[VersionedTable.ColBound], num: Int, den: Int,
          what: String): Unit = {
        val (kept, total) = VersionedTable.prunedFiles(s, vt, 0L, bounds)
        require(kept.length * den <= total * num,
          s"q221: $what must keep <= $num/$den of the files " +
            s"(kept ${kept.length} of $total)")
      }
      receipt(Seq(VersionedTable.ColBound("k1", Some(lo1), Some(hi1))),
        1, 2, "a ~10% band on k1")
      receipt(Seq(VersionedTable.ColBound("k2", Some(lo2), Some(hi2))),
        1, 2, "a ~10% band on k2 (the dimension a linear sort would strand)")
      val box = Seq(VersionedTable.ColBound("k1", Some(lo1), Some(hi1)),
        VersionedTable.ColBound("k2", Some(lo2), Some(hi2)))
      receipt(box, 1, 4, "the 2-D box")
      val rowFilter = col("k1").between(lo1, hi1) && col("k2").between(lo2, hi2)
      val pruned = VersionedTable.readWhere(s, vt, box).filter(rowFilter)
      val full = VersionedTable.read(s, vt).filter(rowFilter)
      require(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
        "q221: skipping changed the answer")
      pruned
    }),

    // --- Change data feed at churn cost (round 12): the keyed change
    //     set between two committed versions, diffed from ONLY the
    //     files that changed — shared files never read. Receipts
    //     require()'d in-entry: localized churn touches a strict file
    //     subset, an OPTIMIZE between the versions diffs to EMPTY
    //     (pure rewrites cancel), and the churn-file feed equals the
    //     full snapshot diff row for row. ---
    "q220_table_cdf" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_cdf_q220_") + "/t"
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
          col("c_name").as("name"), col("c_acctbal").as("bal"))
        .repartitionByRange(32, col("k")).sortWithinPartitions("k")
      require(VersionedTable.commit(s, vt, cust, -1L, "loader",
        statsCols = Some(Seq("k"))) == 0L)
      val maxk = t(s, dir).customer.agg(max(col("c_custkey")))
        .collect()(0).getLong(0)
      val thr = maxk / 50
      val v0 = VersionedTable.readVersion(s, vt, 0L)
      val upd = v0.filter(col("k") <= thr).select(col("k"), col("name"),
        (col("bal") + 1000).as("bal"), lit(false).as("__del"))
      val del = v0.filter(col("k") > 2 * thr && col("k") <= 3 * thr)
        .withColumn("__del", lit(true))
      val ins = v0.filter(col("k") % 131 === 0)
        .select((col("k") + 10000000L).as("k"),
          concat(lit("new_"), col("k").cast("string")).as("name"),
          lit(0.0).as("bal"), lit(false).as("__del"))
      val st = VersionedTable.merge(s, vt, upd.unionByName(del).unionByName(ins),
        Seq("k"), 0L, "merger", deleteCol = Some("__del"))
      require(st.filesRemoved * 4 <= st.filesTotal,
        s"q220: localized churn must touch a strict file subset ($st)")
      val cdf = VersionedTable.changesBetween(s, vt, 0L, 1L, Seq("k"))
        .materialized()
      // law (verified at test scale, paid at churn bytes at any scale):
      // the churn-file feed IS the full snapshot diff
      val fullD = graft.operators.Incremental.snapshotDiff(
        VersionedTable.readVersion(s, vt, 0L),
        VersionedTable.readVersion(s, vt, 1L), Seq("k"))
      require(cdf.exceptAll(fullD).isEmpty && fullD.exceptAll(cdf).isEmpty,
        "q220: churn-file CDF must equal the full snapshot diff")
      // an OPTIMIZE commit is invisible to the feed, and the feed
      // across it still reports exactly the real churn
      VersionedTable.compactSmallFiles(s, vt, 1L, "opt",
        smallBytes = 1L << 30, targetFileCount = 4)
      require(VersionedTable.changesBetween(s, vt, 1L, 2L, Seq("k"))
        .count() == 0, "q220: compaction must diff to empty")
      val across = VersionedTable.changesBetween(s, vt, 0L, 2L, Seq("k"))
      require(across.exceptAll(cdf).isEmpty && cdf.exceptAll(across).isEmpty,
        "q220: the feed across a compaction must still be the real churn")
      cdf
    }),

    // --- Cursor CDC capstone (round 12): a named consumer follows the
    //     versioned table through poll → process → ack, each poll a
    //     churn-cost changesBetween from its atomically-CAS'd cursor.
    //     Receipts require()'d in-entry: a re-poll before the ack
    //     re-delivers the IDENTICAL feed (crash replay), the consumer
    //     ends caught-up (poll → None), and applying the two feeds to
    //     the v0 snapshot reproduces the final table row-exactly (the
    //     feed is complete AND minimal). ---
    "q222_cursor_cdc" -> ((s, dir) => {
      import graft.operators.{Incremental, VersionedTable}
      val vt = workDir("graft_cur_q222_") + "/t"
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
          col("c_name").as("name"), col("c_acctbal").as("bal"))
        .repartitionByRange(32, col("k")).sortWithinPartitions("k")
      require(VersionedTable.commit(s, vt, cust, -1L, "loader",
        statsCols = Some(Seq("k"))) == 0L)
      VersionedTable.initCursor(s, vt, "pipeline", 0L)
      require(VersionedTable.pollChanges(s, vt, "pipeline", Seq("k")).isEmpty,
        "q222: a fresh consumer at the head must be caught up")
      val maxk = t(s, dir).customer.agg(max(col("c_custkey")))
        .collect()(0).getLong(0)
      val thr = maxk / 50
      val v0 = VersionedTable.readVersion(s, vt, 0L)
      // leg 1: updates only
      VersionedTable.merge(s, vt,
        v0.filter(col("k") <= thr).select(col("k"), col("name"),
          (col("bal") + 1000).as("bal")),
        Seq("k"), 0L, "m1")
      val Some((feed1raw, from1, to1)) =
        VersionedTable.pollChanges(s, vt, "pipeline", Seq("k"))
      val feed1 = feed1raw.materialized()
      // crash replay: a second poll BEFORE the ack is the same feed
      val Some((replay, _, _)) =
        VersionedTable.pollChanges(s, vt, "pipeline", Seq("k"))
      require(replay.exceptAll(feed1).isEmpty && feed1.exceptAll(replay).isEmpty,
        "q222: an unacked poll must re-deliver the identical feed")
      VersionedTable.ackChanges(s, vt, "pipeline", from1, to1)
      // leg 2: deletes + inserts
      val del = v0.filter(col("k") > 2 * thr && col("k") <= 3 * thr)
        .withColumn("__del", lit(true))
      val ins = v0.filter(col("k") % 131 === 0)
        .select((col("k") + 10000000L).as("k"),
          concat(lit("new_"), col("k").cast("string")).as("name"),
          lit(0.0).as("bal"), lit(false).as("__del"))
      VersionedTable.merge(s, vt, del.unionByName(ins), Seq("k"),
        VersionedTable.latestVersion(s, vt), "m2", deleteCol = Some("__del"))
      val Some((feed2raw, from2, to2)) =
        VersionedTable.pollChanges(s, vt, "pipeline", Seq("k"))
      val feed2 = feed2raw.materialized()
      VersionedTable.ackChanges(s, vt, "pipeline", from2, to2)
      require(VersionedTable.pollChanges(s, vt, "pipeline", Seq("k")).isEmpty,
        "q222: after both acks the consumer must be caught up")
      // completeness law: v0 + feed1 + feed2 == the final table
      def apply1(base: DataFrame, feed: DataFrame) =
        Incremental.mergeUpsert(base,
          feed.withColumn("__del", col("op") === "delete").drop("op"),
          Seq("k"), deleteCol = Some("__del"))
      val replayed = apply1(apply1(v0, feed1), feed2)
      val fin = VersionedTable.read(s, vt)
      require(replayed.exceptAll(fin).isEmpty && fin.exceptAll(replayed).isEmpty,
        "q222: applying the consumed feeds must reproduce the final table")
      feed1.withColumn("leg", lit(1))
        .unionByName(feed2.withColumn("leg", lit(2)))
    }),

    // --- Incremental cross-cluster replication (round 12): the PigOut
    //     transfer idea at the table layer — sync a versioned table to
    //     a second storage root shipping ONLY files the replica lacks,
    //     publish with the replica's own manifest CAS. Receipts
    //     require()'d in-entry: the first sync ships everything, the
    //     churn re-sync ships < 1/4 of the table's bytes with most
    //     files shared, data skipping works at the replica from the
    //     carried manifest stats (no footer reads), and a third sync
    //     is a version-less no-op. Result read FROM THE REPLICA. ---
    "q223_table_replication" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val root = workDir("graft_repl_q223_")
      val src = s"$root/src"; val dst = s"$root/dst"
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
          col("c_name").as("name"), col("c_acctbal").as("bal"))
        .repartitionByRange(32, col("k")).sortWithinPartitions("k")
      require(VersionedTable.commit(s, src, cust, -1L, "loader",
        statsCols = Some(Seq("k"))) == 0L)
      val r0 = VersionedTable.replicate(s, src, dst)
      require(r0.version == 0L && r0.filesShared == 0L &&
        r0.bytesCopied == r0.bytesTable, s"q223: first sync ships all: $r0")
      // the q220/q222 churn recipe (updates + deletes + inserts)
      val maxk = t(s, dir).customer.agg(max(col("c_custkey")))
        .collect()(0).getLong(0)
      val thr = maxk / 50
      val v0 = VersionedTable.readVersion(s, src, 0L)
      val upd = v0.filter(col("k") <= thr).select(col("k"), col("name"),
        (col("bal") + 1000).as("bal"), lit(false).as("__del"))
      val del = v0.filter(col("k") > 2 * thr && col("k") <= 3 * thr)
        .withColumn("__del", lit(true))
      val ins = v0.filter(col("k") % 131 === 0)
        .select((col("k") + 10000000L).as("k"),
          concat(lit("new_"), col("k").cast("string")).as("name"),
          lit(0.0).as("bal"), lit(false).as("__del"))
      VersionedTable.merge(s, src, upd.unionByName(del).unionByName(ins),
        Seq("k"), 0L, "merger", deleteCol = Some("__del"))
      val r1 = VersionedTable.replicate(s, src, dst)
      require(r1.version == 1L && r1.bytesCopied * 4 < r1.bytesTable &&
        r1.filesShared * 2 >= r1.filesShared + r1.filesCopied,
        s"q223: a localized-churn sync must ship a fraction: $r1")
      // skipping at the replica, straight from the carried stats
      val (kept, total) = VersionedTable.prunedFiles(s, dst, 1L,
        Seq(VersionedTable.ColBound("k", Some(1L), Some(thr.max(1L)))))
      require(kept.length * 2 <= total,
        s"q223: replica skipping must prune (kept ${kept.length} of $total)")
      // already-current sync is a no-op
      val r2 = VersionedTable.replicate(s, src, dst)
      require(r2.version == -1L && r2.filesCopied == 0L,
        s"q223: an in-sync replicate must be a no-op: $r2")
      // fidelity law + the answer, read FROM THE REPLICA
      val d = VersionedTable.read(s, dst)
      val sr = VersionedTable.read(s, src)
      require(d.exceptAll(sr).isEmpty && sr.exceptAll(d).isEmpty,
        "q223: replica must equal source row-exactly")
      d
    }),

    // --- Streaming lakehouse ingestion (round 12): CDC batches stream
    //     into a versioned table as exactly-once file-granular MERGE
    //     commits — each commit carries its stream-batch marker in the
    //     manifest, so "rows applied" and "batch done" are one atomic
    //     CAS. Receipts require()'d in-entry: four legs = four
    //     versions, a no-data restart commits nothing, and a
    //     LOST-CHECKPOINT replay of every batch is fully inert (the
    //     double-apply a naive foreachBatch MERGE would make). ---
    "q224_stream_table_merge" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val tmp = workDir("graft_stm_q224_")
      val src = s"$tmp/src"; val vt = s"$tmp/t"; val ckpt = s"$tmp/ckpt"
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
          col("c_name").as("name"), col("c_acctbal").as("bal"))
      require(VersionedTable.commit(s, vt, cust, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 32) == 0L)
      val maxk = t(s, dir).customer.agg(max(col("c_custkey")))
        .collect()(0).getLong(0)
      val thr = maxk / 50; val thr2 = thr / 2
      val v0 = VersionedTable.readVersion(s, vt, 0L)
      val legs = Seq(
        v0.filter(col("k") <= thr).select(col("k"), col("name"),
          (col("bal") + 1000).as("bal"), lit(false).as("__del")),
        v0.filter(col("k") > 2 * thr && col("k") <= 3 * thr)
          .withColumn("__del", lit(true)),
        v0.filter(col("k") % 131 === 0)
          .select((col("k") + 10000000L).as("k"),
            concat(lit("new_"), col("k").cast("string")).as("name"),
            lit(0.0).as("bal"), lit(false).as("__del")),
        v0.filter(col("k") <= thr2).select(col("k"), col("name"),
          (col("bal") + 500).as("bal"), lit(false).as("__del")))
      val ss = graft.streaming.EventsStreaming.replaySession(s)
      def run(ck: String = ckpt): Unit =
        graft.streaming.CurationStreaming.tableMergeStream(
          ss, src, vt, Seq("k"), ck, legs.head.schema,
          deleteCol = Some("__del"))
      legs.foreach { leg =>
        leg.coalesce(1).write.mode("append").parquet(src)
        run() // drain exactly this leg: deterministic batch order
      }
      require(VersionedTable.latestVersion(s, vt) == 4L,
        "q224: four CDC legs must land as four merge commits")
      val fin = VersionedTable.read(s, vt).materialized()
      // no-data restart commits nothing
      run()
      require(VersionedTable.latestVersion(s, vt) == 4L,
        "q224: a no-data restart must not commit")
      // lost checkpoint: every batch replays; markers keep them inert
      run(s"$tmp/ckpt_fresh")
      require(VersionedTable.latestVersion(s, vt) == 4L,
        "q224: replayed batches must be inert")
      val after = VersionedTable.read(s, vt)
      require(after.exceptAll(fin).isEmpty && fin.exceptAll(after).isEmpty,
        "q224: a full replay must not change one row")
      // the clusterBy declaration survived four streaming merges:
      // skipping still prunes on the final version
      val (kept, total) = VersionedTable.prunedFiles(s, vt,
        VersionedTable.latestVersion(s, vt),
        Seq(VersionedTable.ColBound("k", Some(1L), Some(thr.max(1L)))))
      require(kept.length * 2 <= total,
        s"q224: clustering must survive streamed merges (kept ${kept.length} of $total)")
      fin
    }),

    // --- CHECK expectations at the commit boundary (round 12): table
    //     constraints persist in the manifest and refuse violating
    //     commits BEFORE the CAS (counts reported, staging cleaned,
    //     table untouched) — then the quarantine pattern re-merges
    //     only the rows that satisfy the table's OWN persisted
    //     predicates. Receipts require()'d in-entry: the poisoned
    //     merge is refused, the table is bit-unchanged by the refusal,
    //     and the quarantined merge lands exactly the clean rows. ---
    "q225_commit_expectations" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_exp_q225_") + "/t"
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
          col("c_name").as("name"), col("c_acctbal").as("bal"))
        .repartitionByRange(32, col("k")).sortWithinPartitions("k")
      require(VersionedTable.commit(s, vt, cust, -1L, "loader",
        statsCols = Some(Seq("k")),
        expectations = Map("bal_cap" -> "bal <= 1000000000",
          "bal_notnull" -> "bal IS NOT NULL")) == 0L)
      val maxk = t(s, dir).customer.agg(max(col("c_custkey")))
        .collect()(0).getLong(0)
      val thr = maxk / 50
      val v0 = VersionedTable.readVersion(s, vt, 0L)
      val churn = v0.filter(col("k") <= thr).select(col("k"), col("name"),
          (col("bal") + 1000).as("bal"))
        .unionByName(v0.filter(col("k") > 2 * thr && col("k") <= 3 * thr)
          .select(col("k"), col("name"), lit(2.0e9).as("bal")))
      val refused =
        try { VersionedTable.merge(s, vt, churn, Seq("k"), 0L, "m"); false }
        catch { case e: VersionedTable.ExpectationViolation =>
          require(e.getMessage.contains("bal_cap"),
            s"q225: the violated constraint must be named: ${e.getMessage}")
          true
        }
      require(refused, "q225: a poisoned merge must be refused")
      require(VersionedTable.latestVersion(s, vt) == 0L,
        "q225: a refused merge must leave the table untouched")
      // quarantine: the batch filtered by the table's OWN constraints
      val checks = VersionedTable.tableExpectations(s, vt, 0L).values
        .map(expr).reduce(_ && _)
      val clean = churn.filter(coalesce(checks, lit(false)))
      val st = VersionedTable.merge(s, vt, clean, Seq("k"), 0L, "m")
      require(st.version == 1L)
      VersionedTable.read(s, vt)
    }),

    // --- AvroStorage round trip (SURVEY §2.1): write the table as
    //     Avro via the explicit provider class (spark-sql compiles the
    //     Avro reader/writer in; only the bare-name "avro" service
    //     registration lives in the separate spark-avro module), read
    //     it BACK from the Avro bytes, and aggregate — the oracle
    //     never sees Avro, so a hash match proves the interchange is
    //     value-exact for long/int/double/string columns. ---
    "q229_avro_roundtrip" -> ((s, dir) => {
      val out = workDir("graft_avro_q229_") + "/supplier_avro"
      val src = t(s, dir).supplier
      src.write.format(graft.pig.PigCompiler.AvroFormat).save(out)
      val back = s.read.format(graft.pig.PigCompiler.AvroFormat).load(out)
      require(back.schema.fieldNames.sorted.sameElements(
        src.schema.fieldNames.sorted), "q229: avro must keep the schema")
      back.groupBy(col("s_nationkey").cast("int").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"),
          sum(col("s_acctbal").cast("decimal(22,4)"))
            .cast("double").as("sum_bal"),
          min(col("s_name")).as("first_name"),
          sum(col("s_suppkey")).as("sum_key"))
    }),

    // --- Deletion vectors (round 13): DELETE WHERE as a position
    //     mask, zero data-file rewrites — the GDPR-delete primitive.
    //     Receipts require()'d in-entry: the delete commit leaves the
    //     live file PATHS identical (filesMasked > 0, nothing
    //     rewritten), a second overlapping delete counts only NEW
    //     rows (the candidate scan is mask-applied), and the masked
    //     table answers exactly the oracle's anti-filter. ---
    "q231_dv_delete" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_dv_q231_") + "/t"
      val ord = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, ord, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      val live0 = VersionedTable.liveFiles(s, vt, 0L)
      val st = VersionedTable.deleteWhere(s, vt, "k % 7 = 3", 0L, "gdpr")
      require(st.version == 1L && st.filesMasked > 0 && st.filesDropped == 0,
        s"q231: a scattered delete must mask, not rewrite: $st")
      require(VersionedTable.liveFiles(s, vt, 1L) == live0,
        "q231: the delete commit must not touch a single data file")
      // overlapping second delete: k%21=3 ⊂ k%7=3 entirely — zero new rows
      val st2 = VersionedTable.deleteWhere(s, vt, "k % 21 = 3", 1L, "gdpr")
      require(st2.version == -1L && st2.rowsDeleted == 0L,
        s"q231: already-masked rows must never recount: $st2")
      VersionedTable.read(s, vt)
    }),

    // --- DV change feed: a mask-only commit changes no file paths,
    //     but the feed still surfaces every masked row as a delete at
    //     churn cost (only mask-changed files are re-read — receipt:
    //     the diff's input file count equals the masked-file count,
    //     not the table's). Cursor CDC rides the same feed. ---
    "q232_dv_cdf" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_dv_q232_") + "/t"
      val ord = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, ord, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      VersionedTable.initCursor(s, vt, "exporter", 0L)
      val st = VersionedTable.deleteWhere(s, vt, "k % 11 = 5", 0L, "gdpr")
      require(st.filesMasked > 0, s"q231-style mask expected: $st")
      val Some((feed, from, to)) =
        VersionedTable.pollChanges(s, vt, "exporter", Seq("k"))
      require(from == 0L && to == 1L, s"q232: cursor range $from->$to")
      VersionedTable.ackChanges(s, vt, "exporter", from, to)
      require(VersionedTable.pollChanges(s, vt, "exporter", Seq("k")).isEmpty,
        "q232: an acked cursor must be caught up")
      feed
    }),

    // --- DV × MERGE × purge capstone: delete by mask, then a keyed
    //     MERGE whose change set overlaps the masked region — the
    //     rewrite must NOT resurrect masked rows, and a change whose
    //     key was DV-deleted re-inserts (it is absent from the merged
    //     rows, the Delta semantics). purgeDeletes then materializes
    //     every remaining mask; the read is row-identical before and
    //     after (require()'d) and the oracle replays the whole
    //     lifecycle relationally. ---
    "q233_dv_merge_purge" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_dv_q233_") + "/t"
      val ord = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, ord, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      VersionedTable.deleteWhere(s, vt, "k % 5 = 0", 0L, "gdpr")
      // churn-local change set (first quarter of the key range): the
      // merge's stats pre-prune keeps it away from most files, so
      // masks SURVIVE on untouched files and the purge below has work
      val maxk = ord.agg(max(col("k"))).collect()(0).getLong(0)
      val thr = maxk / 4
      val changes = ord.filter(col("k") % 4 === 1 && col("k") <= thr)
        .select(col("k"), lit("RUSH").as("pr"), col("price"))
      VersionedTable.merge(s, vt, changes, Seq("k"), 1L, "merger")
      val masked = VersionedTable.read(s, vt)
      // purge: same rows, zero masks left, dv dirs become garbage
      val pst = VersionedTable.purgeDeletes(s, vt, 2L, "optimizer")
      require(pst.nonEmpty, "q233: masks must remain to purge")
      require(VersionedTable.readManifest(s, vt, 3L).dv.isEmpty,
        "q233: purge must drop every dv entry")
      val purged = VersionedTable.read(s, vt)
      require(purged.exceptAll(masked).isEmpty &&
          masked.exceptAll(purged).isEmpty,
        "q233: purge changed the answer")
      purged
    }),

    // --- Sanctioned schema evolution (VERDICT r12 missing #1): ADD
    //     COLUMN as a METADATA-ONLY commit — no data file written or
    //     touched (mtime-pinned in-entry), old files null-fill the new
    //     column on read, time travel keeps each version's own schema,
    //     and a backfilling MERGE then surfaces exactly the NULL→value
    //     updates through the CDF. At 100 TB the monthly migration
    //     costs one manifest write, not a table rewrite. ---
    "q226_add_column_evolution" -> ((s, dir) => {
      import graft.operators.VersionedTable
      import org.apache.spark.sql.types.{StructField, DoubleType}
      val vt = workDir("graft_evo_q226_") + "/t"
      val ord = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"))
      require(VersionedTable.commit(s, vt, ord, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 8) == 0L)
      val dataRoot = new java.io.File(s"$vt/data")
      val mt0 = dataRoot.listFiles().flatMap(d =>
        d.listFiles().map(x => x.getPath -> x.lastModified())).toMap
      require(VersionedTable.addColumns(s, vt,
        Seq(StructField("price", DoubleType)), 0L, "migrator") == 1L)
      // metadata-only receipt: not one staged byte, not one touched file
      require(dataRoot.listFiles().flatMap(d => d.listFiles()).forall(x =>
          mt0.get(x.getPath).contains(x.lastModified())),
        "q226: addColumns must not touch data files")
      // time travel: the pre-migration version keeps its own schema;
      // the post-migration version null-fills
      require(VersionedTable.readVersion(s, vt, 0L).columns.toSeq ==
        Seq("k", "pr"), "q226: v0 must keep its 2-column schema")
      require(VersionedTable.readVersion(s, vt, 1L)
          .filter(col("price").isNotNull).count() == 0,
        "q226: added column must read as NULL before backfill")
      // backfill a third of the keys; CDF v0→v2 is exactly the backfill
      val fill = t(s, dir).orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("k"), col("o_orderpriority").as("pr"),
          col("o_totalprice").as("price"))
      VersionedTable.merge(s, vt, fill, Seq("k"), 1L, "backfill")
      VersionedTable.changesBetween(s, vt, 0L, 2L, Seq("k"))
    }),

    // --- Versioned tables THROUGH the Pig front-end (round 13):
    //     `STORE … USING VersionedStorage('k')` commits atomically
    //     (clustered, CAS, schema-guarded) and
    //     `LOAD … USING VersionedStorage('0')` time-travels — the
    //     lakehouse substrate reachable from a migrated script with
    //     zero API code. v1 overwrites with scaled prices; the entry
    //     reads VERSION AS OF 0 back through the script path. ---
    "q242_pig_versioned_store" -> ((s, dir) => {
      val vt = workDir("graft_pigvs_q242_") + "/t"
      graft.pig.PigScript.run(s,
        s"""O = LOAD '$dir/orders.parquet' USING parquet;
            A = FOREACH O GENERATE o_orderkey AS k, o_orderpriority AS pr,
                                   o_totalprice AS price;
            STORE A INTO '$vt' USING VersionedStorage('k');""",
        executeStores = true)
      graft.pig.PigScript.run(s,
        s"""O = LOAD '$dir/orders.parquet' USING parquet;
            A = FOREACH O GENERATE o_orderkey AS k, o_orderpriority AS pr,
                                   (o_totalprice * 1.1) AS price;
            STORE A INTO '$vt' USING VersionedStorage;""",
        executeStores = true)
      import graft.operators.VersionedTable
      require(VersionedTable.latestVersion(s, vt) == 1L,
        "q242: two script STOREs must stack two versions")
      require(VersionedTable.clusterColsOf(s, vt, 0L) == Seq("k"),
        "q242: the script's clustering argument must persist")
      graft.pig.PigScript.query(s,
        s"""T = LOAD '$vt' USING VersionedStorage('0');
            A = FOREACH T GENERATE k, pr, price;""")
    }),

    // --- Verified right-to-be-forgotten (round 13): forget() = mask →
    //     purge → history collapse → VERIFY (every retained version
    //     re-scanned, every retained feed file checked for attribute
    //     leakage; a failure throws — success is never unverified).
    //     Receipts require()'d in-entry: the raw file bytes (read
    //     without the manifest) lack the rows, and a re-run is an
    //     idempotent no-op. ---
    "q247_forget" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_fgt_q247_") + "/t"
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))
      require(VersionedTable.commit(s, vt, cust, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 8,
        meta = Map(VersionedTable.FeedKey -> "k")) == 0L)
      // churn first, so history has multiple versions to collapse
      VersionedTable.merge(s, vt,
        cust.filter(col("k") % 50 === 1)
          .select(col("k"), col("name"), (col("bal") + 1).as("bal")),
        Seq("k"), 0L, "writer")
      val st = VersionedTable.forget(s, vt, "k % 20 = 7", "gdpr")
      require(st.rowsForgotten ==
        cust.filter(col("k") % 20 === 7).count(),
        s"q247: forgotten-count mismatch: $st")
      require(st.versionsVerified == 2 && st.versionsDropped.nonEmpty,
        s"q247: history must collapse and verify: $st")
      val live = VersionedTable.liveFiles(s, vt,
        VersionedTable.latestVersion(s, vt))
      require(s.read.parquet(live.map(r => s"$vt/$r"): _*)
          .filter(col("k") % 20 === 7).limit(1).count() == 0,
        "q247: raw bytes must not contain forgotten rows")
      require(VersionedTable.forget(s, vt, "k % 20 = 7", "gdpr")
          .rowsForgotten == 0, "q247: re-run must be an idempotent no-op")
      VersionedTable.read(s, vt)
    }),

    // --- SQL over lakehouse tables (round 13): registerVersioned
    //     binds a versioned table into the PigServer-style SQL entry
    //     point, pinned to latest / VERSION AS OF — the registered
    //     alias is snapshot-isolated (a later commit must not shift
    //     it, require()'d). The query joins the current and v0
    //     snapshots to report per-segment balance drift. ---
    "q246_sql_versioned" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_sqlv_q246_") + "/t"
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_mktsegment").as("seg"), col("c_acctbal").as("bal"))
      require(VersionedTable.commit(s, vt, cust, -1L, "loader") == 0L)
      VersionedTable.merge(s, vt,
        cust.filter(col("k") % 3 === 0)
          .select(col("k"), col("seg"), (col("bal") + 50).as("bal")),
        Seq("k"), 0L, "writer")
      val gs = new graft.core.GraftSession(s)
      gs.registerVersioned("cur", vt)
        .registerVersioned("orig", vt, version = 0L)
      val out = gs.sql(
        """SELECT c.seg,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(c.bal - o.bal AS DECIMAL(18,2)))
                       AS DOUBLE) AS drift
           FROM cur c JOIN orig o ON c.k = o.k
           GROUP BY c.seg""")
      // snapshot isolation: a commit AFTER registration must not move
      // the bound aliases
      VersionedTable.merge(s, vt,
        s.range(1).select(lit(-1L).as("k"), lit("XX").as("seg"),
          lit(0.0).as("bal")), Seq("k"),
        VersionedTable.latestVersion(s, vt), "late")
      require(gs.sql("SELECT count(*) FROM cur").collect()(0).getLong(0) ==
        cust.count(), "q246: registered alias must be snapshot-isolated")
      out
    }),

    // --- Type widening (round 13, schema evolution #2): INT ids
    //     overflow, FLOAT measures need precision — widenColumns
    //     migrates k INT→LONG and price FLOAT→DOUBLE as a
    //     METADATA-ONLY commit (mtime-pinned in-entry, parquet reads
    //     up-convert natively), the widening's own feed is EMPTY
    //     (require()'d — values preserved), and a post-migration merge
    //     inserts a beyond-int key to prove the point. ---
    "q245_widen_columns" -> ((s, dir) => {
      import graft.operators.VersionedTable
      import org.apache.spark.sql.types.{LongType, DoubleType}
      val vt = workDir("graft_wid_q245_") + "/t"
      val base = t(s, dir).orders.selectExpr(
        "CAST(o_orderkey AS INT) AS k",
        "CAST(o_totalprice AS FLOAT) AS price")
      require(VersionedTable.commit(s, vt, base, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 8) == 0L)
      val dataRoot = new java.io.File(s"$vt/data")
      val mt0 = dataRoot.listFiles().flatMap(d =>
        d.listFiles().map(x => x.getPath -> x.lastModified())).toMap
      require(VersionedTable.widenColumns(s, vt,
        Map("k" -> LongType, "price" -> DoubleType), 0L, "migrator") == 1L)
      require(dataRoot.listFiles().flatMap(d => d.listFiles()).forall(x =>
          mt0.get(x.getPath).contains(x.lastModified())),
        "q245: widenColumns must not touch data files")
      require(VersionedTable.changesBetween(s, vt, 0L, 1L, Seq("k"))
          .count() == 0, "q245: a pure widening must feed nothing")
      // the migration's point: a key beyond Int.MaxValue now fits
      VersionedTable.merge(s, vt,
        s.range(1).select(lit(5000000000L).as("k"), lit(1.5).as("price")),
        Seq("k"), 1L, "writer")
      VersionedTable.read(s, vt)
    }),

    // --- Declared Z-ORDER clustering (round 13): clusterMode="zorder"
    //     persists with the table and every rewrite (merge/OPTIMIZE)
    //     re-applies it — rank-normalized Morton interleave, so a box
    //     probe on BOTH dimensions prunes to the intersecting
    //     rectangles (require()'d receipt), where lexicographic
    //     clustering could only prune the leading column. ---
    "q244_zorder_table" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_zc_q244_") + "/t"
      val li = t(s, dir).lineitem.select(col("l_suppkey").as("sk"),
        col("l_partkey").as("pk"), col("l_quantity").as("qty"))
      require(VersionedTable.commit(s, vt, li, -1L, "loader",
        clusterBy = Seq("sk", "pk"), clusterFiles = 16,
        clusterMode = "zorder") == 0L)
      require(VersionedTable.clusterModeOf(s, vt, 0L) == "zorder")
      val maxSk = li.agg(max(col("sk"))).collect()(0).getLong(0)
      val maxPk = li.agg(max(col("pk"))).collect()(0).getLong(0)
      val box = Seq(
        VersionedTable.ColBound("sk", Some(1L), Some(maxSk / 4)),
        VersionedTable.ColBound("pk", Some(1L), Some(maxPk / 4)))
      val (kept, total) = VersionedTable.prunedFiles(s, vt, 0L, box)
      require(kept.length * 2 <= total,
        s"q244: a quarter-box probe must skip most files " +
          s"(${kept.length}/$total read)")
      // fixed-literal box for the oracle (stable across SFs)
      VersionedTable.readFiltered(s, vt, "sk <= 5 AND pk <= 100")
    }),

    // --- RESTORE (round 13): roll the table back to a prior version
    //     as a NEW metadata-only commit — files re-pointed, nothing
    //     rewritten (mtime-pinned), bad history stays time-travelable,
    //     and the restore's own change feed UNDOES the rolled-back
    //     churn (require()'d). The oracle replays the restored state:
    //     the original orders projection. ---
    // --- optimistic rebase (round 14): writer A plans a merge-shaped
    //     rewrite of the LOW-key files at v0; writer B (a DV delete on
    //     the HIGH band) commits first. A's commitDelta arrives with a
    //     superseded expectedVersion and a rebase budget — the conflict
    //     analysis finds B logically disjoint (A's files untouched, B
    //     added nothing inside A's key bounds), re-stamps A's staged
    //     files onto the new parent, and A lands as v2 WITHOUT redoing
    //     its write. The CDF of the rebased commit is require()'d to be
    //     exactly A's logical change set (carried-along rows cancel) —
    //     "rebased commits replay identically". The oracle replays the
    //     serial result. ---
    "q252_rebase_commit" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_rb_q252_") + "/t"
      val ord = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, ord, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      val maxK = ord.agg(max(col("k"))).head.getLong(0)
      val loQ = maxK / 8
      val hiQ = maxK * 7 / 8
      // A PLANS at v0: the files that can hold k <= loQ, rewritten with
      // pr suffixed for k%3=0 (other rows carried along verbatim)
      val aFiles = VersionedTable.prunedFiles(s, vt, 0L,
        Seq(VersionedTable.ColBound("k", None, Some(loQ))))._1
      require(aFiles.nonEmpty &&
        aFiles.length < VersionedTable.liveFiles(s, vt, 0L).length,
        "q252: the low band must prune to a strict file subset")
      val aRows = s.read.parquet(aFiles.map(r => s"$vt/$r"): _*)
        .withColumn("pr", when(col("k") <= loQ && col("k") % 3 === 0,
          concat(col("pr"), lit("!"))).otherwise(col("pr")))
      // B commits FIRST: scattered delete in the high band (DV mask on
      // the top files — no path changes, no adds)
      val b = VersionedTable.deleteWhere(s, vt,
        s"k > $hiQ AND k % 9 = 2", 0L, "wB")
      require(b.version == 1L && b.rowsDeleted > 0,
        s"q252: B must land first and mask rows: $b")
      // A arrives stale with a rebase budget: must land as v2
      val a = VersionedTable.commitDelta(s, vt,
        Some(aRows.coalesce(aFiles.length)), aFiles, 0L, "wA",
        readSet = aFiles,
        readBounds = Seq(VersionedTable.ColBound("k", None, Some(loQ))),
        readsTable = true, rebaseAttempts = 2)
      require(a.version == 2L, s"q252: A must rebase onto B and land: $a")
      // the rebased commit's CDF is exactly A's logical change set
      val cdf = VersionedTable.changesBetween(s, vt, 1L, 2L, Seq("k"))
        .select(col("k"), col("pr"), col("price"), col("op"))
      val expect = ord.filter(col("k") <= loQ && col("k") % 3 === 0)
        .select(col("k"), concat(col("pr"), lit("!")).as("pr"),
          col("price"), lit("update").as("op"))
      require(cdf.exceptAll(expect).isEmpty && expect.exceptAll(cdf).isEmpty,
        "q252: the rebased commit must replay as exactly its own change")
      VersionedTable.read(s, vt)
    }),

    // --- Column mapping (VERDICT r13 missing #2): RENAME COLUMN as a
    //     METADATA-ONLY commit — the renamed column keeps the physical
    //     name its parquet bytes carry (`colmap=` manifest lines map
    //     logical→physical), so zero data/feed files are touched
    //     (mtime-pinned in-entry) and the change feed matches columns
    //     by PHYSICAL identity across the rename: a lagging consumer's
    //     poll spans the rename with NO `_RESET` gap, delivering the
    //     post-rename merge churn under the new names. The oracle
    //     replays the cross-rename CDF in DuckDB. ---
    "q248_rename_column" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_ren_q248_") + "/t"
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))
      require(VersionedTable.commit(s, vt, cust, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 8,
        meta = Map(VersionedTable.FeedKey -> "k")) == 0L)
      VersionedTable.initCursor(s, vt, "viewer", 0L)
      val dataRoot = new java.io.File(s"$vt/data")
      val mt0 = dataRoot.listFiles().flatMap(d =>
        d.listFiles().map(x => x.getPath -> x.lastModified())).toMap
      require(VersionedTable.renameColumns(s, vt,
        Map("bal" -> "balance"), 0L, "migrator") == 1L)
      // metadata-only: not one data file touched, no feed reset
      require(dataRoot.listFiles().flatMap(d => d.listFiles()).forall(x =>
          mt0.get(x.getPath).contains(x.lastModified())),
        "q248: rename must not touch data files")
      require(VersionedTable.feedResets(s, vt).isEmpty,
        "q248: a pure rename must not reset the feed")
      require(VersionedTable.changesBetween(s, vt, 0L, 1L, Seq("k"))
          .count() == 0, "q248: the rename version's feed must be empty")
      // time travel keeps each version's own names
      require(VersionedTable.readVersion(s, vt, 0L).columns.contains("bal") &&
          VersionedTable.read(s, vt).columns.contains("balance"),
        "q248: logical names must be per-version")
      // merge THROUGH the renamed schema: updates + inserts, clustered
      // rewrite, stats re-keyed so the pre-prune still works
      val changes = cust.filter(col("k") % 7 === 0)
        .select(col("k"), col("name"), (col("bal") + 100).as("balance"))
        .unionByName(cust.filter(col("k") % 53 === 0)
          .select((col("k") + 5000000).as("k"),
            concat(lit("n_"), col("k").cast("string")).as("name"),
            lit(0.0).as("balance")))
      VersionedTable.merge(s, vt, changes, Seq("k"), 1L, "writer")
      // the lagging consumer polls ACROSS the rename: exactly the
      // merge's churn, under the new names — this is the deliverable
      val Some((cdf, 0L, 2L)) =
        VersionedTable.pollChanges(s, vt, "viewer", Seq("k"))
      cdf.select(col("k"), col("name"), col("balance"), col("op"))
    }),

    "q243_restore" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_rst_q243_") + "/t"
      val base = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, base, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 8) == 0L)
      // a bad batch lands: priorities clobbered for a seventh of keys
      val bad = base.filter(col("k") % 7 === 0)
        .select(col("k"), lit("0-BROKEN").as("pr"), col("price"))
      VersionedTable.merge(s, vt, bad, Seq("k"), 0L, "oops")
      val mt = new java.io.File(s"$vt/data").listFiles().flatMap(d =>
        d.listFiles().map(x => x.getPath -> x.lastModified())).toMap
      require(VersionedTable.restore(s, vt, 0L, 1L, "op") == 2L)
      require(new java.io.File(s"$vt/data").listFiles().flatMap(_.listFiles())
          .forall(x => mt.get(x.getPath).contains(x.lastModified())),
        "q243: restore must not touch data files")
      val undo = VersionedTable.changesBetween(s, vt, 1L, 2L, Seq("k"))
      require(undo.filter(col("op") =!= "update").count() == 0 &&
          undo.count() == base.filter(col("k") % 7 === 0).count(),
        "q243: the restore feed must be exactly the reverted updates")
      require(VersionedTable.readVersion(s, vt, 1L)
          .filter(col("pr") === "0-BROKEN").count() > 0,
        "q243: the bad version stays time-travelable")
      VersionedTable.read(s, vt)
    }),

    // --- TIMESTAMP AS OF time travel (round 13): version resolution
    //     through manifest commit instants (mtime, running-max
    //     canonicalized). Commit instants are pinned in-entry so the
    //     resolution is deterministic: as-of between the commits reads
    //     v0 exactly; as-of after reads v1; pre-birth refuses
    //     (require()'d). The oracle replays v0's content. ---
    "q241_timestamp_as_of" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_asof_q241_") + "/t"
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_acctbal").as("bal"))
      // pin the in-manifest commit instants (ts= lines — authoritative
      // for as-of since round 14; mtimes are only the legacy fallback)
      val base = 1700000000000L
      s.conf.set("graft.commit.clockMs", base.toString)
      require(VersionedTable.commit(s, vt, cust, -1L, "loader") == 0L)
      s.conf.set("graft.commit.clockMs", (base + 60000).toString)
      require(VersionedTable.commit(s, vt,
        cust.withColumn("bal", col("bal") + 100), 0L, "writer") == 1L)
      s.conf.unset("graft.commit.clockMs")
      require(VersionedTable.versionAsOf(s, vt,
        new java.sql.Timestamp(base + 30000)) == 0L)
      require(VersionedTable.versionAsOf(s, vt,
        new java.sql.Timestamp(base + 60000)) == 1L)
      val refused =
        try { VersionedTable.readAsOf(s, vt,
          new java.sql.Timestamp(base - 1)); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "q241: pre-birth as-of must refuse")
      VersionedTable.readAsOf(s, vt, new java.sql.Timestamp(base + 30000))
    }),

    // --- CDF across an ADD-COLUMN migration: the sanctioned schema
    //     evolution path (allowSchemaChange) no longer dead-ends the
    //     change feed — when every old column survives with its exact
    //     type, the feed pads the old side with NULLs and reports the
    //     added column's NULL→value transitions as updates (the Delta
    //     CDF-through-mergeSchema behavior). Drops/renames/type
    //     changes still refuse loudly (require()'d in-entry). ---
    "q234_cdf_schema_add" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_dv_q234_") + "/t"
      val ord = t(s, dir).orders
      val v0 = ord.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"))
      require(VersionedTable.commit(s, vt, v0, -1L, "loader") == 0L)
      val v1 = ord.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, v1, 0L, "migrator",
        allowSchemaChange = true) == 1L)
      // a DROP migration still refuses the feed
      require(VersionedTable.commit(s, vt, v0, 1L, "migrator",
        allowSchemaChange = true) == 2L)
      val refused =
        try { VersionedTable.changesBetween(s, vt, 1L, 2L, Seq("k")); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "q234: a drop-column feed must refuse loudly")
      VersionedTable.changesBetween(s, vt, 0L, 1L, Seq("k"))
    }),

    // --- Persisted change feed as a STREAM (round 13): a
    //     `feed.keys`-declared table materializes each commit's keyed
    //     change rows under `_changes/v<N>` (staged + atomic rename —
    //     never torn), so the table is a Structured Streaming source
    //     with ZERO custom source code: a vanilla file stream over
    //     the feed dirs, exactly-once from the stream checkpoint.
    //     The entry drives bootstrap + merge through one stream run,
    //     then a DV delete through a RESTART of the same checkpoint —
    //     require()'d to deliver only the new feed — into a parquet
    //     sink; the oracle replays all three change sets. ---
    "q235_table_change_stream" -> ((s, dir) => {
      var afterFirst = -1L
      val feed = tableChangeStream(s, dir, out =>
        afterFirst = s.read.parquet(out).count())
      require(feed.filter(col("version") < 2).count() == afterFirst,
        "q235: the restarted stream must not re-deliver checkpointed feeds")
      require(feed.filter(col("version") === 2).select(col("op"))
          .distinct().collect().map(_.getString(0)).toSeq == Seq("delete"),
        "q235: the delete commit must feed only deletes")
      feed
    }),

    // --- Change stream ACROSS a rename through ONE checkpoint (round
    //     14): the column-mapping payoff end-to-end in STREAMING. Feed
    //     files carry STICKY physical names, so the post-rename stream
    //     reads every feed file ever written under one pinned physical
    //     schema and aliases to the NEW logical names; the checkpoint
    //     survives (nothing re-delivers — require()'d), the rename
    //     version feeds nothing, and the post-rename churn arrives
    //     under the new names. Oracle = exactly that churn. ---
    "q253_stream_across_rename" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val tmp = workDir("graft_srn_q253_")
      val cust = t(s, dir).customer
      val n1 = cust.count() + cust.filter(col("c_custkey") % 7 === 0).count()
      val churn = renameStream(s, dir, tmp, afterFirstDrain = out =>
        require(s.read.parquet(out).count() == n1,
          "q253: the pre-rename drain must deliver bootstrap + churn"))
      require(VersionedTable.feedResets(s, s"$tmp/t").isEmpty,
        "q253: a rename must not reset the feed")
      val sch = VersionedTable.schemaOf(s, s"$tmp/t",
          VersionedTable.latestVersion(s, s"$tmp/t"))
        .add("op", org.apache.spark.sql.types.StringType)
        .add("version", org.apache.spark.sql.types.LongType)
      require(s.read.schema(sch).parquet(s"$tmp/out").count() == n1 +
          cust.filter(col("c_custkey") % 53 === 0).count(),
        "q253: the checkpoint must survive the rename — no replays")
      churn
    }),

    // --- Incremental materialized aggregate view (round 13): a
    //     versioned STATE table (exact DECIMAL sums + counts per
    //     group) maintained from the source's preimage-carrying CDC
    //     feed by retraction — refresh costs churn + affected groups,
    //     never a source re-scan. Exactly-once via the view.synced
    //     manifest marker (feed start = marker, not cursor — a lost
    //     ack can never double-apply). The entry bootstraps the view
    //     BEFORE the churn, applies a merge (updates + inserts) and a
    //     DV delete through ONE sync, require()'s the marker/ack
    //     discipline, and answers from the VIEW; the oracle aggregates
    //     the replayed final table directly. ---
    "q236_incremental_agg_view" -> ((s, dir) => {
      import graft.operators.{AggView, VersionedTable}
      val root = workDir("graft_aggv_q236_")
      val src = s"$root/src"; val view = s"$root/view"
      val ord = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("grp"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, src, ord, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      val measures = Seq("price" -> col("price"))
      AggView.init(s, src, view, "dash", Seq("grp"), measures)
      // churn 1: keyed merge — price bumps + brand-new group rows
      val changes = ord.filter(col("k") % 9 === 2)
          .select(col("k"), col("grp"), (col("price") + 50).as("price"))
        .unionByName(ord.filter(col("k") % 101 === 0)
          .select((col("k") + 7000000L).as("k"), lit("ZNEW").as("grp"),
            lit(1.0).as("price")))
      VersionedTable.merge(s, src, changes, Seq("k"), 0L, "etl")
      // churn 2: a scattered DV delete
      VersionedTable.deleteWhere(s, src,
        "k % 97 = 3 and k < 7000000", 1L, "gdpr")
      val applied = AggView.sync(s, src, view, "dash", Seq("k"),
        Seq("grp"), measures)
      require(applied.contains((0L, 2L)),
        s"q236: one sync must apply the whole 0->2 feed: $applied")
      require(AggView.sync(s, src, view, "dash", Seq("k"),
          Seq("grp"), measures).isEmpty,
        "q236: a caught-up sync must be a no-op")
      require(AggView.syncedVersion(s, view) == 2L,
        "q236: the view marker must record the consumed source version")
      AggView.read(s, view)
    }),

    // --- Hybrid MIN/MAX in incremental views (VERDICT r13 missing
    //     #3): min/max are not invertible under deletes, so the view
    //     maintains them incrementally when provable (applied rows only
    //     tighten; interior retractions can't move an extremum) and
    //     re-scans ONLY the uncertain groups, pruned by the source's
    //     own stats index — receipts require()'d in-entry: the
    //     insert-tighten sync re-scans 0 groups; the delete-the-max
    //     sync re-scans 1 group reading a strict file subset. The
    //     oracle aggregates the replayed final table directly. ---
    "q249_aggview_minmax" -> ((s, dir) => {
      import graft.operators.{AggView, VersionedTable}
      val root = workDir("graft_aggx_q249_")
      val src = s"$root/src"; val view = s"$root/view"
      val ord = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("grp"), col("o_totalprice").as("price"))
      // cluster by the GROUP column: the uncertain-group re-scan prunes
      // on its envelope (the receipt below is the point of the query)
      require(VersionedTable.commit(s, src, ord, -1L, "loader",
        clusterBy = Seq("grp"), clusterFiles = 16) == 0L)
      val measures = Seq("price" -> col("price"))
      val ext = Seq("price" -> col("price"))
      AggView.init(s, src, view, "dash", Seq("grp"), measures,
        extremes = ext)
      def rescan(key: String): Int = VersionedTable.readManifest(s, view,
        VersionedTable.latestVersion(s, view)).meta(key).toInt
      // churn 1: a sentinel global max lands in one group, plus price
      // bumps — applied rows only TIGHTEN, so no re-scan
      val changes = ord.filter(col("k") % 9 === 2)
          .select(col("k"), col("grp"), (col("price") + 50).as("price"))
        .unionByName(s.range(1).select(lit(7777777L).as("k"),
          lit("1-URGENT").as("grp"), lit(9999999.0).as("price")))
      VersionedTable.merge(s, src, changes, Seq("k"), 0L, "etl")
      AggView.sync(s, src, view, "dash", Seq("k"), Seq("grp"), measures,
        extremes = ext)
      require(rescan(AggView.RescanGroupsKey) == 0,
        "q249: insert/tighten churn must maintain min/max incrementally")
      // churn 2: DELETE the sentinel — the group's max, provably
      // uncertain: exactly one group re-scans, reading a pruned subset
      VersionedTable.deleteWhere(s, src, "k = 7777777", 1L, "gdpr")
      AggView.sync(s, src, view, "dash", Seq("k"), Seq("grp"), measures,
        extremes = ext)
      val total = VersionedTable.liveFiles(s, src,
        VersionedTable.latestVersion(s, src)).length
      require(rescan(AggView.RescanGroupsKey) == 1,
        "q249: exactly the max-deleted group must be uncertain")
      require(rescan(AggView.RescanFilesKey) > 0 &&
          rescan(AggView.RescanFilesKey) < total,
        s"q249: the re-scan must read a pruned file subset " +
          s"(${rescan(AggView.RescanFilesKey)}/$total)")
      // churn 3: a scattered delete that may or may not clip group
      // extremes — whichever way the data falls, the hybrid converges
      VersionedTable.deleteWhere(s, src, "k % 97 = 3", 2L, "gdpr")
      AggView.sync(s, src, view, "dash", Seq("k"), Seq("grp"), measures,
        extremes = ext)
      AggView.read(s, view)
    }),

    // --- AggView across a source RENAME (VERDICT r14 #3): the view's
    //     config is stored RESOLVED (source-physical column names) in
    //     the view manifest at init, so sync needs no caller-held
    //     strings; a rename of the GROUP and the MEASURE column
    //     between syncs is a spec-pinned non-event — syncResolved
    //     translates through the source's colmap, propagates the
    //     group rename to the view's own header (metadata-only), and
    //     applies the post-rename churn under the new names. The
    //     oracle aggregates the replayed final table. ---
    "q256_aggview_rename" -> ((s, dir) => {
      import graft.operators.{AggView, VersionedTable}
      val root = workDir("graft_aggr_q256_")
      val src = s"$root/src"; val view = s"$root/view"
      val ord = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("grp"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, src, ord, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      AggView.initResolved(s, src, view, "dash", keys = Seq("k"),
        groupCols = Seq("grp"), measures = Seq("price" -> "price"),
        extremes = Seq("price" -> "price"))
      // churn 1 under the ORIGINAL names: bumps + a brand-new group
      VersionedTable.merge(s, src,
        ord.filter(col("k") % 9 === 2)
            .select(col("k"), col("grp"), (col("price") + 50).as("price"))
          .unionByName(ord.filter(col("k") % 101 === 0)
            .select((col("k") + 7000000L).as("k"), lit("ZNEW").as("grp"),
              lit(1.0).as("price"))),
        Seq("k"), 0L, "etl")
      require(AggView.syncResolved(s, src, view, "dash")
          .contains((0L, 1L)), "q256: pre-rename sync must apply churn 1")
      // the RENAME between syncs: BOTH the group and the measure column
      require(VersionedTable.renameColumns(s, src,
        Map("grp" -> "bucket", "price" -> "amount"), 1L, "migrator") == 2L)
      // churn 2 under the NEW names: bumps (they override churn 1 for
      // overlapping keys — merge replaces by key) + a scattered delete
      VersionedTable.merge(s, src,
        ord.filter(col("k") % 13 === 1)
          .select(col("k"), col("grp").as("bucket"),
            (col("price") + 7).as("amount")),
        Seq("k"), 2L, "etl")
      VersionedTable.deleteWhere(s, src,
        "k % 97 = 3 AND k < 7000000", 3L, "gdpr")
      val applied = AggView.syncResolved(s, src, view, "dash")
      require(applied.contains((1L, 4L)),
        s"q256: the post-rename sync must apply the 1->4 feed: $applied")
      require(AggView.syncResolved(s, src, view, "dash").isEmpty,
        "q256: a caught-up syncResolved must be a no-op")
      // the view's own header tracked the source rename
      require(VersionedTable.schemaOf(s, view,
          VersionedTable.latestVersion(s, view)).fieldNames.head == "bucket",
        "q256: the group rename must propagate to the view's schema")
      AggView.read(s, view)
    }),

    // --- SQL DML over versioned tables (VERDICT r13 missing #4): the
    //     PigServer-analogue SQL surface WRITES the lakehouse —
    //     MERGE INTO (star shorthand) / DELETE FROM / INSERT INTO on a
    //     registerVersioned alias route to merge/deleteWhere/commitDelta
    //     under the same CAS discipline, committing against the
    //     version the alias resolved (snapshot-isolation writes; a
    //     stale binding's DML raises CommitConflict — spec-pinned in
    //     EngineSpec). The oracle replays the three statements'
    //     combined effect in DuckDB. ---
    "q250_sql_dml" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_dml_q250_") + "/t"
      val base = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, base, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      val gs = new graft.core.GraftSession(s)
      gs.registerVersioned("t", vt)
      gs.register("chg", base.filter(col("k") % 9 === 2)
        .select(col("k"), col("pr"), (col("price") + 50).as("price"))
        .unionByName(base.filter(col("k") % 101 === 0)
          .select((col("k") + 7000000L).as("k"), lit("9-SQL").as("pr"),
            lit(1.0).as("price"))))
      val m = gs.sql("""MERGE INTO t USING chg AS s ON t.k = s.k
                        WHEN MATCHED THEN UPDATE SET *
                        WHEN NOT MATCHED THEN INSERT *""").head()
      require(m.getString(0) == "merge" && m.getLong(2) == 1L,
        s"q250: MERGE must commit version 1: $m")
      val d = gs.sql("DELETE FROM t WHERE k % 97 = 3").head()
      require(d.getLong(2) == 2L && d.getLong(3) > 0L,
        s"q250: DELETE must mask rows at version 2: $d")
      gs.sql("INSERT INTO t SELECT k + 9000000, pr, 0.5 FROM chg " +
        "WHERE k % 2 = 0")
      val u = gs.sql("UPDATE t SET price = price + 1000 " +
        "WHERE k % 11 = 4 AND k < 7000000").head()
      require(u.getString(0) == "update" && u.getLong(2) == 4L,
        s"q250: UPDATE must commit version 4: $u")
      require(VersionedTable.latestVersion(s, vt) == 4L,
        "q250: four DML statements must stack four versions")
      // the latest-tracking alias advanced through its own writes:
      // the SELECT that returns the deliverable sees all four
      gs.sql("SELECT k, pr, price FROM t")
    }),

    // --- SQL table LIFECYCLE (VERDICT r14 #5): a SQL-only user runs
    //     the whole arc in ONE script — CREATE TABLE … LOCATION …
    //     USING (clustering) AS SELECT, then DML, then RESTORE (undo
    //     the update), then OPTIMIZE (layout-only) — and the final
    //     SELECT hash-matches the relational replay. Refusal probes
    //     ride in-entry: keyword-routed statements that miss their
    //     grammar refuse loudly instead of leaking into Spark. ---
    "q257_sql_lifecycle" -> ((s, dir) => {
      val vt = workDir("graft_lc_q257_") + "/t"
      val gs = new graft.core.GraftSession(s)
      gs.register("orders_raw", t(s, dir).orders)
      val rs = gs.runScript(
        s"""-- lifecycle script; this comment's semicolon ; must be inert
           |CREATE TABLE t LOCATION '$vt' USING ('cluster=k', 'files=8')
           |  AS SELECT o_orderkey AS k, o_orderpriority AS pr,
           |            o_totalprice AS price FROM orders_raw;
           |INSERT INTO t SELECT k + 7000000, '9;SQL', 1.0 FROM t
           |  WHERE k % 101 = 0;
           |DELETE FROM t WHERE k % 97 = 3;
           |UPDATE t SET price = price + 1000 WHERE k % 11 = 4;
           |RESTORE t TO VERSION 2;
           |OPTIMIZE t;
           |DESCRIBE HISTORY t""".stripMargin)
      val ops = rs.dropRight(1).map(_.head())
      require(ops.map(_.getString(0)) == Seq("create_table", "insert",
          "delete", "update", "restore", "optimize"),
        s"q257: six lifecycle receipts in order: ${ops.map(_.getString(0))}")
      require(ops.map(_.getLong(2)) == Seq(0L, 1L, 2L, 3L, 4L, 5L),
        s"q257: versions must stack 0..5: ${ops.map(_.getLong(2))}")
      require(rs.last.count() == 6L,
        "q257: DESCRIBE HISTORY must show all six versions")
      // refusal probes: shape variants refuse with the grammar, they
      // never leak into Spark as unrelated errors
      def refuses(stmt: String): Boolean =
        try { gs.sql(stmt); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("expected:") ||
            e.getMessage.contains("not a versioned-table alias") }
      require(refuses("DELETE FROM t"),
        "q257: DELETE without WHERE must refuse with the grammar")
      require(refuses("UPDATE t SET price = 1"),
        "q257: UPDATE without WHERE must refuse with the grammar")
      require(refuses("INSERT INTO t (k, pr) SELECT 1, 'x'"),
        "q257: INSERT with a column list must refuse with the grammar")
      require(refuses("RESTORE t TO VERSION latest"),
        "q257: RESTORE with a non-numeric version must refuse")
      require(refuses("OPTIMIZE t FULL"),
        "q257: OPTIMIZE with trailing tokens must refuse")
      locally { // CREATE onto an existing table refuses (never overwrite)
        val refused =
          try { gs.sql(s"CREATE TABLE t2 LOCATION '$vt' AS SELECT 1"); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("never overwrites") }
        require(refused, "q257: CREATE onto a live table must refuse")
      }
      // final content: create + insert − delete (update was restored
      // away; optimize is layout-only)
      gs.sql("SELECT k, pr, price FROM t")
    }),

    // --- Metadata-only DROP COLUMN (round 14, completing the column-
    //     mapping migration family): the column leaves the logical
    //     schema with ZERO files touched (mtime-pinned in-entry);
    //     reads never deserialize the lingering bytes; the dropped
    //     PHYSICAL name is tombstoned so no future column can shadow
    //     them (require()'d); the feed RESETS at the drop (documented
    //     drop semantics — consumers re-bootstrap); merges through the
    //     dropped schema work and their rewrites shed the bytes. The
    //     oracle replays the projection + churn. ---
    "q254_drop_column" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_drop_q254_") + "/t"
      val base = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_orderstatus").as("secret"),
        col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, base, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 8,
        meta = Map(VersionedTable.FeedKey -> "k")) == 0L)
      val dataRoot = new java.io.File(s"$vt/data")
      val mt0 = dataRoot.listFiles().flatMap(d =>
        d.listFiles().map(x => x.getPath -> x.lastModified())).toMap
      require(VersionedTable.dropColumns(s, vt, Seq("secret"), 0L,
        "migrator") == 1L)
      require(dataRoot.listFiles().flatMap(d => d.listFiles()).forall(x =>
          mt0.get(x.getPath).contains(x.lastModified())),
        "q254: dropColumns must not touch data files")
      require(VersionedTable.feedResets(s, vt) == Seq(1L),
        "q254: a drop must reset the feed")
      require(VersionedTable.readVersion(s, vt, 0L).columns
          .contains("secret") &&
          !VersionedTable.read(s, vt).columns.contains("secret"),
        "q254: time travel keeps the column; latest excludes it")
      // the tombstone: the physical name can never be shadowed
      val refused = try {
        VersionedTable.addColumns(s, vt,
          Seq(org.apache.spark.sql.types.StructField("secret",
            org.apache.spark.sql.types.StringType)), 1L, "w")
        false
      } catch { case _: IllegalArgumentException => true }
      require(refused, "q254: re-adding a dropped name must refuse")
      // churn through the dropped schema (rewrites shed the bytes)
      val chg = base.filter(col("k") % 9 === 2).select(col("k"),
        col("pr"), (col("price") + 50).as("price"))
      VersionedTable.merge(s, vt, chg, Seq("k"), 1L, "etl")
      VersionedTable.read(s, vt)
    }),

    // --- VersionedStorage declaration surface (VERDICT r13 #8): a
    //     migrated script declares clustering, change feed, and CHECK
    //     expectations straight from the STORE clause — skipping, CDC,
    //     and constraints with zero Scala. Receipts require()'d
    //     in-entry: declarations persist and INHERIT into the second
    //     (declaration-free) STORE; the feed materialized for both
    //     versions; a violating STORE refuses with the table
    //     untouched; the clustered stats index prunes a key range. ---
    "q251_pig_versioned_decls" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_pvd_q251_") + "/t"
      graft.pig.PigScript.run(s,
        s"""O = LOAD '$dir/orders.parquet' USING parquet;
            A = FOREACH O GENERATE o_orderkey AS k, o_orderpriority AS pr,
                                   o_totalprice AS price;
            STORE A INTO '$vt' USING VersionedStorage('cluster=k',
              'files=8', 'feed=k', 'expect.price_pos=price >= 0');""",
        executeStores = true)
      graft.pig.PigScript.run(s,
        s"""O = LOAD '$dir/orders.parquet' USING parquet;
            B = FOREACH O GENERATE o_orderkey AS k, o_orderpriority AS pr,
                                   (o_totalprice + 10) AS price;
            STORE B INTO '$vt' USING VersionedStorage;""",
        executeStores = true)
      require(VersionedTable.clusterColsOf(s, vt, 1L) == Seq("k") &&
          VersionedTable.feedKeysOf(s, vt, 1L) == Seq("k") &&
          VersionedTable.tableExpectations(s, vt, 1L)
            .contains("price_pos"),
        "q251: script declarations must persist AND inherit")
      // the feed materialized for both script commits; v0→v1 is every
      // row as an update (prices moved)
      require(VersionedTable.changesBetween(s, vt, 0L, 1L, Seq("k"))
          .filter(col("op") === "update").count() ==
          t(s, dir).orders.count(),
        "q251: the script-declared feed must carry the re-store's churn")
      // the constraint bites: a violating STORE refuses, table untouched
      val refused = try {
        graft.pig.PigScript.run(s,
          s"""O = LOAD '$dir/orders.parquet' USING parquet;
              C = FOREACH O GENERATE o_orderkey AS k,
                                     o_orderpriority AS pr,
                                     (0.0 - o_totalprice) AS price;
              STORE C INTO '$vt' USING VersionedStorage;""",
          executeStores = true)
        false
      } catch {
        case _: graft.operators.VersionedTable.ExpectationViolation => true
      }
      require(refused && VersionedTable.latestVersion(s, vt) == 1L,
        "q251: a violating STORE must refuse and leave the table at v1")
      // the declared clustering gives skipping: a 10% key range prunes
      // (v0 pinned the layout via files=8; v1 let AQE size it — tiny
      // test snapshots rightly coalesce, so the receipt reads v0)
      val maxK = t(s, dir).orders.agg(max(col("o_orderkey"))).head.getLong(0)
      val (kept, total) = VersionedTable.prunedFiles(s, vt, 0L,
        Seq(VersionedTable.ColBound("k", Some(0L), Some(maxK / 10))))
      require(total > 1 && kept.length < total,
        s"q251: the declared clustering must prune (${kept.length}/$total)")
      graft.pig.PigScript.query(s,
        s"""T = LOAD '$vt' USING VersionedStorage;
            R = FOREACH T GENERATE k, pr, price;""")
    }),

    // --- Predicate-pruned read (round 13): readFiltered derives file
    //     skipping from the predicate's OWN conjuncts (no hand-built
    //     bounds), applies the residual on the pruned masked read, and
    //     the DV mask composes — receipts require()'d: the implied
    //     bounds prune, and the answer equals the unpruned filter. ---
    "q237_pruned_predicate_read" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_rf_q237_") + "/t"
      val ord = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, ord, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 32) == 0L)
      VersionedTable.deleteWhere(s, vt, "k % 13 = 2", 0L, "gdpr")
      val maxk = ord.agg(max(col("k"))).collect()(0).getLong(0)
      val lo = maxk / 3; val hi = lo + maxk / 10
      val pred = s"k >= $lo and k <= $hi and pr like '%URGENT%'"
      // the implied bounds must prune: ~10% key range on 32 files
      val (kept, total) = VersionedTable.prunedFiles(s, vt, 1L,
        VersionedTable.impliedBounds(s, pred,
          VersionedTable.read(s, vt).schema))
      require(kept.length * 4 <= total,
        s"q237: a ~10% range must skip >= 3/4 of files (${kept.length}/$total)")
      val pruned = VersionedTable.readFiltered(s, vt, pred)
      val full = VersionedTable.read(s, vt).filter(expr(pred))
      require(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty,
        "q237: pruning changed the answer")
      pruned
    }),

    // --- Atomic commit protocol (round 11): the manifest-log CAS
    //     under the versioned-table family — commits stage data fully
    //     and promote a manifest file atomically (create-exclusive),
    //     so two racing writers resolve to ONE winner and ONE loud
    //     CommitConflict, and readers can never observe a torn
    //     version. The entry drives the full lifecycle: load → MERGE
    //     → a DELIBERATE stale-commit race (require()'d to conflict)
    //     → re-read/reconcile/retry → delete-merge → read through the
    //     manifest, with a time-travel receipt back to v0. The oracle
    //     replays both merges over the raw table. ---
    "q192_versioned_table" -> ((s, dir) => {
      import graft.operators.{Incremental, VersionedTable}
      val vt = workDir("graft_vt_q192_") + "/t"
      val base = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))
      require(VersionedTable.commit(s, vt, base, -1L, "loader") == 0L)
      val ch1 = base.filter(col("k") % 7 === 0)
        .select(col("k"), col("name"), (col("bal") + 100).as("bal"))
        .unionByName(base.filter(col("k") % 13 === 0)
          .select((col("k") + 1000000).as("k"),
            concat(lit("new_"), col("k").cast("string")).as("name"),
            lit(0.0).cast(base.schema("bal").dataType).as("bal")))
      val m1 = Incremental.mergeUpsert(VersionedTable.read(s, vt), ch1, Seq("k"))
      // a concurrent writer lands v1 first; our stale commit MUST lose
      // loudly (silent last-writer-wins is the bug the protocol kills)
      require(VersionedTable.commit(s, vt, m1, 0L, "fast_writer") == 1L)
      val conflicted =
        try { VersionedTable.commit(s, vt, m1, 0L, "slow_writer"); false }
        catch { case _: VersionedTable.CommitConflict => true }
      require(conflicted, "q192: a stale commit must raise CommitConflict")
      // re-read / reconcile / retry: the delete-merge applies to the
      // CURRENT committed table, whatever won
      val cur = VersionedTable.read(s, vt)
      val ch2 = cur.filter(col("k") % 11 === 0).withColumn("__del", lit(true))
      val m2 = Incremental.mergeUpsert(cur, ch2, Seq("k"),
        deleteCol = Some("__del"))
      require(VersionedTable.commit(s, vt,
        m2, VersionedTable.latestVersion(s, vt), "slow_writer") == 2L)
      // time travel: v0 is still byte-stable under the new commits
      val v0 = VersionedTable.readVersion(s, vt, 0L)
      require(v0.exceptAll(base).isEmpty && base.exceptAll(v0).isEmpty,
        "q192: version 0 must remain exactly the loaded base")
      VersionedTable.read(s, vt)
    }),

    // --- Lakehouse maintenance capstone (round 11): the versioned
    //     table and the layout family as ONE story — load (v0),
    //     OPTIMIZE ZORDER as a COMMIT (v1: the clustered
    //     repartitionByRange+sort plan rides the commit's write, so
    //     the version's files carry tight (k1, pk) envelopes —
    //     file-skipping receipt require()'d from the actual footers),
    //     a MERGE churn (v2), then retention expiry — every rewrite
    //     lands through the atomic manifest CAS, never in place.
    //     Receipts in-entry: layout rewrite lossless (v1 == v0 row
    //     multiset), box-probe touches a strict file subset, expiry
    //     drops exactly v0 and leaves the log at {1,2}. ---
    "q195_lakehouse_maintain" -> ((s, dir) => {
      import graft.operators.{Incremental, Layout, VersionedTable}
      val vt = workDir("graft_lake_q195_") + "/t"
      // per-order rollup as the table: the synthetic lineitem has no
      // unique natural key (dup (orderkey, linenumber) rows), and a
      // MERGE target needs one — k1 is unique by construction here
      val li = t(s, dir).lineitem.groupBy(col("l_orderkey").as("k1"))
        .agg(min(col("l_partkey")).as("pk"),
          sum(col("l_quantity").cast(org.apache.spark.sql.types
            .DecimalType(18, 2))).as("qty"))
      require(VersionedTable.commit(s, vt, li, -1L, "loader") == 0L)
      val v0df = VersionedTable.readVersion(s, vt, 0L)
      val clustered = v0df
        .withColumn("__z", Layout.zValue2(col("k1"), col("pk")))
        .repartitionByRange(8, col("__z"))
        .sortWithinPartitions("__z").drop("__z")
      require(VersionedTable.commit(s, vt, clustered, 0L, "optimizer") == 1L)
      val v1df = VersionedTable.read(s, vt)
      require(v1df.exceptAll(v0df).isEmpty && v0df.exceptAll(v1df).isEmpty,
        "q195: the layout rewrite must be lossless")
      // skipping receipt from the REAL file footers of v1's data dir
      val env = Layout.fileEnvelopes(s,
        VersionedTable.dataDir(s, vt, 1L), "k1", "pk").cache()
      val nFiles = env.count()
      val maxK1 = v0df.agg(max(col("k1"))).collect()(0).getLong(0)
      val touched = Layout.filesTouched(env, 0L, maxK1 / 8,
        0L, Long.MaxValue)
      env.unpersist()
      require(nFiles >= 4 && touched < nFiles,
        s"q195: a k1-range probe must skip files ($touched of $nFiles touched)")
      val cur = VersionedTable.read(s, vt)
      // cast back after +100: decimal addition widens precision, and
      // the commit's schema-drift guard (rightly) refuses a silent
      // column-type change
      val ch = cur.filter(col("k1") % 97 === 0)
        .withColumn("qty", (col("qty") + 100).cast(cur.schema("qty").dataType))
      val m2 = Incremental.mergeUpsert(cur, ch, Seq("k1"))
      require(VersionedTable.commit(s, vt, m2, 1L, "writer") == 2L)
      require(VersionedTable.expire(s, vt, keep = 2) == Seq(0L),
        "q195: retention must drop exactly v0")
      require(VersionedTable.versions(s, vt) == Seq(1L, 2L))
      VersionedTable.read(s, vt)
        .groupBy((col("k1") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), dsum2(col("qty")).as("qty_sum"))
    }),

    // --- Incremental BPE training (round 11): production merge
    //     counts. ONE corpus-sized job reduces to the word vocab;
    //     the 256-merge loop then maintains pair counts incrementally
    //     over driver-resident model state (occurrence index + lazy
    //     heap) — zero per-merge Spark jobs, vs bpeTrain's
    //     one-job-per-merge (the r10 perf audit's flagged shape).
    //     In-entry receipts: first-8-merge parity against the per-job
    //     Spark trainer (full parity is law-tested in the spec),
    //     dry-run completeness when under the requested count, and
    //     encode losslessness over every distinct token. ---
    "q193_bpe_train_fast" -> ((s, dir) => {
      import graft.operators.TextAnalysis
      val docs = t(s, dir).documents
      val (m, vocab, receipt) = bpeTrainFast(s, dir)
      require(receipt.droppedTypes == 0L && receipt.droppedMass == 0L,
        "q193: minFreq=1 must prune nothing")
      require(m.forall(_.count >= 2L), "q193: a merge below the >=2 floor")
      val (m8, _) = TextAnalysis.bpeTrain(docs, "text", nMerges = 8)
      require(m.take(8).map(x => (x.left, x.right, x.count)) ==
        m8.map(x => (x.left, x.right, x.count)),
        "q193: incremental trainer diverged from the per-job trainer " +
          "inside the first 8 merges")
      if (m.length < 256) {
        // under-count is only legal when the vocab genuinely ran dry
        val residual = vocab.filter(size(col("syms")) >= 2)
          .select(col("freq"), explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (x, y) => struct(x.as("l"), y.as("r")))).as("p"))
          .groupBy(col("p")).agg(sum(col("freq")).as("c"))
          .filter(col("c") >= 2).limit(1).count()
        require(residual == 0L,
          s"q193: stopped at ${m.length}/256 merges with repeating pairs left")
      }
      // losslessness: every distinct token re-concats from its encoding
      val badWords = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("w")).distinct()
        .filter(concat_ws("", TextAnalysis.bpeEncode(col("w"), m)) =!= col("w"))
        .limit(1).count()
      require(badWords == 0L, "q193: encode under the trained merges lost a token")
      vocab.agg(sum(col("freq")).cast("long").as("n_tokens"))
        .select(col("n_tokens"), lit(true).as("lossless"),
          lit(true).as("merges_valid"))
    }),

    // --- BPE model persistence (round 11): the tokenizer-artifact
    //     half of train-once/serve-many (q191's discipline for the
    //     text side). Merges land as a ranked parquet table (rank IS
    //     semantics — BPE applies merges in training order); a FRESH
    //     session reloads and encodes the corpus, require()'d
    //     piece-identical to encoding under the in-memory model; rank
    //     gaps refuse at load (a torn merge table silently encodes a
    //     DIFFERENT tokenizer). Output: per-doc token count + total
    //     chars measured THROUGH the encoded pieces — the oracle
    //     recomputes both from the raw tokens, so the losslessness of
    //     the whole save→load→encode path is what hash-matches. ---
    "q196_bpe_model_serve" -> ((s, dir) => {
      import graft.operators.TextAnalysis
      // a FRESH session serves: nothing survives but the saved merges
      val (loaded, docs2, e1) = bpeServe(s.newSession(), dir)
      val (m, _, _) = TextAnalysis.bpeTrainIncremental(
        t(s, dir).documents, "text", nMerges = 64)
      require(loaded == m,
        "q196: save -> load must round-trip the ranked merge sequence exactly")
      val e2 = docs2.select(col("doc_id"),
        TextAnalysis.bpeEncode(col("text"), m).as("p"))
      require(e1.exceptAll(e2).isEmpty && e2.exceptAll(e1).isEmpty,
        "q196: encoding under the loaded model must be piece-identical " +
          "to the in-memory model")
      e1.select(col("doc_id"),
          aggregate(col("p"), lit(0L), (a, x) => a + length(x).cast("long"))
            .as("piece_chars"))
        .join(docs2.select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens")),
          Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("piece_chars"))
    }),

    // --- Multimodal batched inference with an oracle (round 11):
    //     pack text into opaque blobs, run the GPU-batch-shaped
    //     mapPartitions embed stage (fixed-size batches, lazy
    //     iterator, model "loaded" once per partition), and — because
    //     the toy model is integer-exact by design — replay the
    //     EMBEDDING VALUES themselves in SQL, not just invariants.
    //     Batch-size and partitioning invariance stay require()'d
    //     in-entry (two runs, different batch/partition shapes). ---
    "q194_multimodal_embed" -> ((s, dir) => {
      val (packed, e1) = batchEmbedStory(s, dir)
      val e2 = graft.operators.Multimodal.batchEmbed(packed.repartition(7),
        "doc_id", "blob", batchSize = 5, dim = 6)
      require(e1.exceptAll(e2).isEmpty && e2.exceptAll(e1).isEmpty,
        "q194: embeddings must be batch-size and partitioning invariant")
      e1.select(col("doc_id"), posexplode(col("embedding")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("k"),
          col("col").cast("long").as("moment"))
    }),

    // --- Streaming data quality (round 10): Deequ's incremental-
    //     metrics contract — per-micro-batch counter states merge
    //     under the exactly-once snapshot discipline (restart between
    //     chunks + no-new-data rerun probed), and the accumulated
    //     report equals the batch report over the union, which is
    //     what the oracle recomputes from the full table. ---
    "q189_stream_dq" -> ((s, dir) => {
      val (report, rerun) = dqReplay(s, dir)
      val p1 = report().collect().sortBy(_.toString).toSeq
      // idempotence: a no-new-data rerun must not move a counter
      rerun()
      val rep = report()
      require(rep.collect().sortBy(_.toString).toSeq == p1,
        "q189: a no-new-data re-run changed the accumulated metrics")
      rep
    }),

    // --- Governed promotion capstone (round 10): the whole CDC/DQ
    //     family as ONE dataflow — an incoming snapshot is (1) gated
    //     by a DQ suite (require all passed), (2) diffed against prod,
    //     (3) promoted via MERGE with the round-trip law require()'d,
    //     and (4) audited with a drift report over prod's equi-depth
    //     boundaries — which is what the query emits and the oracle
    //     replays end-to-end (q164's capstone discipline). ---
    "q187_governed_promotion" -> ((s, dir) => {
      import graft.operators.{DataQuality, Incremental, Relational}
      val base = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))
      val incoming = base.filter(col("k") % 17 =!= 0)
        .select(col("k"),
          when(col("k") % 7 === 0, upper(col("name"))).otherwise(col("name")).as("name"),
          when(col("k") % 7 === 0, col("bal") + 1000).otherwise(col("bal")).as("bal"))
        .unionByName(base.filter(col("k") % 13 === 0)
          .select((col("k") + 1000000).as("k"),
            concat(lit("new_"), col("k").cast("string")).as("name"),
            lit(0.0).as("bal")))
      // (1) DQ gate: nothing promotes on a red suite
      val gate = DataQuality.report(incoming, Seq(
        DataQuality.NotNull("k"), DataQuality.NotNull("name"),
        DataQuality.Unique(Seq("k")), DataQuality.MinRowCount(1L)))
      require(gate.filter(!col("passed")).limit(1).count() == 0L,
        "q187: DQ gate failed — promotion refused")
      // (2) diff + (3) promote, law-checked
      val diff = Incremental.snapshotDiff(base, incoming, Seq("k"))
      val promoted = Incremental.mergeUpsert(base,
        diff.withColumn("del", col("op") === "delete").drop("op"),
        Seq("k"), deleteCol = Some("del")).localCheckpoint()
      require(sameMultiset(promoted, incoming),
        "q187: promotion must reconstruct the incoming snapshot")
      // (4) audit: balance-distribution drift, prod boundaries
      Relational.distributionDrift(base, promoted, "bal", 16)
    }),

    // --- Point-in-time SCD2 read (round 10): "the table AS OF t" as a
    //     pure pushable filter over the versioned history. The query
    //     applies q176's change batch, reads the post-change snapshot,
    //     and FIRST require()s the time-travel round trip: reading
    //     between t0 and t1 reconstructs the ORIGINAL table exactly. ---
    "q186_asof_snapshot" -> ((s, dir) => {
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))
      val hist0 = cust
        .withColumn("valid_from", lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
        .withColumn("valid_to", lit(null).cast("timestamp"))
      val ch1 = cust.filter(col("k") % 7 === 0)
        .select(col("k"), upper(col("name")).as("name"), (col("bal") + 1000).as("bal"))
        .unionByName(cust.filter(col("k") % 13 === 0)
          .select((col("k") + 1000000).as("k"),
            concat(lit("new_"), col("k").cast("string")).as("name"),
            lit(0.0).as("bal")))
      val hist1 = graft.operators.Incremental.scd2Apply(hist0,
        ch1, Seq("k"), java.sql.Timestamp.valueOf("2021-06-01 00:00:00"))
        .localCheckpoint()
      val mid = graft.operators.Incremental.asOfSnapshot(hist1,
        java.sql.Timestamp.valueOf("2020-07-01 00:00:00"))
      require(sameMultiset(mid, cust),
        "q186: AS OF between t0 and t1 must reconstruct the original table")
      graft.operators.Incremental.asOfSnapshot(hist1,
        java.sql.Timestamp.valueOf("2021-07-01 00:00:00"))
    }),

    // --- Distribution drift (round 10): bin base AND an incoming
    //     slice by the BASE's equi-depth boundaries, report exact
    //     per-bin counts (the integers behind PSI/KL monitoring).
    //     The low-quantity slice has genuinely shifted extendedprice
    //     mass, so the drift is real, not a fixture artifact. ---
    "q185_distribution_drift" -> ((s, dir) => {
      val li = t(s, dir).lineitem
      graft.operators.Relational.distributionDrift(
        li, li.filter(col("l_quantity") <= 10), "l_extendedprice", 16)
    }),

    // --- Equi-depth histogram (round 10): EXACT B-quantile binning —
    //     bucket = (rank-1)·B div N over the competition rank, pure
    //     integer arithmetic, ties never straddle buckets. Engine rank
    //     = rankBy's two-pass counters (no global window); oracle rank
    //     = a plain RANK() window — the formulations check each
    //     other. ---
    "q184_equidepth_hist" -> ((s, dir) =>
      graft.operators.Relational.equiDepthHistogram(
        t(s, dir).lineitem, "l_extendedprice", buckets = 16)),

    // --- Skew profile (round 10): the "measure skew BEFORE the join"
    //     discipline as a first-class report — top-N heaviest keys via
    //     TakeOrderedAndProject (bounded per-partition heaps, never a
    //     total sort; plan-asserted), corpus total as a 1-row
    //     broadcast off the same grouped counts. Total order
    //     (cnt DESC, key ASC) makes cutoff ties deterministic. ---
    "q183_skew_profile" -> ((s, dir) =>
      graft.operators.Relational.skewProfile(
        t(s, dir).lineitem, Seq("l_partkey"), topN = 20)),

    // --- Distinctive vocabulary (round 10): fightin'-words-style
    //     corpus comparison, integer-exact — the odds-ratio threshold
    //     is evaluated by DECIMAL cross-multiplication, so no libm
    //     log/double ordering can flip a term at the boundary. One
    //     tokenize pass, one term shuffle, no join/window/sort. ---
    "q182_distinctive_terms" -> ((s, dir) =>
      graft.operators.TextAnalysis.distinctiveTerms(
        t(s, dir).documents, "text", "lang", "en", "fr", thr = 3L)),

    // --- Snapshot diff (round 10): the inverse of mergeUpsert — derive
    //     the MINIMAL change feed between two full snapshots (how a
    //     pipeline bootstraps CDC from snapshot-only upstreams). The
    //     round-trip law mergeUpsert(base, diff) == target is
    //     require()'d IN the query; the oracle replays the diff as
    //     full-outer set logic. ---
    "q181_snapshot_diff" -> ((s, dir) => {
      val (cust, target, diff) = snapshotDiffStory(s, dir)
      // both snapshots are re-scanned by the diff, the law probes AND
      // the final evaluation — persist the derived inputs once (r11
      // plan audit: the probes were recomputing `target`'s union per
      // pass); the diff itself stays lineage-fresh so its plan is the
      // operator's own one-join shape
      cust.persist(); target.persist()
      // round-trip law: applying the diff reconstructs the target exactly
      val applied = graft.operators.Incremental.mergeUpsert(cust,
        diff.withColumn("del", col("op") === "delete").drop("op"),
        Seq("k"), deleteCol = Some("del"))
      require(sameMultiset(applied, target),
        "q181: diff-then-apply must reconstruct the target snapshot")
      diff
    }),

    // --- Streaming SCD2 maintenance (round 10): CDC chunks stream in
    //     (one as_of per micro-batch) and fold into a versioned
    //     dimension history exactly once — the run replays two staged
    //     chunks with a RESTART between them plus a no-new-data rerun,
    //     and require()s idempotence and (k, valid_from) uniqueness.
    //     Oracle: the two applications chained as SQL set logic (the
    //     one-oracle-two-dataflows discipline, q173/q176 lineage). ---
    "q180_stream_scd2" -> ((s, dir) => {
      val (history, rerun) = scd2Replay(s, dir)
      def probe(df: DataFrame) = df.agg(count(lit(1)),
        sum(crc32(concat_ws("|", col("k"), col("name"), col("bal"),
          col("valid_from").cast("string"),
          coalesce(col("valid_to").cast("string"), lit("null")))))).collect().toSeq
      val p1 = probe(history())
      // idempotence probe: nothing new to process -> history unchanged
      rerun()
      val hist = history()
      require(probe(hist) == p1, "q180: a no-new-data re-run changed the history")
      val dup = hist.groupBy(col("k"), col("valid_from")).count()
        .filter(col("count") > 1).limit(1).count()
      require(dup == 0L, "q180: exactly-once violated — a version applied twice")
      hist
    }),

    // --- Small-file compaction (round 10): the OPTIMIZE rewrite — the
    //     corpus is first fragmented into 64 small files, then
    //     bin-packed back into target-sized files. compact() itself
    //     require()s the receipts (every planned bin = exactly ONE
    //     output file); the emitted rows are per-lang content stats of
    //     the COMPACTED table, which the oracle recomputes from the
    //     SOURCE — a hash match proves the rewrite lost/duplicated
    //     nothing (q173's require-plus-content-oracle pattern). ---
    "q179_compaction" -> ((s, dir) => {
      val tmp = workDir("graft_compact_q179_")
      val frag = s"$tmp/frag"; val opt = s"$tmp/opt"
      t(s, dir).documents.repartition(64).write.mode("overwrite").parquet(frag)
      val filesBefore = new java.io.File(frag).listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      graft.operators.Layout.compact(s, frag, opt, targetBytes = 256L * 1024)
      val filesAfter = new java.io.File(opt).listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      require(filesAfter < filesBefore,
        s"q179: compaction must reduce file count ($filesBefore -> $filesAfter)")
      // the rewrite is schema-preserving: readers see the SOURCE schema,
      // no __bin partition column grafted on (r10 ADVICE)
      require(s.read.parquet(opt).schema == s.read.parquet(frag).schema,
        "q179: compacted schema must equal the source schema")
      s.read.parquet(opt).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))
    }),

    // --- PPS systematic sampling (round 10): size-proportional doc
    //     selection in pure INTEGER arithmetic — bit-replayable from
    //     (seed, offset, step), no IEEE pow/log keys to diverge on.
    //     Engine: sharded prefix sums (parallelism = 256 shards);
    //     oracle: the serial single-window formulation — the two
    //     running-sum dataflows check each other. ---
    "q178_pps_sample" -> ((s, dir) =>
      graft.operators.TrainingPipeline.ppsSystematicSample(
        t(s, dir).documents, "doc_id", "n_chars",
        step = 3000L, offset = 7L)),

    // --- Data-quality constraint suite (round 10): the Deequ-style
    //     validation gate a pipeline runs before promoting a snapshot.
    //     ALL six row-local checks fold into ONE aggregate over ONE
    //     scan (map-side combined); each Unique costs one shuffle on
    //     its key set; RefIntegrity is one anti-join against DISTINCT
    //     reference keys. Mixed pass/fail statuses by construction
    //     (the in_range bound and the l_suppkey uniqueness fail). ---
    "q177_dq_report" -> ((s, dir) => {
      val tt = t(s, dir)
      import graft.operators.DataQuality._
      graft.operators.DataQuality.report(tt.lineitem, Seq(
        NotNull("l_orderkey"),
        Completeness("l_shipdate", 0.999),
        InRange("l_discount", 0.0, 0.05),
        AcceptedValues("l_returnflag", Seq("A", "N", "R")),
        MatchesRatio("l_linestatus", "^[OF]$", 1.0),
        MinRowCount(1000L),
        Unique(Seq("l_orderkey", "l_linenumber")),
        Unique(Seq("l_suppkey")),
        FunctionalDependency(Seq("l_orderkey", "l_linenumber"), "l_partkey"),
        FunctionalDependency(Seq("l_partkey"), "l_suppkey"),
        RefIntegrity("l_orderkey", tt.orders, "o_orderkey")))
    }),

    // --- SCD Type 2 history (round 10): the dimension-table versioning
    //     discipline — a change batch at time T closes genuinely
    //     changed current versions and opens new ones; attribute-equal
    //     changes are no-ops (no spurious versions); closed history
    //     passes through untouched (never joined — at 100 TB the
    //     history dwarfs the current slice). Oracle replays close/open/
    //     no-op set logic with IS DISTINCT FROM. ---
    "q176_scd2_history" -> ((s, dir) => {
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))
      val hist = cust
        .withColumn("valid_from", lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
        .withColumn("valid_to", lit(null).cast("timestamp"))
      val upd = cust.filter(col("k") % 7 === 0)
        .select(col("k"), upper(col("name")).as("name"), (col("bal") + 1000).as("bal"))
      val noop = cust.filter(col("k") % 5 === 0 && col("k") % 7 =!= 0)
      val ins = cust.filter(col("k") % 13 === 0)
        .select((col("k") + 1000000).as("k"),
          concat(lit("new_"), col("k").cast("string")).as("name"),
          lit(0.0).as("bal"))
      graft.operators.Incremental.scd2Apply(hist,
        upd.unionByName(noop).unionByName(ins), Seq("k"),
        java.sql.Timestamp.valueOf("2021-06-01 00:00:00"))
    }),

    // --- PCA whitening (round 10): the embedding-preprocessing step
    //     real ANN/PQ pipelines run (OPQ lineage). Data-sized work is
    //     ONE moment pass (2 145 DECIMAL-exact sums, map-side combined)
    //     + ONE projection scan through the AffineProject codegen
    //     kernel; the 64x64 eigensolve is driver-side model work
    //     (deterministic cyclic Jacobi). The oracle replays the entire
    //     exact moment matrix; the whitening contract (covariance of
    //     the projected data == I within 1e-6, eigenvalues descending)
    //     is computed here and pinned TRUE. ---
    "q174_pca_whiten" -> ((s, dir) => {
      import graft.operators.Linalg
      val dim = 64; val k = 16
      val ((_, sums, prods), white, vals) = pcaStory(s, dir)
      val eigsDesc = vals.zip(vals.tail).forall { case (a, b) => a >= b }
      val wm = Linalg.secondMoments(white, "white", k)
      val wc = Linalg.covariance(wm._1, wm._2, wm._3)
      val maxOff = (for (i <- 0 until k; j <- 0 until k if i != j)
        yield math.abs(wc(i)(j))).max
      val maxDiag = (0 until k).map(i => math.abs(wc(i)(i) - 1.0)).max
      val whiteOk = maxOff < 1e-6 && maxDiag < 1e-6
      import s.implicits._
      val prodRows = for (i <- 0 until dim; j <- i until dim)
        yield (i, j, prods(i)(j).doubleValue())
      val meanRows = (0 until dim).map(i => (i, -1, sums(i).doubleValue()))
      (prodRows ++ meanRows).toDF("i", "j", "m2")
        .withColumn("whitened_identity", lit(whiteOk))
        .withColumn("eigs_desc", lit(eigsDesc))
    }),

    // --- exactly-once streaming shard export (round 10): docs arrive
    //     in two staged chunks with a RESTART between them (new query,
    //     same checkpoint) and a third no-new-data run probing
    //     idempotence; per-batch overwrite directories make retries
    //     rewrite themselves instead of duplicating. The manifest
    //     comes from the READ-BACK files; the oracle recomputes it
    //     from the source table + the shard rule — a hash match
    //     proves exactly-once delivery end to end. ---
    "q173_stream_export" -> ((s, dir) => {
      val tmp = workDir("graft_stream_q173_")
      val (manifest, rerun) = exportReplay(s, dir, tmp)
      val m1 = manifest().collect().sortBy(_.getLong(0)).toSeq
      // idempotence probe: nothing new to process -> export unchanged
      rerun()
      require(manifest().collect().sortBy(_.getLong(0)).toSeq == m1,
        "q173: a no-new-data re-run changed the export")
      val dupDocs = s.read.parquet(s"$tmp/out").groupBy(col("doc_id")).count()
        .filter(col("count") > 1).limit(1).count()
      require(dupDocs == 0L, "q173: exactly-once violated — a doc exported twice")
      manifest()
    }),

    // --- curation funnel report (round 10): per-stage survivor
    //     accounting in ONE scan — each row computes the deepest stage
    //     it survives, a stage-count-sized aggregate + driver suffix
    //     sums produce the report (a naive funnel re-scans the corpus
    //     per stage). The dedup-winner stage needs a join, so it is
    //     precomputed as a boolean column, per the operator contract. ---
    "q172_curation_funnel" -> ((s, dir) => {
      val base = t(s, dir).documents.withColumn("h", md5(col("text")))
      val winners = base.groupBy("h").agg(min(col("doc_id")).as("keep"))
      val flagged = base.join(winners, "h")
        .withColumn("is_w", col("doc_id") === col("keep"))
        .withColumn("nt", size(graft.operators.Dedup.tokens(col("text"))))
      graft.operators.TrainingPipeline.curationFunnel(flagged, col("nt"), Seq(
        "lang_en" -> (col("lang") === "en"),
        "min_chars" -> (col("n_chars") >= 200),
        "dedup_winner" -> col("is_w"),
        "min_tokens" -> (col("nt") >= 30)))
    }),

    // --- leakage-safe split (round 10): train/val side is a function
    //     of the doc's TEXT hash, so exact duplicates can never
    //     straddle the split (a per-row randomSplit leaks every dup
    //     across the boundary — eval inflation, same failure mode as
    //     benchmark contamination). valFrac 0.125 is dyadic: the md5
    //     draw comparison is IEEE-exact and the oracle replays it. ---
    "q171_leakage_safe_split" -> ((s, dir) =>
      graft.operators.TrainingPipeline.leakageSafeSplit(
        t(s, dir).documents, "doc_id", col("text"), valFrac = 0.125)),

    // --- fractional upsampling (round 10): the mix-sheet half that
    //     temperatureMixture's capped rate refuses — "repeat src0
    //     2.5x" = 2 copies each + an md5-chosen half a third. Dyadic
    //     fractional parts make the draw comparison IEEE-exact, so the
    //     oracle replays the copy count per doc digit by digit. ---
    "q170_upsample_repeat" -> ((s, dir) =>
      graft.operators.TrainingPipeline.upsampleRepeat(
        t(s, dir).documents, "doc_id", "source",
        rates = Map("src0" -> 2.5, "src1" -> 0.25), defaultRate = 1.0)),

    // --- Z-order clustering key (round 10): the Morton interleave
    //     behind Delta/Iceberg OPTIMIZE ZORDER, as five shift/mask
    //     steps per column — all built-in codegen'd expressions, no
    //     UDF. The layout rewrite itself (repartitionByRange on this
    //     key + write) and the measured file-skipping receipts live in
    //     LayoutSpec; this query pins the bit permutation row-by-row
    //     against the oracle's identical shift chain. ---
    "q169_zorder_key" -> ((s, dir) =>
      t(s, dir).lineitem.select(col("l_orderkey"), col("l_linenumber"),
        graft.operators.Layout.zValue2(col("l_orderkey"), col("l_partkey"))
          .as("zvalue"))),

    // --- 3-column Z-order key (round 10 late): Delta's
    //     `OPTIMIZE ZORDER BY (a,b,c)` arity — bits land 2 apart, 21
    //     bits per key, same codegen'd shift/mask chain and the same
    //     generated-CTE oracle discipline as q169. ---
    "q188_zorder3_key" -> ((s, dir) =>
      t(s, dir).lineitem.select(col("l_orderkey"), col("l_linenumber"),
        graft.operators.Layout.zValue3(col("l_partkey"), col("l_suppkey"),
          col("l_linenumber")).as("zvalue"))),

    // --- KMV overlap sketch (round 10; Bar-Yossef et al. 2002): the
    //     train-vs-benchmark contamination estimate — each corpus
    //     reduces to k=1024 longs (one combiner-friendly aggregation,
    //     k-element states on the shuffle), then distinct counts AND
    //     Jaccard overlap are driver arithmetic on 2k values. The
    //     bounds are MEASURED on this deterministic pipeline (KmvProbe,
    //     a probe main deleted after commit 71395f2:
    //     distinct err <= 5.2%, |J_est - J| <= 0.0035 across SFs) and
    //     pinned with margin; exact counts come back as columns the
    //     oracle recomputes from scratch. Merge law (sketch(A ∪ B) ==
    //     merge(sketch(A), sketch(B))) is asserted exactly. ---
    "q168_kmv_overlap" -> ((s, dir) => {
      import graft.operators.{Dedup, Sketches}
      val k = 1024
      val sh = t(s, dir).documents.select(col("source"),
        explode(Dedup.wordShingles(Dedup.tokens(col("text")), 5)).as("g"))
      val a = sh.filter(col("source") =!= "src0").select("g")
      val b = sh.filter(col("source") === "src0").select("g")
      val na = a.distinct().count(); val nb = b.distinct().count()
      val inter = a.distinct().join(b.distinct(), "g").count()
      val uni = na + nb - inter
      // the halves' sketches MERGE from the per-source sketches of the
      // story (one row per source), and must equal one sketch of the
      // whole stream — the merge law, asserted exactly
      val (hs, perSource) = kmvStory(s, dir)
      val bySource = perSource.collect().map(r => r.getString(0) -> r.getSeq[Long](1))
      def merged(sks: Seq[Seq[Long]]) = sks.reduce(Sketches.mergeSketches(_, _, k))
      val sa = merged(bySource.collect { case (src, sk) if src != "src0" => sk }.toSeq)
      val sb = merged(bySource.collect { case ("src0", sk) => sk }.toSeq)
      val whole = Sketches.kmvPerGroup(hs.withColumn("grp", lit("x")), "grp", "h", k)
        .select("sketch").collect()(0).getSeq[Long](0)
      val jExact = inter.toDouble / uni
      val estJ = Sketches.jaccardEstimate(sa, sb, k)
      val okA = math.abs(Sketches.distinctEstimate(sa, k) - na) / na <= 0.10
      val okB = math.abs(Sketches.distinctEstimate(sb, k) - nb) / nb <= 0.10
      val okJ = math.abs(estJ - jExact) <= 0.01
      val mergeExact = Sketches.mergeSketches(sa, sb, k) == whole
      import s.implicits._
      Seq((na, nb, inter, uni, okA, okB, okJ, mergeExact))
        .toDF("n_a", "n_b", "inter_exact", "union_exact",
          "est_na_within_10pct", "est_nb_within_10pct",
          "est_j_abs_err_le_1pct", "merge_exact")
    }),

    // --- link-analysis ranking (round 10): PageRank as a curation
    //     prior (the Common Crawl host-rank idiom), in exact integer
    //     arithmetic so the oracle replays ALL iterations hash-exact.
    //     Fixture graph: the symmetric customer<->supplier trade graph
    //     (both directions, so mass cycles and every iteration moves).
    //     Node ids are prefixed ('c'/'s') — the two key spaces overlap
    //     numerically and must not alias. ---
    "q167_pagerank" -> ((s, dir) => {
      val tb = t(s, dir)
      val e = tb.orders
        .join(tb.lineitem, col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
                concat(lit("s"), col("l_suppkey")).as("dst"))
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Graph.pageRank(sym, "src", "dst", iters = 3)
    }),

    // --- DSIR importance resampling (round 9; Xie et al. 2023):
    //     score every doc by the hashed-n-gram target/source frequency
    //     ratio — here target = the English slice, i.e. "how English-
    //     web-like is this doc's n-gram profile". Exact-integer
    //     weights (md5-prefix buckets, BIGINT div) so DuckDB replays
    //     the full per-doc score hash-exact — no float log-sums. ---
    "q156_importance_weights" -> ((s, dir) => {
      val d = t(s, dir).documents
      graft.operators.TrainingPipeline.importanceWeights(
        d, d.filter(col("lang") === "en"), "doc_id", "text")
    }),

    // --- in-engine classifier TRAINING (round 9): batch logistic
    //     regression over the same md5-bucket features q139's scorer
    //     applies — gradient sums cast to DECIMAL(38,18) before
    //     aggregation, so the weight trajectory is bit-identical
    //     under any partitioning (spec-pinned). Label: doc contains
    //     the token 'batch' — a bucket-separable target, so the fit
    //     must fully separate (measured acc 1.000 at all three SFs;
    //     pinned ≥0.95; majority class is 0.77–0.80). Invariant-row
    //     oracle (q59 pattern). ---
    "q159_train_classifier" -> ((s, dir) => {
      val docs = t(s, dir).documents
        .withColumn("y", array_contains(
          split(lower(col("text")), "\\s+"), "batch").cast("int"))
      val fit = graft.operators.ClassifierTrain.fit(
        docs, "text", "y", dim = 1024, iters = 40, lr = 1.0)
      val scored = docs.withColumn("p",
        graft.operators.ClassifierTrain.score(col("text"), fit, 1024))
      val acc = scored
        .filter((col("p") >= 0.5) === (col("y") === 1)).count().toDouble / fit.n
      docs.agg(count(lit(1)).as("n_docs"))
        .select(col("n_docs"),
          lit(fit.losses.last < fit.losses.head).as("loss_decreased"),
          lit(acc >= 0.95).as("acc_ge_95"))
    }),

    // --- hard per-group token budgets (round 8) — the exact-budget
    //     half of data mixing (temperatureMixture is the rate half):
    //     md5-ordered greedy prefix per lang until the budget fills;
    //     deterministic under any partitioning/retry. Round 9: the
    //     running sum shards each group into md5-range slices with
    //     broadcast cumulative offsets (rankBy's two-pass trick), so
    //     parallelism = groups x shards, not group count. ---
    "q150_token_budget" -> ((s, dir) =>
      graft.operators.TrainingPipeline.tokenBudgetSample(
        t(s, dir).documents, "lang", "doc_id", "text",
        budgets = Map("en" -> 2000L, "de" -> 1000L), defaultBudget = 500L)),

    // --- SemDeDup (Abbas et al. 2023): embedding-cluster semantic
    //     dedup — assignment is a zero-shuffle projection over inlined
    //     centroid literals (IVF discipline); within-cluster prune
    //     keeps the lowest id among cosine>=0.9 near-dups. q38's
    //     planted-clone harness: every 50th vector gets an identical
    //     clone at vec_id+1000000 — each clone lands in its source's
    //     cluster (cosine 1.0 ≫ natural max ~0.48) and MUST be the
    //     pruned one (higher id); everything else must be kept. ---
    "q135_semdedup" -> ((s, dir) => {
      val e = t(s, dir).embeddings
      val planted = e.unionAll(
        e.filter(col("vec_id") % 50 === 0)
          .withColumn("vec_id", col("vec_id") + 1000000L))
      graft.operators.Similarity.semDedup(
        planted, "vec_id", "embedding", k = 8, tau = 0.9)
    }),

    // --- SimHash block LSH, the 6-block SCALE shape (20 combos of 3
    //     blocks, ~32-bit keys — buckets stay O(1) at 50M+ docs where
    //     the 4×16-bit default floods): pigeonhole-EXACT for hamming≤3
    //     like q36, so banded must equal brute force pair-for-pair. ---
    "q132_simhash_6block" -> ((s, dir) => simhashVsBrute(s, dir, blocks = 6)),

    // --- streaming replay through the real engine (watermark + window
    //     + append-mode parquet sink, Trigger.AvailableNow, checkpoint
    //     resume across runs). A sentinel event 365 days past the
    //     fixture's max ts pushes the watermark beyond every real
    //     window, so the emitted set is EXACTLY the batch answer —
    //     which DuckDB recomputes. The sum goes through DECIMAL so
    //     incremental state merge order cannot perturb the hash. ---
    "q106_stream_replay" -> ((s, dir) => {
      val tmp = workDir("graft_stream_q106_")
      val src = s"$tmp/src"; val sink = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
      Fixtures.linkParquet(Fixtures.events(s, dir), src, "ev_")
      val ss = graft.streaming.EventsStreaming.replaySession(s)
      def run(): Unit = {
        val counts = graft.streaming.EventsStreaming.readEvents(ss, src)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
               sum(col("value").cast(DecimalType(18, 4))).as("sum_dec"))
          .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
            col("event_type"), col("n_events"),
            col("sum_dec").cast("double").as("sum_value"))
        val q = counts.writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      run() // phase 1: the real timeline
      Fixtures.linkParquet(Fixtures.sentinel(s, dir), src, "sn_")
      run() // phase 2: sentinel arrives, watermark passes every real window
      s.read.parquet(sink).filter(col("event_type") =!= "__sentinel")
        .select(col("w_start"), col("w_end"), col("event_type"),
          col("n_events"), col("sum_value"))
    }),

    // --- bigram-LM perplexity (CCNet-style quality filtering signal):
    //     model trained on the corpus itself, so DuckDB recomputes the
    //     identical counts and scores exactly ---
    "q107_bigram_ppl" -> ((s, dir) =>
      graft.operators.TextAnalysis.bigramPerplexity(
        t(s, dir).documents, "doc_id", "text")),

    // --- temperature mixture resampling (LLaMA-style data mixing):
    //     τ = 0.7, budget = 50% of corpus tokens; keep decisions are
    //     md5-fraction deterministic so DuckDB recomputes the exact
    //     kept set ---
    "q108_temperature_mix" -> ((s, dir) =>
      graft.operators.TrainingPipeline.temperatureMixture(
        t(s, dir).documents, "doc_id", "source",
        graft.operators.TextAnalysis.wsTokenCount(col("text")),
        tau = 0.7, budgetFrac = 0.5)),

    // --- TOP(n, field, bag) builtin through the Pig front-end ---
    "q109_pig_top" -> pigQ("/pig/q109_top_builtin.pig"),

    // --- streaming stream–static enrichment (the lookup-join shape):
    //     events replay through the engine, each micro-batch joins the
    //     broadcast customer dim; append mode with no aggregation emits
    //     every row exactly once, so the sink equals the batch left
    //     join DuckDB computes ---
    "q110_stream_enrich" -> ((s, dir) => {
      val tmp = workDir("graft_stream_q110_")
      val src = s"$tmp/src"; val sink = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
      Fixtures.linkParquet(Fixtures.events(s, dir), src, "ev_")
      val ss = graft.streaming.EventsStreaming.replaySession(s)
      // dim read through the SAME session as the stream: mixing frames
      // from two sessions in one plan is undefined in Spark
      val dim = t(ss, dir).customer.select(col("c_custkey"), col("c_mktsegment"))
      val q = graft.streaming.EventsStreaming.enriched(
          graft.streaming.EventsStreaming.readEvents(ss, src), dim,
          "user_id", "c_custkey")
        .select(col("event_id"), col("user_id"), col("event_type"), col("c_mktsegment"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(sink)
    }),

    // --- stream–stream interval join (the one streaming join shape
    //     q110's stream–static enrich doesn't cover): click→purchase
    //     attribution, purchases within 30 min of a same-user click.
    //     Inner interval matches emit eagerly under AvailableNow, so
    //     the sink equals the batch interval join, which DuckDB
    //     recomputes; the time-range predicate is also what bounds the
    //     join state at scale (state = key-rate × window, not the
    //     stream). ---
    "q136_stream_interval_join" -> ((s, dir) => {
      val tmp = workDir("graft_stream_q136_")
      val src = s"$tmp/src"; val sink = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
      Fixtures.linkParquet(Fixtures.events(s, dir), src, "ev_")
      // replay on a cloned session: state-store parallelism sized to
      // the replay (see EventsStreaming.replaySession)
      val ss = graft.streaming.EventsStreaming.replaySession(s)
      val clicks = graft.streaming.EventsStreaming.readEvents(ss, src)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
          col("user_id").as("click_user"))
      val buys = graft.streaming.EventsStreaming.readEvents(ss, src)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"), col("ts").as("buy_ts"),
          col("user_id"), col("value"))
      val q = graft.streaming.EventsStreaming.streamIntervalJoin(
          clicks, buys, "click_user", "user_id", "click_ts", "buy_ts",
          within = "30 minutes")
        .select(col("click_id"), col("buy_id"), col("user_id"),
          // explicit floor: double->int cast rounding conventions
          // differ across engines; floor is IEEE-identical everywhere
          expr("CAST(floor(value * 100) AS BIGINT)").as("value_cents"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(sink)
    }),

    // --- stream–stream LEFT OUTER interval join: unmatched left rows
    //     can only emit once the watermark proves no match can still
    //     arrive, so the q106 sentinel discipline applies — phase 1
    //     replays the real timeline (inner matches emit eagerly,
    //     unmatched lefts are HELD in state), phase 2 appends a far
    //     -future sentinel to BOTH type-filtered streams, advancing
    //     the global watermark past every real interval and flushing
    //     the null-extended rows. Sink must equal the batch LEFT JOIN
    //     (DuckDB). ---
    "q138_stream_outer_join" -> ((s, dir) =>
      outerJoinReplay(s, dir, "left_outer")),

    // --- streaming dedup (dropDuplicatesWithinWatermark): the fixture
    //     is written to the source TWICE, so every event arrives as a
    //     duplicate; the engine must emit each event_id exactly once,
    //     whether the copies land in one micro-batch (in-batch dedup)
    //     or two (state lookup / late-drop past the watermark — both
    //     suppress the re-emit). Sink must equal the batch DISTINCT,
    //     which DuckDB recomputes. ---
    "q129_stream_dedup" -> ((s, dir) => {
      val tmp = workDir("graft_stream_q129_")
      val src = s"$tmp/src"; val sink = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
      val events = Fixtures.events(s, dir)
      Fixtures.linkParquet(events, src, "ev1_")
      Fixtures.linkParquet(events, src, "ev2_") // the duplicates
      val ss = graft.streaming.EventsStreaming.replaySession(s)
      val q = graft.streaming.EventsStreaming.readEvents(ss, src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(sink)
    }),

    // --- sketch bounds under the oracle: at 100 TB you count with
    //     HLL++ and quantile sketches, not exact aggregates — this
    //     entry computes BOTH and asserts the sketch lands within its
    //     contract (both sketches are deterministic given the data, so
    //     the booleans are stable); DuckDB recomputes the exact side ---
    "q111_sketch_bounds" -> ((s, dir) =>
      t(s, dir).lineitem
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("__hll"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_exact"),
          expr("approx_percentile(l_quantity, 0.5, 1000)").as("__p50a"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("__hll") - col("exact_orders"))
            <= col("exact_orders") * 0.05).as("hll_within_5pct"),
          col("p50_exact"),
          (abs(col("__p50a") - col("p50_exact")) <= lit(1.0)).as("p50_within_1"))),

    // --- typed streaming state (mapGroupsWithState) under the oracle:
    //     one AvailableNow batch over the replayed events emits each
    //     user's final running totals, which equal the batch aggregate;
    //     the double sum is rounded to 4 (state iteration order vs SQL
    //     sum order differ by ~1e-12 on these magnitudes) ---
    "q112_stream_state" -> ((s, dir) => {
      import graft.streaming.EventsStreaming
      import s.implicits._
      val tmp = workDir("graft_stream_q112_")
      Fixtures.linkParquet(Fixtures.events(s, dir), s"$tmp/src", "ev_")
      val name = "q112_state_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // cloned replay session: state-store parallelism sized to the
      // replay, AND the RocksDB provider conf stays scoped to the clone
      val ss = EventsStreaming.replaySession(s)
      EventsStreaming.runAvailableNow(
        EventsStreaming.userRunningTotals(
          EventsStreaming.readEvents(ss, s"$tmp/src").as[EventsStreaming.Event]).toDF(),
        name, org.apache.spark.sql.streaming.OutputMode.Update())
      // update-mode memory sink keeps every emission; the final state
      // per user is the row with max n_events (strictly increasing)
      // (memory sink registers in the CLONE's catalog)
      ss.table(name).groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("total_value"))).as("s"))
        .select(col("user_id"), col("s.n_events").as("n_events"),
          round(col("s.total_value"), 4).as("total_value"))
    }),

    // --- STREAMING near-dup dedup (round 9): the MinHash-LSH pipeline
    //     incrementalized — in-stream banding (same codegen kernels as
    //     batch) into a typed transformWithState that records each
    //     band key's earliest-(ts,id) OWNER; a doc is a near-dup iff
    //     any band is owned by an earlier doc. The stream's verdicts
    //     must EQUAL the batch min-(ts,id) owner rule (computed
    //     independently via groupBy min + join), and every exact
    //     duplicate (same text, later id) must be flagged — an
    //     independent semantic check that does not share the band
    //     dataflow. Invariant-row oracle (q59 pattern): counts DuckDB
    //     can derive + booleans pinned TRUE. ---
    "q158_stream_near_dup" -> ((s, dir) => {
      val docs = t(s, dir).documents.select(col("doc_id"), col("text"))
      val streamFlags = nearDupStream(s, dir).groupBy(col("doc_id"))
        .agg(max(col("dup_band").cast("int")).as("d"))
        .select(col("doc_id"), (col("d") === 1).as("s_dup"))
      val batchFlags = graft.streaming.CurationStreaming.batchNearDupFlags(
          docs.withColumn("ts", to_timestamp(lit(1700000000L) + col("doc_id"))))
        .withColumnRenamed("is_dup", "b_dup")
      val mismatches = streamFlags.join(batchFlags, Seq("doc_id"), "full_outer")
        .filter(!(col("s_dup") <=> col("b_dup"))).limit(1).count() // 1-row probe
      // independent semantic check: exact text dups (keeper = min id)
      // MUST be flagged — exact dups agree on every band
      val missedExact = docs.groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .join(docs, Seq("text"))
        .filter(col("doc_id") =!= col("keep_id"))
        .join(streamFlags, Seq("doc_id"))
        .filter(!col("s_dup")).limit(1).count() // 1-row probe
      docs.agg(count(lit(1)).as("n_docs"))
        .select(col("n_docs"),
          lit(mismatches == 0L).as("stream_equals_batch"),
          lit(missedExact == 0L).as("exact_dups_flagged"))
    }),

    // --- bucketed co-located join (the merge-join sparse-index
    //     equivalent): both sides written bucketed+sorted by the join
    //     key, so the SMJ plans with ZERO Exchange (SourcesSpec asserts
    //     the plan shape; this entry puts the result under the oracle) ---
    "q113_bucketed_join" -> ((s, dir) => {
      val tb = t(s, dir)
      // a fresh session's catalog does not know tables a PREVIOUS run
      // left in the warehouse dir — drop both catalog entry and stale
      // location before writing, so the query is rerunnable
      Seq("q113_orders", "q113_cust").foreach { name =>
        s.sql(s"DROP TABLE IF EXISTS $name")
        val p = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), name)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      tb.orders.write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("q113_orders")
      tb.customer.write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("q113_cust")
      s.table("q113_orders")
        .join(s.table("q113_cust"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
    }),

    // --- streaming session windows through the real engine (the
    //     gap-merge state machinery, not the batch shape): same
    //     two-phase sentinel replay as q106 — after the sentinel the
    //     watermark passes every real session's close, so the emitted
    //     set is exactly the batch session answer ---
    "q115_stream_sessions" -> ((s, dir) => {
      val tmp = workDir("graft_stream_q115_")
      val src = s"$tmp/src"; val sink = s"$tmp/sink"; val ckpt = s"$tmp/ckpt"
      Fixtures.linkParquet(Fixtures.events(s, dir), src, "ev_")
      val ss = graft.streaming.EventsStreaming.replaySession(s)
      def run(): Unit = {
        val q = graft.streaming.EventsStreaming.sessionCounts(
            graft.streaming.EventsStreaming.readEvents(ss, src),
            watermark = "10 minutes", gap = "30 minutes")
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      run()
      Fixtures.linkParquet(Fixtures.sentinel(s, dir), src, "sn_")
      run()
      s.read.parquet(sink).filter(col("user_id") =!= -1L)
        .select(col("user_id"), col("w_start"), col("w_end"), col("n_events"))
    }),

    // --- DSv2 connector (LoadFunc/LoadMetadata/LoadPushDown analogue)
    //     under the oracle: the synthetic corpus is a pure function of
    //     the id, so DuckDB regenerates the identical rows; the range
    //     filter + projection exercise both pushdown paths (plan
    //     asserts live in SourcesSpec) ---
    "q116_dsv2_source" -> ((s, dir) =>
      s.read.format("graft.sources.SyntheticDocs")
        .option("rows", 5000).option("partitions", 8).load()
        .filter(col("doc_id") >= 1000 && col("doc_id") < 3000)
        .select(col("doc_id"), col("lang"), col("text"))),

    // --- explicit salted join (Pig's skewed join as manual salting,
    //     for paths AQE's runtime split cannot reach) — same answer as
    //     the plain join, which DuckDB recomputes ---
    "q114_salted_join" -> ((s, dir) => {
      val tb = t(s, dir)
      Relational.saltedJoin(
          probe = tb.lineitem.select(col("l_orderkey"), col("l_quantity")),
          build = tb.orders.select(col("o_orderkey"), col("o_orderpriority")),
          probeKeys = Seq("l_orderkey"), buildKeys = Seq("o_orderkey"),
          salts = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    }),

    // --- piggybank SequenceFileLoader (SURVEY §2.1 "piggybank
    //     extras"): nation → (Text,Text) sequence file → read back →
    //     parse. Equality with the parquet source proves the Hadoop
    //     write+read path loses nothing. ---
    "q117_seqfile_roundtrip" -> ((s, dir) => {
      import graft.sources.Piggybank
      val tmp = workDir("graft_pb_seq_")
      val path = s"$tmp/nation_seq"
      val kv = t(s, dir).nation.select(
        col("n_nationkey").cast("string").as("k"),
        concat_ws("|", col("n_name"), col("n_regionkey")).as("v"))
      Piggybank.writeSequenceFile(kv, "k", "v", path)
      Piggybank.readSequenceFile(s, path)
        .select(col("key").cast("int").as("n_nationkey"),
          split(col("value"), "\\|").getItem(0).as("n_name"),
          split(col("value"), "\\|").getItem(1).cast("int").as("n_regionkey"))
    }),

    // --- piggybank CombinedLogLoader: render orders as Apache
    //     combined-log lines, write text, read back, regex-parse.
    //     DuckDB recomputes every parsed field straight from orders,
    //     so equality proves parse(format(x)) == x field-for-field. ---
    "q118_log_parse" -> ((s, dir) => {
      import graft.sources.Piggybank
      val tmp = workDir("graft_pb_log_")
      val logs = s"$tmp/access_log"
      val o = t(s, dir).orders.filter(col("o_orderkey") < 4000)
      val line = concat(
        lit("10.0."), (col("o_custkey") % 256).cast("int"),
        lit("."), (col("o_orderkey") % 256).cast("int"),
        lit(" - frank ["),
        date_format(col("o_orderdate"), "dd/MMM/yyyy:HH:mm:ss"),
        lit(" +0000] \"GET /order/"), col("o_orderkey"),
        lit(" HTTP/1.0\" "),
        when(col("o_orderstatus") === "F", 200)
          .when(col("o_orderstatus") === "O", 302).otherwise(404),
        lit(" "), col("o_orderkey") * 7 + 13,
        lit(" \"-\" \"graft-bench/1.0\""))
      o.select(line.as("value")).write.mode("overwrite").text(logs)
      s.read.text(logs)
        .select(Piggybank.parseCombinedLog(col("value")).as("r"))
        .select(col("r.ip").as("ip"), col("r.ts").as("ts_raw"),
          col("r.method").as("method"), col("r.uri").as("uri"),
          col("r.status").as("status"), col("r.bytes").as("bytes"),
          col("r.agent").as("agent"))
    }),

    // --- piggybank XMLLoader: parts rendered as MULTI-LINE <part>
    //     elements (attribute on the open tag, children indented),
    //     read back one row per element, fields re-extracted. ---
    "q119_xml_extract" -> ((s, dir) => {
      import graft.sources.Piggybank
      val tmp = workDir("graft_pb_xml_")
      val xml = s"$tmp/parts_xml"
      t(s, dir).part.filter(col("p_partkey") % 3 === 0)
        .select(concat(
          lit("<part id=\""), col("p_partkey"), lit("\">\n  <key>"),
          col("p_partkey"), lit("</key>\n  <name>"), col("p_name"),
          lit("</name>\n  <brand>"), col("p_brand"),
          lit("</brand>\n</part>")).as("value"))
        .write.mode("overwrite").text(xml)
      Piggybank.xmlRecords(s, xml, "part").select(
        Piggybank.xmlElement(col("record"), "key").cast("long").as("p_partkey"),
        Piggybank.xmlElement(col("record"), "name").as("p_name"),
        Piggybank.xmlElement(col("record"), "brand").as("p_brand"))
    }),

    // --- piggybank CSVExcelStorage: fields with embedded delimiter,
    //     quote, AND newline survive a write+read round trip (the case
    //     plain PigStorage cannot express). ---
    "q120_csv_excel" -> ((s, dir) => {
      import graft.sources.Piggybank
      val tmp = workDir("graft_pb_csv_")
      val csvp = s"$tmp/tricky_csv"
      val n = t(s, dir).nation
      Piggybank.writeCsvExcel(
        n.select(col("n_nationkey"),
          concat(col("n_name"), lit(", \"x\"\nline2")).as("field")), csvp)
      Piggybank.readCsvExcel(s, csvp)
        .select(col("_c0").cast("int").as("n_nationkey"),
          col("_c1").as("field"))
    }),

    // --- merge-sparse join analogue (SURVEY §2 merge-sparse row):
    //     lineitem written sorted by l_orderkey, then a SELECTIVE
    //     probe (every 997th order) joined through the parquet-footer
    //     sparse index — only files whose [min,max] can contain a
    //     probe key are scanned. Same answer as the plain join, which
    //     DuckDB recomputes; pruning is plan-asserted in
    //     SparseIndexSpec. ---
    "q122_sparse_lookup" -> ((s, dir) => {
      val probe = t(s, dir).orders
        .filter(col("o_orderkey") % 997 === 0)
        .select(col("o_orderkey"), col("o_orderpriority"))
      graft.operators.SparseIndex
        .lookupJoin(s, sortedLineitem(s, dir), "l_orderkey", probe, "o_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("o_orderpriority"))
    }),

    // --- the same shape through the Pig front end: JOIN … USING
    //     'merge-sparse' routes to the footer-pruned lookup (routing
    //     is plan-asserted in SparseIndexSpec) ---
    "q123_pig_merge_sparse" -> ((s, dir) => {
      graft.pig.PigScript.queryResource(s, "/pig/q123_merge_sparse.pig",
        Map("DIR" -> dir, "SORTED" -> sortedLineitem(s, dir)))
    }),

    // --- URL curation (C4/RefinedWeb-style): messy synthetic URLs
    //     (uppercase scheme+host, utm params, fragments) derived from
    //     documents must normalize into exactly the canonical form the
    //     oracle builds from first principles, then aggregate per
    //     registered domain. ---
    "q124_url_curate" -> ((s, dir) => {
      import graft.operators.TextAnalysis
      val d = t(s, dir).documents
      val rawUrl = concat(
        lit("HTTPS://WWW."), col("source"),
        (col("doc_id") % 7).cast("string"), lit(".COM/p/"),
        col("doc_id").cast("string"),
        lit("?utm_campaign=c"), (col("doc_id") % 5).cast("string"),
        lit("&q="), (col("doc_id") % 3).cast("string"), lit("#sec"))
      TextAnalysis.domainStats(d, rawUrl, col("n_chars"))
    }),

    // --- incremental-ingest dedup: new batch vs the accumulated
    //     corpus — bloom prefilter reroutes rows, exact anti-join
    //     decides; answer must equal the plain NOT IN, which DuckDB
    //     recomputes on md5 fingerprints. ---
    "q125_incremental_dedup" -> ((s, dir) => {
      import graft.operators.Dedup
      val corpus = t(s, dir).documents
        .filter(col("doc_id") % 2 === 0)
        .select(md5(col("text")).as("fp"))
      val batch = t(s, dir).documents
        .select(col("doc_id"), md5(col("text")).as("fp"))
      Dedup.incrementalNew(batch, corpus, "fp", expectedSeen = 100000L)
        .select(col("doc_id"), col("fp"))
    }),

    // --- HBaseStorage-shaped KV connector (SURVEY §2.1): customer
    //     written as a sorted KV table, read back through the DSv2
    //     connector with a key-range filter (file pruning + in-file
    //     scan range, plan-asserted in KeyValueStoreSpec) and column
    //     projection. DuckDB recomputes from the customer source. ---
    "q126_kv_store" -> ((s, dir) => {
      import graft.sources.KeyValueStore
      val tmp = workDir("graft_kv_")
      val kv = s"$tmp/customer_kv"
      KeyValueStore.write(t(s, dir).customer, "c_custkey",
        Seq("c_name", "c_nationkey", "c_acctbal"), kv, nFiles = 8)
      s.read.format(KeyValueStore.Format).load(kv)
        .filter(col("key") >= 100 && col("key") < 600)
        .select(col("key"), col("c_name"),
          col("c_nationkey").cast("int").as("c_nationkey"))
    }),

    // --- DSv2 aggregate pushdown over the sorted-KV store (round 9):
    //     COUNT/MIN/MAX answered from the per-file index WITHOUT
    //     opening a data file (plan-asserted inline — the stats-only
    //     shape is part of this query's contract); the oracle
    //     recomputes the same aggregates from the source table. ---
    "q163_kv_agg_pushdown" -> ((s, dir) => {
      import graft.sources.KeyValueStore
      val tmp = workDir("graft_kv_agg_")
      val kvp = s"$tmp/customer_kv"
      KeyValueStore.write(t(s, dir).customer, "c_custkey",
        Seq("c_name"), kvp, nFiles = 8)
      val stats = s.read.format(KeyValueStore.Format).load(kvp)
        .agg(expr("count(*)").as("n_keys"),
          min(col("key")).as("min_key"), max(col("key")).as("max_key"))
      val plan = stats.queryExecution.executedPlan.toString
      require(plan.contains("STATS-ONLY"),
        s"q163 contract violated: aggregation was not index-answered\n${plan.take(1500)}")
      stats
    }),

    // --- the same table through the Pig front end:
    //     LOAD … USING HBaseStorage('d:c_name d:c_acctbal',
    //     '-loadKey true') ---
    "q127_pig_hbase" -> ((s, dir) => {
      import graft.sources.KeyValueStore
      val tmp = workDir("graft_kv_pig_")
      val kv = s"$tmp/customer_kv"
      KeyValueStore.write(t(s, dir).customer, "c_custkey",
        Seq("c_name", "c_nationkey", "c_acctbal"), kv, nFiles = 8)
      graft.pig.PigScript.query(s,
        s"""C = LOAD '$kv'
              USING org.apache.pig.backend.hadoop.hbase.HBaseStorage(
                'd:c_name d:c_acctbal', '-loadKey true')
              AS (c_custkey:long, c_name:chararray, c_acctbal:double);
            F = FILTER C BY c_custkey <= 300;
            STORE F INTO 'out';""")
    }),

    // --- MAPREDUCE native-job operator (SURVEY §2.7): STORE → opaque
    //     external job (a shell script standing in for the jar; the
    //     client-side submission boundary is the same) → LOAD. The
    //     job's awk filter is recomputed by DuckDB. ---
    "q128_pig_mapreduce" -> ((s, dir) => {
      val tmp = workDir("graft_mr_")
      val job = s"$tmp/job.sh"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(job),
        """#!/bin/sh
          |set -e
          |in="$1"; out="$2"
          |cat "$in"/part-* | awk -F'\t' '$3 >= 3 {print $1"\t"$2}' > "$out"
          |""".stripMargin)
      graft.pig.PigScript.queryResource(s, "/pig/q128_mapreduce.pig",
        Map("DIR" -> dir, "MRJOB" -> job,
          "MRIN" -> s"$tmp/mr_in", "MROUT" -> s"$tmp/mr_out.tsv"))
    }),

    // --- Branching / named refs over the manifest log (round 15):
    //     fork a branch (O(manifest), shared data files), commit
    //     isolated work on BOTH sides — a scattered DV delete + an
    //     append on the branch, a file-disjoint DV delete on mainline
    //     — then fastForward the branch's NET effect onto mainline as
    //     ONE commit gated by the rebase disjointness analysis. The
    //     refusal pole is probed in-entry: a second branch masking a
    //     row in a file mainline then rewrites must be refused loudly,
    //     and a repeated fastForward of a landed tip is a no-op. The
    //     oracle recomputes the landed table from raw parquet. ---
    "q255_branch_fast_forward" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_br_q255_") + "/t"
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))
      require(VersionedTable.commit(s, vt, cust, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      require(VersionedTable.createBranch(s, vt, "dev") == 0L)
      val ref = VersionedTable.branchRef(vt, "dev")
      val maxK = cust.agg(max(col("k"))).head.getLong(0)
      val lo = maxK / 8
      val hi = maxK * 7 / 8
      // branch leg 1: scattered DV delete in the LOW band
      val dB = VersionedTable.deleteWhere(s, ref,
        s"k <= $lo AND k % 5 = 1", 0L, "wb")
      require(dB.version == 1L && dB.rowsDeleted > 0,
        s"q255: the branch delete must mask rows: $dB")
      // branch leg 2: append re-keyed rows (new file, zero rewrites)
      VersionedTable.commitDelta(s, ref,
        Some(cust.filter(col("k") <= 20)
          .select((col("k") + 10000000L).as("k"),
            concat(lit("b_"), col("k").cast("string")).as("name"),
            lit(0.0).as("bal")).coalesce(1)),
        Seq.empty, 1L, "wb")
      // mainline advances CONCURRENTLY: a DV delete in the HIGH band —
      // file-disjoint from everything the branch touched
      val dM = VersionedTable.deleteWhere(s, vt,
        s"k > $hi AND k % 7 = 3", 0L, "wm")
      require(dM.version == 1L && dM.rowsDeleted > 0,
        s"q255: the mainline delete must mask rows: $dM")
      locally {
        val bT = VersionedTable.readManifest(s, ref, 1L).dv.keySet
        val mT = VersionedTable.readManifest(s, vt, 1L).dv.keySet
        require(bT.nonEmpty && mT.nonEmpty && (bT & mT).isEmpty,
          s"q255: fixture must be file-disjoint: $bT vs $mT")
      }
      // the landing: one atomic mainline commit, both masks carried
      val landed = VersionedTable.fastForward(s, vt, "dev", "merger")
      require(landed.contains(2L), s"q255: must land as v2: $landed")
      require(VersionedTable.fastForward(s, vt, "dev", "merger").isEmpty,
        "q255: a landed tip must not land twice")
      // refusal pole: branch masks k=2; mainline rewrites k=2's file
      // (an identity update of the same row) → same-file overlap,
      // refused (k=2 survives both band deletes: 2%5≠1 and 2 ≤ hi)
      require(VersionedTable.createBranch(s, vt, "hot") == 2L)
      val hotRef = VersionedTable.branchRef(vt, "hot")
      val dH = VersionedTable.deleteWhere(s, hotRef, "k = 2", 2L, "wh")
      require(dH.rowsDeleted == 1L, s"q255: hot-branch mask: $dH")
      require(VersionedTable.updateWhere(s, vt, "k = 2",
        Seq("name" -> "name"), 2L, "wm").nonEmpty,
        "q255: the mainline rewrite must touch k=2's file")
      val refused =
        try { VersionedTable.fastForward(s, vt, "hot", "merger"); false }
        catch { case _: VersionedTable.CommitConflict => true }
      require(refused,
        "q255: same-file overlap must refuse the merge-back loudly")
      VersionedTable.read(s, vt).select(col("k"), col("name"), col("bal"))
    }),

    // --- cherryPick + fastForward convergence (round 15): three
    //     branch commits (mask / append / mask); cherry-pick ONLY the
    //     append — mainline gains the rows and NEITHER mask; then
    //     fastForward lands the rest, idempotently keeping the picked
    //     files by reference. The oracle replays the converged table.
    //     The order-dependence refusal is probed in-entry. ---
    "q258_branch_cherry_pick" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_cp_q258_") + "/t"
      val base = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, base, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      require(VersionedTable.createBranch(s, vt, "fix") == 0L)
      val ref = VersionedTable.branchRef(vt, "fix")
      val d1 = VersionedTable.deleteWhere(s, ref, "k % 91 = 5", 0L, "wb")
      require(d1.rowsDeleted > 0, s"q258: branch mask 1: $d1")
      VersionedTable.commitDelta(s, ref,
        Some(base.filter(col("k") % 131 === 0)
          .select((col("k") + 8000000L).as("k"), lit("9-PICK").as("pr"),
            lit(2.0).as("price")).coalesce(1)),
        Seq.empty, 1L, "wb")
      val d3 = VersionedTable.deleteWhere(s, ref,
        "k % 87 = 11 AND k < 8000000", 2L, "wb")
      require(d3.rowsDeleted > 0, s"q258: branch mask 2: $d3")
      // pick ONLY the append (branch v2)
      require(VersionedTable.cherryPick(s, vt, "fix", 2L, "picker") == 1L)
      val afterPick = VersionedTable.read(s, vt)
      val nAppend = base.filter(col("k") % 131 === 0).count()
      require(afterPick.filter(col("pr") === "9-PICK").count() == nAppend,
        "q258: the picked append must land in full")
      require(afterPick.filter(col("k") % 91 === 5 &&
          col("k") < 8000000).count() == d1.rowsDeleted,
        "q258: the unpicked masks must NOT land with the pick")
      // order-dependence refusal probe: on a second branch, a commit
      // rewriting an earlier unlanded commit's file cannot pick alone
      VersionedTable.createBranch(s, vt, "dep")
      val ref2 = VersionedTable.branchRef(vt, "dep")
      val b0 = VersionedTable.latestVersion(s, ref2)
      VersionedTable.commitDelta(s, ref2,
        Some(s.range(3).select((col("id") + 9000000L).as("k"),
          lit("w1").as("pr"), lit(1.0).as("price"))), Seq.empty, b0, "wb2")
      VersionedTable.merge(s, ref2,
        s.range(1).select(lit(9000001L).as("k"), lit("w1x").as("pr"),
          lit(1.5).as("price")), Seq("k"), b0 + 1, "wb2")
      val refused =
        try { VersionedTable.cherryPick(s, vt, "dep", b0 + 2, "picker")
          false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "q258: an order-dependent pick must refuse loudly")
      VersionedTable.deleteBranch(s, vt, "dep")
      // the full landing converges: masks arrive, the picked files are
      // kept by reference (the pick is the "mainline add" the
      // conservative gate flags — the picker passes readsTable=false)
      require(VersionedTable.fastForward(s, vt, "fix", "merger",
        readsTable = false).contains(2L))
      require(VersionedTable.fastForward(s, vt, "fix", "merger").isEmpty,
        "q258: a landed tip must not land twice")
      VersionedTable.read(s, vt).select(col("k"), col("pr"), col("price"))
    }),

    // --- fastForward additive reconciliation (round 16, VERDICT r15
    //     #2): the branch ADDs a nullable column AND re-declares the
    //     change feed while mainline absorbs an unrelated high-band
    //     delete — the landing takes the union schema + the branch's
    //     declarations, mainline rows null-fill, and the landing's
    //     PERSISTED feed files carry exactly the branch's appended
    //     rows. Result = post-merge read UNION a feed-file digest, so
    //     the oracle hash covers BOTH surfaces. ---
    "q259_ff_reconcile" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_ffr_q259_") + "/t"
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))
      require(VersionedTable.commit(s, vt, cust, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      require(VersionedTable.createBranch(s, vt, "sch") == 0L)
      val ref = VersionedTable.branchRef(vt, "sch")
      // branch: ADD COLUMNS (metadata-only) + rows carrying the new
      // column + the feed re-declaration, all unlanded
      VersionedTable.addColumns(s, ref, Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType, nullable = true)),
        0L, "wb")
      VersionedTable.commitDelta(s, ref,
        Some(cust.filter(col("k") % 97 === 0)
          .select((col("k") + 20000000L).as("k"),
            concat(lit("s_"), col("k").cast("string")).as("name"),
            lit(0.0).as("bal"), (col("k") % 13).cast("double").as("score"))
          .coalesce(1)),
        Seq.empty, 1L, "wb",
        meta = Map(VersionedTable.FeedKey -> "k"))
      // mainline advances past the fork: an unrelated high-band delete
      val maxK = cust.agg(max(col("k"))).head.getLong(0)
      val hi = maxK * 7 / 8
      val dM = VersionedTable.deleteWhere(s, vt,
        s"k > $hi AND k % 7 = 3", 0L, "wm")
      require(dM.rowsDeleted > 0, s"q259: mainline delete must mask: $dM")
      val landed = VersionedTable.fastForward(s, vt, "sch", "merger")
      require(landed.contains(2L), s"q259: must land as v2: $landed")
      val lm = VersionedTable.readManifest(s, vt, 2L)
      require(lm.schema.get.fieldNames.toSeq == Seq("k", "name", "bal",
        "score"), s"q259: union schema: ${lm.schema.get.fieldNames.toSeq}")
      require(lm.meta.get(VersionedTable.FeedKey).contains("k"),
        "q259: the branch's feed declaration must land")
      require(!lm.meta.contains(VersionedTable.ScopeOpKey),
        "q259: a landing must not inherit the delete's recorded scope")
      // the landing's PERSISTED feed (ensureFeed ran under the landed
      // declaration): exactly the appended rows, as inserts
      val feed = s.read.parquet(s"$vt/_changes/v2")
      val feedDigest = feed.groupBy(col("op"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sk"))
        .select(col("n").as("k"), concat(lit("feed_"), col("op")).as("name"),
          col("sk").cast("double").as("bal"),
          lit(null).cast("double").as("score"))
      VersionedTable.read(s, vt)
        .select(col("k"), col("name"), col("bal"), col("score"))
        .unionByName(feedDigest)
    }),

    // --- SQL CHERRY PICK (round 16, VERDICT r15 #4): a SQL-only
    //     session forks a branch (dotted name), stages two appends,
    //     and lands ONLY the second via `CHERRY PICK <n> FROM <b> ON
    //     t` through runScript; the first stays unlanded. Grammar and
    //     dependency refusals are probed in-entry (bad version, pick
    //     on a missing branch, non-numeric version). ---
    "q260_sql_cherry_pick" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_cp_q260_") + "/t"
      val base = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, base, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      val gs = new graft.core.GraftSession(s)
      gs.registerVersioned("t", vt)
      val rs = gs.runScript(
        """CREATE BRANCH fix.one ON t AS tdev;
          |INSERT INTO tdev SELECT k + 7000000, 'P1', 1.0 FROM tdev
          |  WHERE k % 113 = 0;
          |INSERT INTO tdev SELECT k + 7500000, 'P2', 2.0 FROM tdev
          |  WHERE k % 127 = 0 AND k < 7000000;
          |CHERRY PICK 2 FROM fix.one ON t""".stripMargin)
      require(rs.last.head().getString(0) == "cherry_pick" &&
        rs.last.head().getLong(2) == 1L,
        s"q260: the pick must land as mainline v1")
      // refusal probes: unretained version, missing branch, bad grammar
      def refuses(stmt: String): Boolean =
        try { gs.sql(stmt); false }
        catch { case _: IllegalArgumentException => true }
      require(refuses("CHERRY PICK 99 FROM fix.one ON t"),
        "q260: an unretained branch version must refuse")
      require(refuses("CHERRY PICK 1 FROM nope ON t"),
        "q260: a pick from a missing branch must refuse")
      require(refuses("CHERRY PICK x FROM fix.one ON t"),
        "q260: a non-numeric version must refuse with the grammar")
      require(refuses("CHERRY PICK 1 FROM fix.one"),
        "q260: a pick without ON must refuse with the grammar")
      // the unlanded P1 stays branch-only; mainline gained exactly P2
      require(gs.sql("SELECT count(*) FROM t WHERE pr = 'P1'")
        .head().getLong(0) == 0L, "q260: the unpicked commit must not land")
      gs.sql("SELECT k, pr, price FROM t")
    }),

    // --- two-sided DISJOINT divergence reconciliation (round 17,
    //     VERDICT r16 #2): branch appends `score` + declares a CHECK;
    //     mainline independently appends `region` + declares its own
    //     CHECK, names disjoint on both dimensions. fastForward lands
    //     the union — schema = mainline's fields then the branch tail,
    //     declarations = both checks, each side's new check enforced
    //     on the other side's since-fork adds before the CAS. ---
    "q261_ff_two_sided" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_ff2_q261_") + "/t"
      val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))
      require(VersionedTable.commit(s, vt, cust, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      require(VersionedTable.createBranch(s, vt, "sch") == 0L)
      val ref = VersionedTable.branchRef(vt, "sch")
      // branch: ADD COLUMNS score, rows carrying it, + its own CHECK
      VersionedTable.addColumns(s, ref, Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType, nullable = true)),
        0L, "wb")
      VersionedTable.commitDelta(s, ref,
        Some(cust.filter(col("k") % 97 === 0)
          .select((col("k") + 20000000L).as("k"),
            concat(lit("s_"), col("k").cast("string")).as("name"),
            lit(0.0).as("bal"), (col("k") % 13).cast("double").as("score"))
          .coalesce(1)),
        Seq.empty, 1L, "wb",
        expectations = Map("score_ok" -> "score IS NULL OR score >= 0"))
      // mainline, independently: ADD COLUMNS region, rows, its own CHECK
      VersionedTable.addColumns(s, vt, Seq(
        org.apache.spark.sql.types.StructField("region",
          org.apache.spark.sql.types.StringType, nullable = true)),
        0L, "wm")
      VersionedTable.commitDelta(s, vt,
        Some(cust.filter(col("k") % 89 === 0)
          .select((col("k") + 30000000L).as("k"),
            concat(lit("m_"), col("k").cast("string")).as("name"),
            lit(1.0).as("bal"),
            concat(lit("r"), (col("k") % 5).cast("string")).as("region"))
          .coalesce(1)),
        Seq.empty, 1L, "wm",
        expectations = Map("bal_ok" -> "bal IS NOT NULL"))
      // the branch's work is content-local (a migration + blind
      // appends), so mainline's own appends are admissible
      val landed = VersionedTable.fastForward(s, vt, "sch", "merger",
        readsTable = false)
      require(landed.contains(3L), s"q261: must land as v3: $landed")
      val lm = VersionedTable.readManifest(s, vt, 3L)
      require(lm.schema.get.fieldNames.toSeq ==
        Seq("k", "name", "bal", "region", "score"),
        s"q261: union order rule: ${lm.schema.get.fieldNames.toSeq}")
      require(lm.schema.get.fields.drop(3).forall(_.nullable),
        "q261: both tails must land nullable")
      val ex = VersionedTable.tableExpectations(s, vt, 3L)
      require(ex.contains("score_ok") && ex.contains("bal_ok"),
        s"q261: both disjoint declarations must land: $ex")
      val out = VersionedTable.read(s, vt)
      require(out.where(col("score").isNotNull &&
        col("region").isNotNull).isEmpty,
        "q261: no row carries BOTH tails (each side null-fills the other)")
      out.select(col("k"), col("name"), col("bal"), col("region"),
        col("score"))
    }),

    // --- cherryPick one-sided additive admit (round 17, VERDICT r16
    //     #3): the hotfix-branch flow — branch ADD COLUMNS + two
    //     appends; ONLY the first append is picked. Mainline gets the
    //     union schema (old files null-fill), the second append stays
    //     unlanded, and picking the migration commit itself refuses. ---
    "q262_cherry_pick_additive" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_cpa_q262_") + "/t"
      val base = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, base, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      require(VersionedTable.createBranch(s, vt, "hotfix") == 0L)
      val ref = VersionedTable.branchRef(vt, "hotfix")
      VersionedTable.addColumns(s, ref, Seq(
        org.apache.spark.sql.types.StructField("disc",
          org.apache.spark.sql.types.DoubleType, nullable = true)),
        0L, "wb")
      VersionedTable.commitDelta(s, ref,
        Some(base.filter(col("k") % 113 === 0)
          .select((col("k") + 7000000L).as("k"), lit("PX").as("pr"),
            lit(1.0).as("price"), (col("k") % 7).cast("double").as("disc"))
          .coalesce(1)), Seq.empty, 1L, "wb")
      VersionedTable.commitDelta(s, ref,
        Some(base.filter(col("k") % 127 === 0)
          .select((col("k") + 7500000L).as("k"), lit("PY").as("pr"),
            lit(2.0).as("price"), lit(9.0).as("disc"))
          .coalesce(1)), Seq.empty, 2L, "wb")
      // the migration commit itself is not a delta — refuses
      val eMig = try { VersionedTable.cherryPick(s, vt, "hotfix", 1L, "wm")
        ; false } catch { case _: IllegalArgumentException => true }
      require(eMig, "q262: picking the ADD COLUMNS commit must refuse")
      val v = VersionedTable.cherryPick(s, vt, "hotfix", 2L, "wm")
      require(v == 1L, s"q262: the pick must land as mainline v1, got $v")
      val lm = VersionedTable.readManifest(s, vt, v)
      require(lm.schema.get.fieldNames.toSeq == Seq("k", "pr", "price",
        "disc"), s"q262: union schema: ${lm.schema.get.fieldNames.toSeq}")
      require(lm.schema.get.fields.last.nullable,
        "q262: the landed tail must be nullable")
      val out = VersionedTable.read(s, vt)
      require(out.where(col("pr") === "PY").isEmpty,
        "q262: the unpicked second append must stay branch-only")
      out.select(col("k"), col("pr"), col("price"), col("disc"))
    }),

    // --- SQL CHERRY PICK n..m range (round 17, VERDICT r16 #5): a
    //     SQL-only session stages four branch appends and lands the
    //     MIDDLE TWO with one range statement; the partial-landing
    //     contract is probed in-entry (a mid-range refusal keeps the
    //     landed prefix and names the resume point). ---
    "q263_sql_cherry_pick_range" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_cpr_q263_") + "/t"
      val base = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, base, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      val gs = new graft.core.GraftSession(s)
      gs.registerVersioned("t", vt)
      val rs = gs.runScript(
        """CREATE BRANCH fix.batch ON t AS tdev;
          |INSERT INTO tdev SELECT k + 7100000, 'P1', 1.0 FROM tdev
          |  WHERE k % 113 = 0 AND k < 7000000;
          |INSERT INTO tdev SELECT k + 7200000, 'P2', 2.0 FROM tdev
          |  WHERE k % 127 = 0 AND k < 7000000;
          |INSERT INTO tdev SELECT k + 7300000, 'P3', 3.0 FROM tdev
          |  WHERE k % 131 = 0 AND k < 7000000;
          |CHERRY PICK 2..3 FROM fix.batch ON t""".stripMargin)
      val r = rs.last.head()
      require(r.getString(0) == "cherry_pick" && r.getLong(2) == 2L &&
        r.getLong(3) == 2L, s"q263: range receipt must land 2 picks: $r")
      require(gs.sql("SELECT count(*) FROM t WHERE pr = 'P1'")
        .head().getLong(0) == 0L, "q263: v1 stays unlanded")
      // partial-landing probe: v4 = a clean append, v5 = a re-declaring
      // commit (a pick is a delta — refuses); the range lands v4, stops
      // at v5 naming the resume point, prior pick stays landed
      gs.sql("INSERT INTO tdev SELECT k + 7400000, 'P4', 4.0 FROM tdev " +
        "WHERE k % 137 = 0 AND k < 7000000")
      val bref = VersionedTable.branchRef(vt, "fix.batch")
      VersionedTable.commitDelta(s, bref,
        Some(base.filter(col("k") % 139 === 0).limit(1)
          .select((col("k") + 7600000L).as("k"), lit("P5").as("pr"),
            lit(5.0).as("price")).coalesce(1)), Seq.empty,
        VersionedTable.latestVersion(s, bref), "wb",
        expectations = Map("k_pos" -> "k >= 0"))
      val msg = try { gs.sql("CHERRY PICK 4..5 FROM fix.batch ON t"); "" }
        catch { case e: IllegalArgumentException => e.getMessage }
      require(msg.contains("picks 4..4 landed") &&
        msg.contains("resume with CHERRY PICK 5..5"),
        s"q263: partial-landing contract message: $msg")
      require(gs.sql("SELECT count(*) FROM t WHERE pr = 'P5'")
        .head().getLong(0) == 0L, "q263: nothing at the refusal lands")
      // grammar probe: inverted ranges refuse
      val inv = try { gs.sql("CHERRY PICK 3..1 FROM fix.batch ON t"); "" }
        catch { case e: IllegalArgumentException => e.getMessage }
      require(inv.contains("n <= m"), s"q263: inverted range grammar: $inv")
      gs.sql("SELECT k, pr, price FROM t")
    }),

    // --- SQL FAST FORWARD … CONTENT LOCAL (round 17): the SQL
    //     spelling of readsTable=false. A SQL-only session forks,
    //     migrates the branch (ALTER TABLE on the branch alias) and
    //     appends rows carrying the new column; mainline appends too
    //     (moving past the fork). The plain FAST FORWARD refuses
    //     conservatively (mainline added files the branch's work MAY
    //     have read); CONTENT LOCAL attests the branch commits were
    //     blind and the one-sided extension lands — union schema,
    //     old rows null-filled. ---
    "q264_sql_ff_content_local" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_ffc_q264_") + "/t"
      val base = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, base, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      val gs = new graft.core.GraftSession(s)
      gs.registerVersioned("t", vt)
      gs.runScript(
        """CREATE BRANCH feat ON t AS tdev;
          |ALTER TABLE tdev ADD COLUMNS (tag STRING);
          |INSERT INTO tdev SELECT k + 7800000, 'PF', 6.0, 'new'
          |  FROM tdev WHERE k % 141 = 0 AND k < 7000000;
          |INSERT INTO t SELECT k + 7900000, 'PM', 7.0
          |  FROM t WHERE k % 143 = 0 AND k < 7000000""".stripMargin)
      // conservative default: mainline appended since the fork →
      // the un-attested landing refuses loudly
      val msg = try { gs.sql("FAST FORWARD t FROM feat"); "" }
        catch { case e: VersionedTable.CommitConflict => e.getMessage }
      require(msg.contains("not logically disjoint"),
        s"q264: the plain FAST FORWARD must refuse: $msg")
      val r = gs.sql("FAST FORWARD t FROM feat CONTENT LOCAL").head()
      require(r.getString(0) == "fast_forward" && r.getLong(2) == 2L,
        s"q264: the attested landing must land as v2: $r")
      val lm = VersionedTable.readManifest(s, vt, 2L)
      require(lm.schema.get.fieldNames.toSeq == Seq("k", "pr", "price",
        "tag"), s"q264: union schema: ${lm.schema.get.fieldNames.toSeq}")
      gs.sql("SELECT k, pr, price, tag FROM t")
    }),

    // --- additive-schema rebase (round 17): the migration-racing-
    //     appenders case — an ADD COLUMNS lands first; a blind append
    //     and a DV delete both PLANNED against the superseded version
    //     rebase across it WITHOUT re-staging, each landing adopting
    //     the extended schema (re-landing their plan-time receipts
    //     would silently regress the migration). The read hashes the
    //     converged world: appended + surviving rows, new column
    //     null-filled. ---
    "q265_additive_rebase" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_arb_q265_") + "/t"
      val base = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))
      require(VersionedTable.commit(s, vt, base, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16,
        statsCols = Some(Seq("k"))) == 0L)
      // the migration wins the race to v1
      VersionedTable.addColumns(s, vt, Seq(
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType, nullable = true)),
        0L, "mig")
      // a blind append planned against v0 rebases in as v2
      val st = VersionedTable.commitDelta(s, vt,
        Some(base.filter(col("k") % 101 === 0)
          .select((col("k") + 40000000L).as("k"),
            concat(lit("r_"), col("k").cast("string")).as("name"),
            lit(2.0).as("bal")).coalesce(1)),
        Seq.empty, 0L, "appender", rebaseAttempts = 1)
      require(st.version == 2L, s"q265: the append must rebase to v2: $st")
      // a DV delete planned against v0 rebases in as v3
      val ds = VersionedTable.deleteWhere(s, vt,
        "k % 103 = 5 AND k < 40000000", 0L, "gdpr", rebaseAttempts = 2)
      require(ds.version == 3L && ds.rowsDeleted > 0,
        s"q265: the delete must rebase to v3: $ds")
      val lm = VersionedTable.readManifest(s, vt, 3L)
      require(lm.schema.get.fieldNames.toSeq ==
        Seq("k", "name", "bal", "score"),
        s"q265: every landing must adopt the migration: " +
          s"${lm.schema.get.fieldNames.toSeq}")
      val out = VersionedTable.read(s, vt)
      require(out.where(col("score").isNotNull).isEmpty,
        "q265: the column stays null-filled end to end")
      out.select(col("k"), col("name"), col("bal"), col("score"))
    }),

    // --- SQL CHERRY PICK … CONTENT LOCAL (round 18, VERDICT r17
    //     missing #1 — pick parity with FAST FORWARD's attestation):
    //     a blind-append pick over a mainline that appended since the
    //     fork refuses in the plain form and lands attested; the
    //     live-file gate survives the attestation (probe). ---
    "q266_sql_pick_content_local" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_pcl_q266_") + "/t"
      val base = t(s, dir).orders.select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("pr"), col("o_totalprice").as("price"))
      require(VersionedTable.commit(s, vt, base, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16) == 0L)
      val gs = new graft.core.GraftSession(s)
      gs.registerVersioned("t", vt)
      gs.runScript(
        """CREATE BRANCH fix ON t AS tdev;
          |INSERT INTO tdev SELECT k + 8100000, 'PK', 8.0
          |  FROM tdev WHERE k % 139 = 0 AND k < 7000000;
          |INSERT INTO t SELECT k + 8200000, 'PM2', 9.0
          |  FROM t WHERE k % 149 = 0 AND k < 7000000""".stripMargin)
      val msg = try { gs.sql("CHERRY PICK 1 FROM fix ON t"); "" }
        catch { case e: VersionedTable.CommitConflict => e.getMessage }
      require(msg.contains("not logically disjoint"),
        s"q266: the plain pick must refuse: $msg")
      val r = gs.sql("CHERRY PICK 1 FROM fix ON t CONTENT LOCAL").head()
      require(r.getString(0) == "cherry_pick" && r.getLong(3) == 1L,
        s"q266: the attested pick must land: $r")
      // probe: the live-file gate is NOT waived — a pick whose delta
      // rewrote an earlier UNLANDED branch file still refuses
      val ref = VersionedTable.branchRef(vt, "fix")
      val b1 = VersionedTable.latestVersion(s, ref)
      VersionedTable.commitDelta(s, ref,
        Some(base.limit(3).coalesce(1)), Seq.empty, b1, "wb")
      val b2 = VersionedTable.latestVersion(s, ref)
      val unlanded = VersionedTable.readManifest(s, ref, b2).files
        .filterNot(VersionedTable.readManifest(s, ref, b2 - 1)
          .files.toSet).head
      VersionedTable.commitDelta(s, ref,
        Some(base.limit(2).coalesce(1)), Seq(unlanded), b2, "wb")
      val gate = try {
        gs.sql(s"CHERRY PICK ${b2 + 1} FROM fix ON t CONTENT LOCAL"); ""
      } catch { case e: IllegalArgumentException => e.getMessage }
      require(gate.contains("earlier unlanded branch work"),
        s"q266: the live-file gate must survive the attestation: $gate")
      gs.sql("SELECT k, pr, price FROM t")
    }),

    // --- REBASE BRANCH (round 18, VERDICT r17 missing #2): the
    //     git-rebase analogue — a conservatively-refused branch
    //     re-anchors on the mainline tip by replaying its deltas
    //     (zero data movement), after which the SAME conservative
    //     fastForward lands; every branch row exactly once. ---
    "q267_rebase_branch" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_rbb_q267_") + "/t"
      val base = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))
      require(VersionedTable.commit(s, vt, base, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16,
        statsCols = Some(Seq("k"))) == 0L)
      val gs = new graft.core.GraftSession(s)
      gs.registerVersioned("t", vt)
      gs.runScript(
        """CREATE BRANCH dev ON t AS tdev;
          |INSERT INTO tdev SELECT k + 50000000, 'rb1', 1.0
          |  FROM tdev WHERE k % 97 = 0;
          |INSERT INTO tdev SELECT k + 51000000, 'rb2', 2.0
          |  FROM tdev WHERE k % 89 = 0;
          |INSERT INTO t SELECT k + 52000000, 'm', 3.0
          |  FROM t WHERE k % 83 = 0""".stripMargin)
      // the conservative landing refuses (mainline appended; the
      // branch work COULD have read the table)
      val msg = try { gs.sql("FAST FORWARD t FROM dev"); "" }
        catch { case e: VersionedTable.CommitConflict => e.getMessage }
      require(msg.contains("not logically disjoint"),
        s"q267: the pre-rebase landing must refuse: $msg")
      val r = gs.sql("REBASE BRANCH dev ON t").head()
      require(r.getString(0) == "rebase_branch" && r.getLong(3) == 2L,
        s"q267: both deltas must replay: $r")
      // the walk is now empty — the SAME conservative form lands
      val ff = gs.sql("FAST FORWARD t FROM dev").head()
      require(ff.getString(0) == "fast_forward",
        s"q267: post-rebase landing: $ff")
      gs.sql("SELECT k, name, bal FROM t")
    }),

    // --- one-sided rename reconciliation (round 18, VERDICT r17
    //     missing #3): mainline renames a column (metadata-only,
    //     sticky physical name) and appends; the branch appended a
    //     column + rows under the OLD name — the landing matches by
    //     PHYSICAL identity, takes the renaming side's names, and
    //     both sides' files read through the landed colmap. ---
    "q268_rename_reconcile" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_rrc_q268_") + "/t"
      val base = t(s, dir).part.select(col("p_partkey").as("k"),
        col("p_name").as("pname"),
        col("p_retailprice").cast("double").as("price"))
      require(VersionedTable.commit(s, vt, base, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 8) == 0L)
      val gs = new graft.core.GraftSession(s)
      gs.registerVersioned("t", vt)
      gs.runScript(
        """CREATE BRANCH dev ON t AS tdev;
          |ALTER TABLE tdev ADD COLUMNS (grade DOUBLE);
          |INSERT INTO tdev SELECT k + 9000000, pname, 1.0, 5.5
          |  FROM tdev WHERE k % 71 = 0;
          |ALTER TABLE t RENAME COLUMN pname TO title;
          |INSERT INTO t SELECT k + 9500000, 'M_' || CAST(k AS STRING),
          |  2.0 FROM t WHERE k % 73 = 0""".stripMargin)
      val ff = gs.sql("FAST FORWARD t FROM dev CONTENT LOCAL").head()
      require(ff.getString(0) == "fast_forward",
        s"q268: the reconciled landing must land: $ff")
      val lm = VersionedTable.readManifest(s, vt,
        VersionedTable.latestVersion(s, vt))
      require(lm.schema.get.fieldNames.toSeq ==
        Seq("k", "title", "price", "grade"),
        s"q268: renaming side's names win: " +
          s"${lm.schema.get.fieldNames.toSeq}")
      require(lm.colmap.get("title").contains("pname"),
        s"q268: sticky physical name in the landed colmap: ${lm.colmap}")
      gs.sql("SELECT k, title, price, grade FROM t")
    }),

    // --- cherry-pick across a one-sided RENAME (round 18 — the
    //     fastForward parity, physical identity): mainline renames a
    //     column and appends since the fork; a branch blind-append
    //     delta planned under the OLD names still picks, landing
    //     under MAINLINE's current names (a pick is a delta of
    //     content, never of naming). ---
    "q269_pick_across_rename" -> ((s, dir) => {
      import graft.operators.VersionedTable
      val vt = workDir("graft_par_q269_") + "/t"
      val base = t(s, dir).customer.select(col("c_custkey").as("k"),
        col("c_name").as("name"), col("c_acctbal").as("bal"))
      require(VersionedTable.commit(s, vt, base, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 8,
        statsCols = Some(Seq("k"))) == 0L)
      val gs = new graft.core.GraftSession(s)
      gs.registerVersioned("t", vt)
      gs.runScript(
        """CREATE BRANCH fix ON t AS tdev;
          |INSERT INTO tdev SELECT k + 60000000, 'PR', 1.0
          |  FROM tdev WHERE k % 53 = 0;
          |ALTER TABLE t RENAME COLUMN name TO customer_name;
          |INSERT INTO t SELECT k + 61000000, 'M2', 2.0
          |  FROM t WHERE k % 59 = 0""".stripMargin)
      val r = gs.sql("CHERRY PICK 1 FROM fix ON t CONTENT LOCAL").head()
      require(r.getString(0) == "cherry_pick" && r.getLong(3) == 1L,
        s"q269: the pick must land across the rename: $r")
      val lm = VersionedTable.readManifest(s, vt,
        VersionedTable.latestVersion(s, vt))
      require(lm.schema.get.fieldNames.toSeq ==
        Seq("k", "customer_name", "bal"),
        s"q269: mainline's names must win: " +
          s"${lm.schema.get.fieldNames.toSeq}")
      require(lm.colmap.get("customer_name").contains("name"),
        s"q269: sticky physical name: ${lm.colmap}")
      gs.sql("SELECT k, customer_name, bal FROM t")
    }),

    // --- piggybank datetime evals (ISOToUnix / UnixToISO /
    //     ISODaysBetween) over orders dates ---
    "q121_datetime_iso" -> ((s, dir) => {
      import graft.sources.Piggybank
      t(s, dir).orders.select(
        col("o_orderkey"),
        Piggybank.isoToUnix(col("o_orderdate")).as("unix_ms"),
        Piggybank.unixToIso(Piggybank.isoToUnix(col("o_orderdate"))).as("iso"),
        Piggybank.isoDaysBetween(col("o_orderdate"),
          lit("1995-01-01").cast("date")).as("days_since"))
    })
  )

  // ---------------- timed stories ----------------

  /** The operator story Bench times and profiles for `name`, and the
    * plan PlanFiles and PlanDump dump. For most queries that is the entry
    * itself. An entry that checks its story (a recall harness, a law
    * probe, `require`s around a stream) calls the story's run half
    * below and adds its check after it; `timed` returns the run half
    * alone. Either way each story is written once, and the inputs it
    * derives from the data dir come from the [[Fixtures]] cache. */
  def timed(name: String): (SparkSession, String) => DataFrame =
    runs.getOrElse(name, queries(name))

  private val runs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q35_dedup_minhash" -> ((s, dir) => minhashPairs(s, dir)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))),
    "q151_stream_dedup_agg" -> dedupAggReplay,
    "q154_ann_ivfpq" -> annServe,
    "q158_stream_near_dup" -> nearDupStream,
    "q168_kmv_overlap" -> ((s, dir) => kmvStory(s, dir)._2
      .select(col("source"), size(col("sketch")).as("k"))),
    "q173_stream_export" -> ((s, dir) =>
      exportReplay(s, dir, workDir("graft_stream_q173_"))._1()),
    "q174_pca_whiten" -> ((s, dir) => pcaStory(s, dir)._2
      .select(col("vec_id"), element_at(col("white"), 1).as("w0"))),
    "q180_stream_scd2" -> ((s, dir) => scd2Replay(s, dir)._1()),
    "q181_snapshot_diff" -> ((s, dir) => snapshotDiffStory(s, dir)._3),
    "q189_stream_dq" -> ((s, dir) => dqReplay(s, dir)._1()),
    "q191_ann_index_persist" -> annIndexServe,
    "q193_bpe_train_fast" -> ((s, dir) => bpeTrainFast(s, dir)._2),
    "q194_multimodal_embed" -> ((s, dir) => batchEmbedStory(s, dir)._2),
    "q196_bpe_model_serve" -> ((s, dir) => bpeServe(s, dir)._3
      .select(col("doc_id"), size(col("p")).as("n_pieces"))),
    "q197_ann_stream_ingest" -> annIngestServe,
    "q235_table_change_stream" -> ((s, dir) => tableChangeStream(s, dir)),
    "q253_stream_across_rename" -> ((s, dir) =>
      renameStream(s, dir, workDir("graft_srn_q253_"))))

  /** The recall row of the ANN stories: the number of true
    * (query_id, neighbor_id) pairs, and whether `found` holds at least
    * 90% of them. */
  private def recallAtLeast90(truth: DataFrame, found: DataFrame): DataFrame =
    truth.withColumn("in_t", lit(1))
      .join(found.select(col("query_id"), col("neighbor_id")).withColumn("in_f", lit(1)),
        Seq("query_id", "neighbor_id"), "full_outer")
      .agg(
        coalesce(sum(col("in_t")), lit(0)).cast("long").as("nt"),
        coalesce(sum(when(col("in_t") === 1 && col("in_f") === 1, 1)), lit(0)).as("nh"))
      .select(col("nt").as("n_truth"),
        (col("nh") >= ceil(col("nt") * lit(0.9))).as("recall_ge_90"))

  /** A loaded model's coarse cells as the (cid, cv) centroid table. */
  private def centroidsDf(s: SparkSession, cents: Seq[Seq[Double]]): DataFrame = {
    import s.implicits._
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("cid", "cv")
  }

  /** q36 and q132: banded SimHash pairs (hamming ≤ 3) against the
    * brute-force all-pairs hamming scan — the block scheme is
    * pigeonhole-exact, so n_missed and n_extra must both be 0 — with
    * n_docs as the oracle-recomputed anchor. */
  private def simhashVsBrute(s: SparkSession, dir: String, blocks: Int): DataFrame = {
    val docs = t(s, dir).documents
    val banded = graft.operators.Dedup.simhashPairs(docs, "doc_id", "text",
        maxHamming = 3, blocks = blocks).select(col("id1"), col("id2"))
    val fp = graft.operators.Dedup.simhashFingerprints(docs, "doc_id", "text")
    val brute = fp.as("a").join(fp.as("b"), col("a.doc_id") < col("b.doc_id"))
      .filter(graft.operators.Dedup.hamming64(col("a.fp"), col("b.fp")) <= 3)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
    val diff = brute.withColumn("in_b", lit(1))
      .join(banded.withColumn("in_l", lit(1)), Seq("id1", "id2"), "full_outer")
      .agg(
        coalesce(sum(when(col("in_l").isNull, 1)), lit(0)).cast("long").as("n_missed"),
        coalesce(sum(when(col("in_b").isNull, 1)), lit(0)).cast("long").as("n_extra"))
    docs.agg(count(lit(1)).cast("long").as("n_docs")).crossJoin(diff)
  }

  /** q35: MinHash-LSH candidate pairs, verified by exact Jaccard. */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.fuzzyDupPairs(t(s, dir).documents,
      "doc_id", "text", shingleN = 3, threshold = 0.8)

  /** q122's and q123's footer-indexed side: lineitem's key columns
    * range-partitioned into 8 files, each sorted by l_orderkey. */
  private def sortedLineitem(s: SparkSession, dir: String): String =
    Fixtures.cached(dir, "lineitem_sorted", "lineitem") { root =>
      t(s, dir).lineitem
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(s"$root/f")
    } + "/f"

  /** q154: IVF-PQ serving (routed ADC, then an exact refine of the
    * shortlist) under the model of the cached whole-corpus index. The
    * model fit is one-time state, so the story pays for queries, not
    * for training. */
  private def annServe(s: SparkSession, dir: String): DataFrame = {
    val (cents, pq) = Fixtures.annModel(s, dir)
    val emb = t(s, dir).embeddings
    graft.operators.Similarity.ivfPqTopK(
      emb, emb.filter(col("vec_id") % 100 === 0), "vec_id", "vec_id", "embedding",
      k = 5, centroids = centroidsDf(s, cents), pq = pq, nProbe = 12, refine = 4)
  }

  /** q191: serving from the stored index (manifest, model and codes
    * load, then probe, ADC and refine). */
  private def annIndexServe(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnIndex
    val emb = t(s, dir).embeddings
    AnnIndex.topK(AnnIndex.load(s, Fixtures.annIndex(s, dir)),
      emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
      k = 5, nProbe = 12, refine = 4, exactCorpus = Some(emb))
  }

  /** The base index of q197 and q199, trained on the 90% of
    * embeddings with vec_id % 10 != 0 (`idx`), and the other 10%, the
    * delta, as one parquet file (`f`). Returns the fixture root. */
  private def annBaseIndex(s: SparkSession, dir: String): String =
    Fixtures.cached(dir, "annstream", "embeddings") { root =>
      import graft.operators.{AnnIndex, Similarity}
      val emb = t(s, dir).embeddings
      val base = emb.filter(col("vec_id") % 10 =!= 0)
      AnnIndex.save(s, s"$root/idx", base, "vec_id", "embedding",
        Similarity.kMeansFit(base, "embedding", k = 16, iters = 3, init = "parallel"),
        Similarity.pqTrain(base, "embedding", m = 16, nCodes = 256, iters = 3))
      emb.filter(col("vec_id") % 10 === 0)
        .coalesce(1).write.mode("append").parquet(s"$root/f")
    }

  /** q197's ingest setup: a copy (`tmp/idx`) of the cached base index.
    * Returns the cached delta (a parquet file dir) and the ingest run:
    * one AvailableNow drain of `tmp/src` into the copy through
    * checkpoint `tmp/ckpt`. */
  private def annIngestSetup(s: SparkSession, dir: String,
      tmp: String): (String, () => Unit) = {
    val fx = annBaseIndex(s, dir)
    val emb = t(s, dir).embeddings
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$fx/idx"), new java.io.File(s"$tmp/idx"))
    val ss = graft.streaming.EventsStreaming.replaySession(s)
    (s"$fx/f", () => graft.streaming.CurationStreaming.annIngestStream(ss,
      s"$tmp/src", s"$tmp/idx", s"$tmp/ckpt", "embedding", emb.schema))
  }

  /** q197: ingest, then serve. The whole delta streams in one drain
    * into a copy of the cached base index; the query batch is then
    * answered over base + delta. */
  private def annIngestServe(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AnnIndex
    val tmp = workDir("graft_annstream_q197_")
    val (delta, ingest) = annIngestSetup(s, dir, tmp)
    Fixtures.linkParquet(delta, s"$tmp/src", "d_")
    ingest()
    val emb = t(s, dir).embeddings
    annIngestTopK(AnnIndex.load(s, s"$tmp/idx"), emb)
  }

  /** q197's serving call over an ingested index. nProbe/refine one
    * notch above q154's: the model trained on the 90% BASE (the
    * realistic ingest contract — new rows arrive after training),
    * which costs a little cell-routing recall on the streamed rows;
    * more probes + a deeper exact re-rank buy it back (sf0.1
    * measured: 12/4 -> 0.88, 14/6 green). */
  private def annIngestTopK(idx: graft.operators.AnnIndex.Loaded,
      emb: DataFrame): DataFrame =
    graft.operators.AnnIndex.topK(idx,
      emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
      k = 5, nProbe = 14, refine = 6, exactCorpus = Some(emb))

  /** q158: one AvailableNow drain of the in-stream MinHash banding into
    * the band-owner verdict state, over the documents (ts = doc_id
    * seconds past a fixed epoch) as a cached source. Returns the
    * verdict rows of the memory sink. */
  private def nearDupStream(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{CurationStreaming, EventsStreaming}
    val fx = Fixtures.cached(dir, "docs_ts", "documents") { root =>
      t(s, dir).documents
        .select(col("doc_id"), col("text"))
        .withColumn("ts", to_timestamp(lit(1700000000L) + col("doc_id")))
        .coalesce(2).write.mode("append").parquet(s"$root/f")
    } + "/f"
    val tmp = workDir("graft_stream_q158_")
    Fixtures.linkParquet(fx, s"$tmp/src", "d_")
    val name = "q158_neardup_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ss = EventsStreaming.replaySession(s)
    EventsStreaming.runAvailableNow(
      CurationStreaming.streamNearDupVerdicts(ss, s"$tmp/src"),
      name, org.apache.spark.sql.streaming.OutputMode.Update())
    ss.table(name)
  }

  /** q138 and q145: the two-phase sentinel replay of the outer interval
    * join. Phase 1 drains the real timeline (unmatched rows held in
    * state); the sentinel lands; phase 2, a restart on the same
    * checkpoint, flushes the outer rows. */
  private def outerJoinReplay(s: SparkSession, dir: String,
      joinType: String): DataFrame = {
    import graft.streaming.EventsStreaming
    val tmp = workDir(s"graft_stream_${joinType}_")
    Fixtures.linkParquet(Fixtures.events(s, dir), s"$tmp/src", "ev_")
    val ss = EventsStreaming.replaySession(s)
    def run(): Unit = {
      val clicks = EventsStreaming.readEvents(ss, s"$tmp/src")
        .filter(col("event_type").isin("click", "__sentinel"))
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
          col("user_id").as("click_user"))
      val buys = EventsStreaming.readEvents(ss, s"$tmp/src")
        .filter(col("event_type").isin("purchase", "__sentinel"))
        .select(col("event_id").as("buy_id"), col("ts").as("buy_ts"),
          col("user_id"), col("value"))
      val joined = EventsStreaming.streamIntervalJoin(
        clicks, buys, "click_user", "user_id", "click_ts", "buy_ts",
        within = "30 minutes", joinType = joinType)
      val projected =
        if (joinType == "full_outer")
          joined.select(col("click_id"), col("buy_id"),
            coalesce(col("click_user"), col("user_id")).as("user_id"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("value_cents"))
        else
          joined.select(col("click_id"), col("buy_id"), col("click_user"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("value_cents"))
      projected.writeStream.format("parquet")
        .option("path", s"$tmp/sink").option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    run() // phase 1: real timeline; unmatched rows held in state
    Fixtures.linkParquet(Fixtures.sentinel(s, dir), s"$tmp/src", "sn_")
    run() // phase 2: watermark passes every interval; outer rows flush
    // null-safe: an id IS null on unmatched rows; <=> keeps them
    if (joinType == "full_outer")
      s.read.parquet(s"$tmp/sink")
        .filter(!(col("click_id") <=> lit(-1L)) && !(col("buy_id") <=> lit(-1L)))
    else
      s.read.parquet(s"$tmp/sink").filter(col("click_id") =!= -1L)
  }

  /** q151: dedup-within-watermark feeding an hourly windowed count, in
    * two phases. Every event arrives twice (the events fixture lands
    * twice); phase 1 drains the real timeline, then the sentinel lands
    * and phase 2 closes every real window. */
  private def dedupAggReplay(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventsStreaming
    val events = Fixtures.events(s, dir)
    val tmp = workDir("graft_stream_q151_")
    Fixtures.linkParquet(events, s"$tmp/src", "ev1_")
    Fixtures.linkParquet(events, s"$tmp/src", "ev2_") // the duplicates
    val ss = EventsStreaming.replaySession(s)
    def run(): Unit = {
      // the dedup watermark delay must cover the DUPLICATE ARRIVAL
      // SPAN, not just window lateness: a 10-minute delay would
      // evict dedup state while hour windows are still open, so a
      // duplicate landing in a later micro-batch than its original
      // (e.g. under maxFilesPerTrigger) would re-count. 35 days
      // covers the full fixture timeline; the +365d sentinel still
      // clears every real window in phase 2.
      EventsStreaming.readEvents(ss, s"$tmp/src")
        .withWatermark("ts", "35 days")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").as("w_start"),
          col("window.end").as("w_end"), col("event_type"), col("n_events"))
        .writeStream.format("parquet")
        .option("path", s"$tmp/sink").option("checkpointLocation", s"$tmp/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    run() // phase 1: real timeline, dups suppressed by the dedup stage
    Fixtures.linkParquet(Fixtures.sentinel(s, dir), s"$tmp/src", "sn_")
    run() // phase 2: watermark passes every real window
    s.read.parquet(s"$tmp/sink").filter(col("event_type") =!= "__sentinel")
  }

  /** The two source chunks of q173 and q189: `cols` of the documents
    * with even doc_ids, then with odd ones, one parquet file each. */
  private def docsChunks(s: SparkSession, dir: String, name: String,
      cols: Column*): (String, String) = {
    def chunk(even: Boolean): String =
      Fixtures.cached(dir, name + (if (even) "_even" else "_odd"), "documents") { root =>
        t(s, dir).documents.select(cols: _*)
          .filter(if (even) col("doc_id") % 2 === 0 else col("doc_id") % 2 =!= 0)
          .coalesce(1).write.mode("append").parquet(s"$root/f")
      } + "/f"
    (chunk(even = true), chunk(even = false))
  }

  /** q173: the documents stream into 8 export shards in two chunks
    * (even, then odd doc_ids) with a RESTART between them, then a
    * no-new-data restart. Returns a reader of the export manifest and a
    * rerun of the export stream (same checkpoint, nothing new). */
  private def exportReplay(s: SparkSession, dir: String,
      tmp: String): (() => DataFrame, () => Unit) = {
    import graft.streaming.{CurationStreaming, EventsStreaming}
    val (c1, c2) = docsChunks(s, dir, "docs",
      col("doc_id"), col("text"), to_timestamp(from_unixtime(col("doc_id"))).as("ts"))
    val ss = EventsStreaming.replaySession(s)
    def exportNew(): Unit = CurationStreaming.exportStream(ss,
      s"$tmp/src", s"$tmp/out", s"$tmp/ckpt", nShards = 8)
    Fixtures.linkParquet(c1, s"$tmp/src", "c1_")
    exportNew()
    Fixtures.linkParquet(c2, s"$tmp/src", "c2_")
    exportNew()
    exportNew()
    (() => CurationStreaming.exportStreamManifest(s, s"$tmp/out"), () => exportNew())
  }

  /** q180: two CDC chunks of the customer dimension (as_of 2021-06-01,
    * then 2022-06-01) fold into an SCD2 history by stream, with a
    * RESTART between them, then a no-new-data restart. Returns a reader
    * of the history table's head and a rerun of the stream. */
  private def scd2Replay(s: SparkSession, dir: String): (() => DataFrame, () => Unit) = {
    import graft.streaming.{CurationStreaming, EventsStreaming}
    val tmp = workDir("graft_stream_q180_")
    val cust = t(s, dir).customer
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").as("bal"))
    val ts1 = java.sql.Timestamp.valueOf("2021-06-01 00:00:00")
    val ts2 = java.sql.Timestamp.valueOf("2022-06-01 00:00:00")
    val ch1 = Fixtures.cached(dir, "scd2_ch1", "customer") { root =>
      cust.filter(col("k") % 7 === 0)
        .select(col("k"), upper(col("name")).as("name"), (col("bal") + 1000).as("bal"))
        .unionByName(cust.filter(col("k") % 5 === 0 && col("k") % 7 =!= 0))
        .unionByName(cust.filter(col("k") % 13 === 0)
          .select((col("k") + 1000000).as("k"),
            concat(lit("new_"), col("k").cast("string")).as("name"),
            lit(0.0).as("bal")))
        .withColumn("as_of", lit(ts1))
        .coalesce(1).write.mode("append").parquet(s"$root/f")
    } + "/f"
    val ch2 = Fixtures.cached(dir, "scd2_ch2", "customer") { root =>
      cust.filter(col("k") % 3 === 0)
        .select(col("k"), concat(col("name"), lit("!")).as("name"),
          (col("bal") - 50).as("bal"))
        .unionByName(cust.filter(col("k") % 11 === 0 &&
          col("k") % 3 =!= 0 && col("k") % 7 =!= 0))
        .withColumn("as_of", lit(ts2))
        .coalesce(1).write.mode("append").parquet(s"$root/f")
    } + "/f"
    val hist0 = cust
      .withColumn("valid_from", lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val chSchema = s.read.parquet(ch1).schema
    val ss = EventsStreaming.replaySession(s)
    def apply(): Unit = CurationStreaming.scd2Stream(ss, s"$tmp/src",
      s"$tmp/hist", s"$tmp/ckpt", Seq("k"), hist0, chSchema)
    Fixtures.linkParquet(ch1, s"$tmp/src", "c1_")
    apply()
    Fixtures.linkParquet(ch2, s"$tmp/src", "c2_")
    apply()
    apply()
    (() => CurationStreaming.scd2Latest(s, s"$tmp/hist"), () => apply())
  }

  /** q189: the documents stream through a six-check DQ suite whose
    * counter states accumulate per micro-batch, in two chunks (even,
    * then odd doc_ids) with a RESTART between them, then a no-new-data
    * restart. Returns a reader of the accumulated report and a rerun of
    * the stream. */
  private def dqReplay(s: SparkSession, dir: String): (() => DataFrame, () => Unit) = {
    import graft.operators.DataQuality._
    import graft.streaming.{CurationStreaming, EventsStreaming}
    val tmp = workDir("graft_stream_q189_")
    val (c1, c2) = docsChunks(s, dir, "dqdocs",
      col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val checks = Seq(
      NotNull("doc_id"),
      Completeness("text", 0.99),
      MatchesRatio("lang", "^[a-z]{2}$", 1.0),
      MatchesRatio("source", "^src[0-4]$", 1.0), // fails: 20 sources
      InRange("n_chars", 1, 100000),
      MinRowCount(100L))
    val docSchema = s.read.parquet(c1).schema
    val ss = EventsStreaming.replaySession(s)
    def measure(): Unit = CurationStreaming.dqStream(ss, s"$tmp/src",
      s"$tmp/state", s"$tmp/ckpt", checks, docSchema)
    Fixtures.linkParquet(c1, s"$tmp/src", "c1_")
    measure()
    Fixtures.linkParquet(c2, s"$tmp/src", "c2_")
    measure()
    measure()
    (() => CurationStreaming.dqLatestReport(s, s"$tmp/state", checks), () => measure())
  }

  /** The start of q235 and q253: a copy (`tmp/t`) of the cached v0
    * customer table, the (k, name, bal) rows it holds, and a drain: one
    * AvailableNow run of its change stream into the parquet sink
    * `tmp/out` through checkpoint `tmp/ckpt`. */
  private def feedOnCopy(s: SparkSession, dir: String,
      tmp: String): (String, DataFrame, () => Unit) = {
    val vt = s"$tmp/t"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(Fixtures.vtCustomer(s, dir)), new java.io.File(vt))
    val cust = t(s, dir).customer.select(col("c_custkey").as("k"),
      col("c_name").as("name"), col("c_acctbal").as("bal"))
    (vt, cust, () => graft.operators.VersionedTable.changeStream(s, vt)
      .writeStream.format("parquet")
      .option("path", s"$tmp/out").option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination())
  }

  /** q235: the customer table's persisted change feed as a stream. A
    * merge lands on a copy of the cached v0 table; one drain delivers
    * bootstrap (v0) and merge (v1); a DV delete lands while the stream
    * is down; a restart of the same checkpoint delivers its feed (v2).
    * `afterFirstDrain` gets the sink path between the two drains.
    * Returns the sink. */
  private def tableChangeStream(s: SparkSession, dir: String,
      afterFirstDrain: String => Unit = _ => ()): DataFrame = {
    import graft.operators.VersionedTable
    val tmp = workDir("graft_feed_q235_")
    val (vt, cust, drain) = feedOnCopy(s, dir, tmp)
    val changes = cust.filter(col("k") % 7 === 0)
        .select(col("k"), col("name"), (col("bal") + 100).as("bal"))
      .unionByName(cust.filter(col("k") % 53 === 0)
        .select((col("k") + 5000000L).as("k"),
          concat(lit("n_"), col("k").cast("string")).as("name"),
          lit(0.0).as("bal")))
    VersionedTable.merge(s, vt, changes, Seq("k"), 0L, "merger")
    drain() // bootstrap (v0) + merge feed (v1)
    afterFirstDrain(s"$tmp/out")
    // a DV delete lands while the stream is DOWN; the restart must
    // deliver exactly the new feed — nothing replays
    VersionedTable.deleteWhere(s, vt,
      "k % 97 = 1 and k < 5000000", 1L, "gdpr")
    drain() // restart delivers exactly the delete feed
    s.read.parquet(s"$tmp/out")
  }

  /** q253: the change stream consumed ACROSS a rename through one
    * checkpoint. On a copy (`tmp/t`) of the cached v0 table: churn, a
    * drain (`tmp/out`) under the old names, a rename of bal to balance
    * while the stream is down, churn under the new name, a restarted
    * drain. `afterFirstDrain` gets the sink path between the two
    * drains. Returns the post-rename feed rows. */
  private def renameStream(s: SparkSession, dir: String, tmp: String,
      afterFirstDrain: String => Unit = _ => ()): DataFrame = {
    import graft.operators.VersionedTable
    val (vt, cust, drain) = feedOnCopy(s, dir, tmp)
    VersionedTable.merge(s, vt,
      cust.filter(col("k") % 7 === 0).select(col("k"), col("name"),
        (col("bal") + 100).as("bal")), Seq("k"), 0L, "etl")
    drain() // bootstrap (v0) + pre-rename churn (v1), OLD names
    afterFirstDrain(s"$tmp/out")
    // the rename lands while the stream is DOWN; its feed is EMPTY
    require(VersionedTable.renameColumns(s, vt,
      Map("bal" -> "balance"), 1L, "migrator") == 2L)
    VersionedTable.merge(s, vt,
      cust.filter(col("k") % 53 === 0)
        .select((col("k") + 5000000L).as("k"),
          concat(lit("n_"), col("k").cast("string")).as("name"),
          lit(0.0).as("balance")),
      Seq("k"), 2L, "etl")
    // SAME checkpoint + sink: the restarted stream reads old and new
    // feed files under one pinned PHYSICAL schema and delivers ONLY
    // the post-rename versions (the empty rename feed + the churn)
    drain()
    val sch = VersionedTable.schemaOf(s, vt, VersionedTable.latestVersion(s, vt))
      .add("op", org.apache.spark.sql.types.StringType)
      .add("version", org.apache.spark.sql.types.LongType)
    s.read.schema(sch).parquet(s"$tmp/out")
      .filter(col("version") >= 3)
      .select(col("k"), col("name"), col("balance"), col("op"))
  }

  /** q168: one KMV sketch (k = 1024) per source over the 5-gram hash
    * stream. Returns the (source, h) stream and the (source, sketch)
    * rows. */
  private def kmvStory(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val hs = t(s, dir).documents
      .select(col("source"),
        explode(graft.plans.TextExpressions.shingleHash64(col("text"), 5)).as("h"))
    (hs, graft.operators.Sketches.kmvPerGroup(hs, "source", "h", 1024))
  }

  /** q174: moments, eigensolve, projection. Returns the exact moments
    * (n, sums, products), the whitened (vec_id, white) rows and the
    * eigenvalues. */
  private def pcaStory(s: SparkSession, dir: String) = {
    import graft.operators.Linalg
    val emb = t(s, dir).embeddings
    val moments @ (n, sums, prods) = Linalg.secondMoments(emb, "embedding", 64)
    val (white, vals) =
      Linalg.pcaWhitenFromMoments(emb, "vec_id", "embedding", n, sums, prods, 16)
    (moments, white, vals)
  }

  /** q181: the one-join diff between the customer snapshot and a
    * derived target (k % 17 = 0 dropped, k % 7 = 0 changed, k % 13 = 0
    * re-keyed as new). Returns (base, target, diff). */
  private def snapshotDiffStory(s: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val cust = t(s, dir).customer
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").as("bal"))
    val target = cust.filter(col("k") % 17 =!= 0)
      .select(col("k"),
        when(col("k") % 7 === 0, upper(col("name"))).otherwise(col("name")).as("name"),
        when(col("k") % 7 === 0, col("bal") + 1000).otherwise(col("bal")).as("bal"))
      .unionByName(cust.filter(col("k") % 13 === 0)
        .select((col("k") + 1000000).as("k"),
          concat(lit("new_"), col("k").cast("string")).as("name"),
          lit(0.0).as("bal")))
    (cust, target, graft.operators.Incremental.snapshotDiff(cust, target, Seq("k")))
  }

  /** q193: incremental BPE training to 256 merges. Returns the merges,
    * the word vocab and the pruning receipt. */
  private def bpeTrainFast(s: SparkSession, dir: String) =
    graft.operators.TextAnalysis.bpeTrainIncremental(
      t(s, dir).documents, "text", nMerges = 256)

  /** q194: the documents packed into opaque blobs, and one batched
    * embed pass over them (batches of 32, dim 6). */
  private def batchEmbedStory(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.operators.Multimodal
    val docs = t(s, dir).documents
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
    val packed = Multimodal.packMedia(docs, "text", "text/plain")
      .select(col("doc_id"), col("blob"))
    (packed, Multimodal.batchEmbed(packed, "doc_id", "blob", batchSize = 32, dim = 6))
  }

  /** q196: tokenizer serving. Loads the cached 64-merge BPE model and
    * encodes the corpus once. Returns the loaded merges, the documents
    * and the (doc_id, p) pieces. */
  private def bpeServe(s: SparkSession, dir: String) = {
    import graft.operators.TextAnalysis
    val model = Fixtures.cached(dir, "bpe_model", "documents") { root =>
      val (m, _, _) = TextAnalysis.bpeTrainIncremental(
        t(s, dir).documents, "text", nMerges = 64)
      TextAnalysis.saveBpe(s, s"$root/bpe", m)
    } + "/bpe"
    val merges = TextAnalysis.loadBpe(s, model)
    val docs = t(s, dir).documents
    (merges, docs,
      docs.select(col("doc_id"), TextAnalysis.bpeEncode(col("text"), merges).as("p")))
  }

  private def pigQ(res: String): (SparkSession, String) => DataFrame =
    (s, dir) => graft.pig.PigScript.queryResource(s, res, Map("DIR" -> dir))

  /** PigMix-shaped corpus script by basename (src/main/resources/pigmix/). */
  private def pigmixQ(name: String): (SparkSession, String) => DataFrame =
    (s, dir) => graft.pig.PigScript.queryResource(s, s"/pigmix/$name.pig",
      Map("DIR" -> dir))

  /** Render nation.parquet as a headerless CSV at a fixed path — the
    * lazy-typed delimited-LOAD fixture for q88 (the DuckDB oracle reads
    * the same file). A 25-row dimension, driver-side by design. */
  private def writeNationCsv(s: SparkSession, dir: String): String = {
    val path = "/tmp/graft_pig/nation.csv"
    val rows = t(s, dir).nation.orderBy("n_nationkey").collect()
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try rows.foreach(r => w.println(s"${r.get(0)},${r.get(1)},${r.get(2)}"))
    finally w.close()
    path
  }

  /** q167's oracle, generated per iteration count: DuckDB replays every
    * integer-exact PageRank iteration as a chained CTE — possible only
    * because the engine's arithmetic is scaled-BIGINT (truncating div),
    * never order-dependent floats. Mirrors Graph.pageRank exactly:
    * teleport = scale*(100-85)/100, update = teleport + (85*mass) div 100. */
  private def pageRankOracleSql(iters: Int): String = {
    val scale = 1000000000000L
    val teleport = scale * 15 / 100
    val head =
      s"""WITH e0 AS (
            SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS s,
                            's' || CAST(l_suppkey AS VARCHAR) AS d
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          e AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
          nodes AS (SELECT s AS n FROM e UNION SELECT d FROM e),
          deg AS (SELECT s, COUNT(*) AS dg FROM e GROUP BY 1),
          r0 AS (SELECT n, CAST($scale AS BIGINT) AS r FROM nodes)"""
    val steps = (1 to iters).map { k =>
      s""", c$k AS (
            SELECT e.d AS n, CAST(SUM(r${k - 1}.r // deg.dg) AS BIGINT) AS m
            FROM e JOIN r${k - 1} ON e.s = r${k - 1}.n JOIN deg ON e.s = deg.s
            GROUP BY 1),
          r$k AS (
            SELECT nodes.n,
                   CAST($teleport + (85 * COALESCE(c$k.m, 0)) // 100 AS BIGINT) AS r
            FROM nodes LEFT JOIN c$k ON nodes.n = c$k.n)"""
    }.mkString
    s"$head$steps SELECT n AS node, r AS rank FROM r$iters"
  }

  /** q169's oracle: DuckDB replays the identical bit-spreading chain
    * (masks shared with Layout.spreadSteps) as a CTE pipeline. */
  private def zOrderOracleSql: String = {
    val head =
      """WITH z0 AS (
           SELECT l_orderkey, l_linenumber,
                  l_orderkey AS sa, l_partkey AS sb
           FROM lineitem)"""
    val steps = graft.operators.Layout.spreadSteps.zipWithIndex.map {
      case ((sh, m), i) =>
        s""", z${i + 1} AS (
              SELECT l_orderkey, l_linenumber,
                     (sa | (sa << $sh)) & $m AS sa,
                     (sb | (sb << $sh)) & $m AS sb
              FROM z$i)"""
    }.mkString
    val n = graft.operators.Layout.spreadSteps.length
    s"$head$steps SELECT l_orderkey, l_linenumber, sa | (sb << 1) AS zvalue FROM z$n"
  }

  /** q188's oracle: the 3-way spread chain, generated from the SAME
    * masks the engine uses (Layout.spreadSteps3). */
  private def zOrder3OracleSql: String = {
    val head =
      """WITH z0 AS (
           SELECT l_orderkey, l_linenumber,
                  l_partkey AS sa, l_suppkey AS sb,
                  CAST(l_linenumber AS BIGINT) AS sc
           FROM lineitem)"""
    val steps = graft.operators.Layout.spreadSteps3.zipWithIndex.map {
      case ((sh, m), i) =>
        s""", z${i + 1} AS (
              SELECT l_orderkey, l_linenumber,
                     (sa | (sa << $sh)) & $m AS sa,
                     (sb | (sb << $sh)) & $m AS sb,
                     (sc | (sc << $sh)) & $m AS sc
              FROM z$i)"""
    }.mkString
    val n = graft.operators.Layout.spreadSteps3.length
    s"$head$steps SELECT l_orderkey, l_linenumber, " +
      s"sa | (sb << 1) | (sc << 2) AS zvalue FROM z$n"
  }

  /** q174's oracle: DuckDB recomputes the ENTIRE exact moment matrix
    * (per-element double products cast to DECIMAL(38,18), summed
    * exactly — order-free, so the hash compare is meaningful) and pins
    * the whitening contract flags. Generated for dim = 64. */
  private def pcaOracleSql: String = {
    val dim = 64
    s"""WITH e AS (SELECT embedding AS v FROM embeddings),
        p AS (
          SELECT a.i AS i, b.j AS j,
                 CAST(SUM(CAST(CAST(v[a.i+1] AS DOUBLE) * CAST(v[b.j+1] AS DOUBLE)
                               AS DECIMAL(38,18))) AS DECIMAL(38,18)) AS s
          FROM e,
               UNNEST(generate_series(0, ${dim - 1})) a(i),
               UNNEST(generate_series(0, ${dim - 1})) b(j)
          WHERE a.i <= b.j
          GROUP BY 1, 2),
        m AS (
          SELECT a.i AS i,
                 CAST(SUM(CAST(CAST(v[a.i+1] AS DOUBLE)
                               AS DECIMAL(38,18))) AS DECIMAL(38,18)) AS s
          FROM e, UNNEST(generate_series(0, ${dim - 1})) a(i)
          GROUP BY 1)
        SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, CAST(s AS DOUBLE) AS m2,
               TRUE AS whitened_identity, TRUE AS eigs_desc FROM p
        UNION ALL
        SELECT CAST(i AS INT), -1, CAST(s AS DOUBLE), TRUE, TRUE FROM m"""
  }

  /** DuckDB-runnable oracle SQL, same column names as the Spark result. */
  def oracleSql: Map[String, String] = Map(
    "q167_pagerank" -> pageRankOracleSql(3),
    "q169_zorder_key" -> zOrderOracleSql,
    "q188_zorder3_key" -> zOrder3OracleSql,
    "q174_pca_whiten" -> pcaOracleSql,
    "q01_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,4)) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'""",

    "q02_filter_expr" ->
      """SELECT o_orderkey,
         CASE WHEN o_totalprice > 200000 THEN 'big'
              WHEN o_totalprice > 50000 THEN 'mid'
              ELSE 'small' END AS bucket
         FROM orders
         WHERE o_orderstatus IN ('F','O') AND regexp_full_match(o_orderpriority, '[12]-.*')""",

    "q03_group_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,4)) * CAST(1+l_tax AS DECIMAL(8,2))) AS DOUBLE) AS sum_charge,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",

    "q04_group_all" ->
      """SELECT COUNT(*) AS n_rows,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
         COUNT(DISTINCT l_orderkey) AS n_orders
         FROM lineitem""",

    "q05_join_agg" ->
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
         CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus""",

    "q06_join_broadcast" ->
      """SELECT n_name, COUNT(*) AS n_lines,
         CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,4))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name""",

    "q07_join_left" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
         COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey""",

    "q08_join_full" ->
      """SELECT COALESCE(c.custkey, o.custkey) AS custkey,
         COALESCE(c.c_acctbal, -1.0) AS acctbal,
         COALESCE(o.n_urgent, 0) AS n_urgent
         FROM (SELECT c_custkey AS custkey, c_acctbal FROM customer WHERE c_acctbal > 5000) c
         FULL JOIN (SELECT o_custkey AS custkey, COUNT(*) AS n_urgent FROM orders
                    WHERE o_orderpriority = '1-URGENT' GROUP BY 1) o
         ON c.custkey = o.custkey""",

    "q09_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""",

    "q10_anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",

    "q11_cross_theta" ->
      """SELECT n_name, r_name FROM nation, region WHERE n_regionkey <> r_regionkey""",

    "q12_union" ->
      """SELECT event_type, COUNT(*) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM (SELECT user_id, event_type, value FROM events WHERE event_type = 'click'
               UNION ALL
               SELECT user_id, event_type, value FROM events WHERE event_type = 'purchase')
         GROUP BY event_type""",

    "q13_distinct" ->
      """SELECT DISTINCT user_id, event_type FROM events""",

    "q14_order_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "q15_sample" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey % 97 = 0""",

    "q16_split" ->
      """SELECT branch, COUNT(*) AS cnt FROM (
           SELECT CASE WHEN event_type = 'click' THEN 'click'
                       WHEN event_type = 'error' THEN 'error'
                       ELSE 'other' END AS branch FROM events)
         GROUP BY branch""",

    "q17_rank" ->
      """SELECT o_orderkey, o_totalprice,
         RANK() OVER (ORDER BY o_totalprice DESC) AS rnk,
         DENSE_RANK() OVER (ORDER BY o_totalprice DESC) AS rnk_dense
         FROM orders""",

    "q18_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         GROUPING(l_returnflag, l_linestatus) AS grp_id
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",

    "q19_rollup" ->
      """SELECT YEAR(o_orderdate) AS o_year, o_orderstatus, COUNT(*) AS cnt,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         GROUPING(YEAR(o_orderdate), o_orderstatus) AS grp_id
         FROM orders GROUP BY ROLLUP(YEAR(o_orderdate), o_orderstatus)""",

    "q20_cogroup" ->
      """SELECT COALESCE(o.orderkey, l.orderkey) AS orderkey,
         COALESCE(o.n, 0) AS n_orders, COALESCE(l.n, 0) AS n_lines
         FROM (SELECT o_orderkey AS orderkey, COUNT(*) AS n FROM orders GROUP BY 1) o
         FULL JOIN (SELECT l_orderkey AS orderkey, COUNT(*) AS n FROM lineitem GROUP BY 1) l
         ON o.orderkey = l.orderkey""",

    "q21_flatten_tokenize" ->
      """SELECT token, COUNT(*) AS cnt FROM (
           SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents)
         WHERE token <> '' GROUP BY token""",

    "q22_nested_foreach" ->
      """SELECT l_orderkey, COUNT(*) AS n_items,
         COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
         ROUND(COALESCE(SUM(l_extendedprice) FILTER (WHERE l_quantity > 25), 0.0), 2) AS sum_big_price
         FROM lineitem GROUP BY l_orderkey""",

    "q23_top_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders)
         WHERE rn <= 3""",

    "q24_flatten_bag" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
           SELECT l_orderkey, l_linenumber, l_quantity,
                  COUNT(*) OVER (PARTITION BY l_orderkey) AS c
           FROM lineitem)
         WHERE c >= 6""",

    "q25_string_funcs" ->
      """SELECT c_custkey, UPPER(c_name) AS up,
         substring(c_name, 1, 8) AS pre,
         CAST(strpos(c_name, '#') - 1 AS INT) AS hash_idx,
         regexp_replace(c_name, '[0-9]+', '#', 'g') AS namex,
         regexp_extract(c_name, '([0-9]+)', 1) AS digits,
         CAST(length(c_name) AS INT) AS len,
         concat_ws('|', c_mktsegment, c_name) AS tagged
         FROM customer""",

    "q26_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
         abs(-l_quantity) AS qabs,
         ceil(l_extendedprice) AS cl,
         floor(l_extendedprice) AS fl,
         round(sqrt(l_quantity), 6) AS sq,
         round(ln(l_extendedprice), 6) AS lg,
         l_orderkey % 7 AS m7
         FROM lineitem""",

    "q27_datetime_funcs" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS INT) AS yr,
         CAST(month(o_orderdate) AS INT) AS mo,
         CAST(day(o_orderdate) AS INT) AS dy,
         strftime(o_orderdate, '%Y-%m') AS ym,
         CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
         o_orderdate + INTERVAL '1 day' + INTERVAL '2 hours' AS plus1d2h,
         CAST(trunc((epoch(TIMESTAMP '1998-12-31') - epoch(o_orderdate)) / 86400) AS BIGINT) AS days_to_end
         FROM orders""",

    "q28_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events""",

    "q29_window_funcs" ->
      """SELECT event_id, user_id, ts,
         CAST(row_number() OVER w AS BIGINT) AS rn,
         lag(value, 1) OVER w AS prev_value,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER
              (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",

    "q30_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice
         FROM events e ASOF LEFT JOIN (
           SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
             SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
                    row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                       ORDER BY o_orderkey DESC) AS rn
             FROM orders) WHERE rn = 1) o
         ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""",

    "q31_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_totalprice > 150000""",

    "q32_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_totalprice > 150000""",

    "q33_union_onschema" ->
      """SELECT event_id AS id, value, CAST(NULL AS DOUBLE) AS price
         FROM events WHERE event_type = 'click'
         UNION ALL
         SELECT o_orderkey AS id, CAST(NULL AS DOUBLE) AS value, o_totalprice AS price
         FROM orders""",

    "q34_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups FROM documents GROUP BY text""",

    // recall harness: DuckDB recomputes the exact ground-truth pair
    // count (q37's shingle formulation at 0.8); the zero-false-positive
    // and recall-bound columns are asserted constants the Spark side
    // must reproduce from its own found-vs-truth join
    "q35_dedup_minhash" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3
               THEN list_distinct(list_transform(range(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               ELSE [array_to_string(toks, ' ')] END AS sh
           FROM tk),
         inv AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
         common AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2, a.n_sh AS n1, b.n_sh AS n2,
                  COUNT(*) AS n_common
           FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
                CAST(0 AS BIGINT) AS n_false_pos,
                TRUE AS recall_ge_90
         FROM common
         WHERE CAST(n_common AS DOUBLE) / CAST(n1 + n2 - n_common AS DOUBLE) >= 0.8""",

    // the banding is exact by pigeonhole, so missed/extra are hard zeros
    "q36_dedup_simhash" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(0 AS BIGINT) AS n_missed,
                CAST(0 AS BIGINT) AS n_extra
         FROM documents""",

    "q37_jaccard_exact" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
           FROM documents),
         sh AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 3
               THEN list_distinct(list_transform(range(1, len(toks) - 1),
                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               ELSE [array_to_string(toks, ' ')] END AS sh
           FROM tk),
         inv AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh),
         common AS (
           SELECT a.doc_id AS id1, b.doc_id AS id2, a.n_sh AS n1, b.n_sh AS n2,
                  COUNT(*) AS n_common
           FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
         SELECT id1, id2,
                CAST(n_common AS DOUBLE) / CAST(n1 + n2 - n_common AS DOUBLE) AS jaccard
         FROM common
         WHERE CAST(n_common AS DOUBLE) / CAST(n1 + n2 - n_common AS DOUBLE) >= 0.5""",

    // full brute-force recompute over fixture + planted clones: at
    // tau 0.95 the answer is exactly the planted (orig, clone) pairs
    "q38_cosine_dup_pairs" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id % 50 = 0)
         SELECT a.vec_id AS id1, b.vec_id AS id2,
                round(list_cosine_similarity(a.v, b.v), 6) AS cosine
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.95""",

    "q39_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id % 100 = 0),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
         scored AS (
           SELECT q.query_id, c.vec_id AS neighbor_id,
                  list_cosine_similarity(c.cv, q.qv) AS score
           FROM c, q WHERE c.vec_id <> q.query_id)
         SELECT query_id, neighbor_id, score, rn FROM (
           SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY score DESC, neighbor_id) AS BIGINT) AS rn
           FROM scored)
         WHERE rn <= 5""",

    // planted-clone harness: every clone query must rank its source
    // first (identical vector → identical bucket in every band, cosine
    // exactly 1.0 ≫ the fixture's 0.48 natural max) and respect the
    // k-bound — both deterministic, recomputed from the fixture
    "q40_ann_lsh" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
                CAST(COUNT(*) AS BIGINT) AS n_hit_top1,
                CAST(0 AS BIGINT) AS n_overflow
         FROM embeddings WHERE vec_id % 100 = 0""",

    "q41_langid" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
           FROM documents),
         sc AS (SELECT doc_id,
           CAST(len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein','mit','auf','zu'], t))) AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE) AS s_de,
           CAST(len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','it','was','for'], t))) AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE) AS s_en,
           CAST(len(list_filter(toks, t -> list_contains(['el','la','de','que','y','en','un','por','con','para'], t))) AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE) AS s_es,
           CAST(len(list_filter(toks, t -> list_contains(['le','la','et','les','des','est','un','une','dans','pour'], t))) AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE) AS s_fr,
           CAST(len(list_filter(toks, t -> list_contains(['的','了','是','我','不','在','有','人','这','他'], t))) AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE) AS s_zh
           FROM tk)
         SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS lang_pred
         FROM sc""",

    "q42_quality" ->
      """WITH tk AS (
           SELECT doc_id, text,
                  list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
           FROM documents),
         f AS (SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
             / greatest(CAST(length(text) AS DOUBLE), 1.0) AS punct_ratio,
           CAST(len(list_filter(toks, t -> list_contains(['the','and','of','to','in','is','that','it','was','for'], t))) AS DOUBLE)
             / CAST(greatest(len(toks), 1) AS DOUBLE) AS stopword_ratio,
           CASE WHEN len(toks) > 0
             THEN CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)
             ELSE 0.0 END AS mean_token_len
           FROM tk)
         SELECT doc_id, n_tokens, punct_ratio, stopword_ratio, mean_token_len,
           (CASE WHEN n_tokens BETWEEN 20 AND 10000 THEN 0.4::DOUBLE ELSE 0.0::DOUBLE END +
            CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0 THEN 0.3::DOUBLE ELSE 0.0::DOUBLE END +
            CASE WHEN punct_ratio < 0.2 THEN 0.2::DOUBLE ELSE 0.0::DOUBLE END +
            CASE WHEN stopword_ratio > 0.01 THEN 0.1::DOUBLE ELSE 0.0::DOUBLE END) AS quality
         FROM f""",

    "q43_token_count" ->
      """SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS ws_tokens,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpeish_tokens
         FROM documents""",

    "q44_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
         FROM documents""",

    "q45_multimodal_meta" ->
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5(text) AS checksum,
         CAST(octet_length(encode(text)) % 1024 AS INT) AS width,
         CAST(octet_length(encode(text)) // 1024 + 1 AS INT) AS height
         FROM documents""",

    // deterministic header/byte-stats decode of the synthetic blob:
    // the fixture corpus is ASCII (verified: octet_length(encode(text))
    // = length(text) for all rows), so ord(char) = byte value
    "q46_multimodal_decode" ->
      """WITH t AS (
           SELECT doc_id, octet_length(encode(text)) AS n,
                  CASE WHEN length(text) = 0 THEN 0
                       ELSE list_sum(list_transform(string_split(text, ''), x -> ord(x)))
                  END AS s
           FROM documents)
         SELECT doc_id,
                CAST(n AS BIGINT) AS n_bytes,
                CAST(n % 1024 AS INT) AS width,
                CAST(n // 1024 + 1 AS INT) AS height,
                round(CASE WHEN n = 0 THEN 0.0 ELSE CAST(s AS DOUBLE) / n END, 6) AS mean_byte,
                CAST(n // 256 + 1 AS INT) AS frames
         FROM t""",

    "q47_window_tumbling" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
         time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS w_end,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",

    "q48_session_window" ->
      """WITH g AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                       THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts,
                      SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sess
               FROM g)
         SELECT user_id, MIN(ts) AS w_start,
                MAX(ts) + INTERVAL '30 minutes' AS w_end,
                COUNT(*) AS n_events
         FROM s GROUP BY user_id, sess""",

    "q49_assert" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity > 0 AND l_extendedprice >= 0""",

    "q50_udaf_weighted_avg" ->
      """SELECT l_returnflag,
         CASE WHEN SUM(CAST(round(l_quantity * 100) AS BIGINT)) = 0 THEN 0.0
              ELSE CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                            * CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
                   / CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
                   / 100.0
         END AS w_avg_price
         FROM lineitem GROUP BY l_returnflag""",

    "q51_stream_through" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, UPPER(lang) AS lang_up FROM documents""",

    "q52_bloom_join" ->
      """SELECT l_returnflag, COUNT(*) AS n_lines,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
         GROUP BY l_returnflag""",

    "q53_range_join" ->
      """WITH bands AS (
           SELECT DISTINCT CAST(floor((p_retailprice - 900) * 5) * 1000 AS DOUBLE) AS lo,
                  CAST(floor((p_retailprice - 900) * 5) * 1000 + 1000 AS DOUBLE) AS hi
           FROM part)
         SELECT lo, COUNT(*) AS n_points,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem JOIN bands
           ON l_extendedprice >= lo AND l_extendedprice < hi
         GROUP BY lo""",

    // same harness as q40 over the IVF path
    "q54_ann_ivf" ->
      """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_truth, TRUE AS recall_ge_50
         FROM embeddings WHERE vec_id % 100 = 0""",

    "q55_string_funcs2" ->
      """SELECT c_custkey,
         printf('%s-%04d', lower(c_mktsegment), c_custkey) AS tag,
         upper(substring(lower(c_mktsegment), 1, 1)) || substring(lower(c_mktsegment), 2) AS seg_uc,
         starts_with(c_name, 'Customer#00000000') AS low_id,
         array_to_string(string_split(c_name, '#'), '/') AS name_parts
         FROM customer""",

    "q56_stats_agg" ->
      """SELECT l_returnflag,
         round(corr(l_quantity, l_extendedprice), 6) AS cor_qp,
         round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qp,
         round(stddev_samp(l_quantity), 6) AS sd_q
         FROM lineitem GROUP BY l_returnflag""",

    "q57_salted_agg" ->
      """SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         COUNT(*) AS cnt
         FROM lineitem GROUP BY l_returnflag""",

    "q58_percentiles" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
         round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
         COUNT(DISTINCT l_orderkey) AS n_orders
         FROM lineitem GROUP BY l_returnflag""",

    // structural-invariant harness: the oracle recomputes the anchors
    // (full assignment coverage) and asserts the invariant counters are
    // hard zeros — the Spark side must reproduce them from its own
    // assignment table
    "q59_dedup_assign" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(COUNT(*) AS BIGINT) AS n_assigned,
                CAST(0 AS BIGINT) AS n_bad_order,
                CAST(0 AS BIGINT) AS n_bad_canonical
         FROM documents""",

    // engine-portable dialect: this exact text runs on Spark AND DuckDB
    "q60_sql_entry" ->
      """SELECT r_name, COUNT(*) AS n_cust,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",

    "q61_bag_funcs" ->
      """SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS BIGINT) AS n_tokens,
         array_to_string(list_sort(list_distinct(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')))[1:5], '|') AS first5_sorted,
         len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) = 0 AS is_empty
         FROM documents""",

    "q62_constructors" ->
      """SELECT c_custkey,
         c_mktsegment AS m_seg,
         CAST(2 AS BIGINT) AS n_keys,
         greatest(CAST(c_nationkey AS BIGINT), c_custkey % 7) AS bag_max,
         c_name AS t_name
         FROM customer""",

    "q63_stratified_sample" ->
      """SELECT doc_id, lang, rn FROM (
           SELECT doc_id, lang,
                  CAST(ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
           FROM documents)
         WHERE rn <= 5""",

    "q64_pii_redact" ->
      """SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text),
           '[a-z0-9._%+-]+@[a-z0-9.-]+|\b\d{3}[- ]?\d{4}\b|\b(?:the|and|for|with)\b')) AS BIGINT) AS n_redact,
         regexp_replace(lower(text),
           '[a-z0-9._%+-]+@[a-z0-9.-]+|\b\d{3}[- ]?\d{4}\b|\b(?:the|and|for|with)\b',
           '[MASK]', 'g') AS redacted
         FROM documents""",

    "q65_repetition" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
           FROM documents),
         g AS (
           SELECT doc_id,
                  CASE WHEN len(toks) >= 3
                       THEN list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                       ELSE CAST([] AS VARCHAR[]) END AS tri
           FROM t)
         SELECT doc_id,
           CAST(len(tri) AS BIGINT) AS n_trigrams,
           CAST(len(list_distinct(tri)) AS BIGINT) AS n_uniq,
           CAST(CASE WHEN len(tri) > 0
                THEN (len(tri) - len(list_distinct(tri))) * 1000000 // len(tri)
                ELSE 0 END AS BIGINT) AS rep_ppm
         FROM g""",

    "q66_shard_assign" ->
      """SELECT doc_id, lang,
         CAST((position(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN '0123456789abcdef') - 1) % 8 AS BIGINT) AS shard
         FROM documents""",

    "q67_window_analytics" ->
      """SELECT o_orderkey, o_custkey,
         lag(o_totalprice, 1) OVER w AS prev_price,
         lead(o_totalprice, 1) OVER w AS next_price,
         CAST(ntile(4) OVER w AS BIGINT) AS quartile,
         round(percent_rank() OVER w, 6) AS pr
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",

    // engine-portable dialect: this exact text runs on Spark AND DuckDB
    "q68_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         COALESCE(o_orderpriority, 'ALL') AS priority,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderstatus, o_orderpriority), ())""",

    "q69_cosine_pairs_exact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id % 10 = 0)
         SELECT a.vec_id AS id1, b.vec_id AS id2,
                round(list_cosine_similarity(a.v, b.v), 6) AS cosine
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.v, b.v) >= 0.35""",

    "q70_chunking" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
           FROM documents),
         s AS (
           SELECT doc_id, toks, unnest(range(0, len(toks), 40)) AS start FROM t)
         SELECT doc_id,
           CAST(start // 40 AS BIGINT) AS chunk_id,
           CAST(len(toks[start+1 : start+50]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(toks[start+1 : start+50], ' ') AS chunk_text
         FROM s""",

    "q71_frame_sample" ->
      """WITH t AS (
           SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents),
         f AS (
           SELECT doc_id, text,
                  unnest(range(0, CAST(ceil(n / 256.0) AS BIGINT))) AS frame_idx
           FROM t WHERE n > 0)
         SELECT doc_id,
           CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(octet_length(encode(substring(text, CAST(frame_idx*256+1 AS INTEGER), 256))) AS BIGINT) AS frame_bytes,
           md5(substring(text, CAST(frame_idx*256+1 AS INTEGER), 256)) AS frame_md5
         FROM f WHERE frame_idx % 2 = 0""",

    "q72_event_sequences" ->
      """SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS seq
         FROM events GROUP BY user_id""",

    "q75_fraction_sample" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE position(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN '0123456789abcdef') <= 4""",

    "q76_session_sequences" ->
      """WITH g AS (
           SELECT user_id, ts, event_id, event_type,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, ts, event_id, event_type,
                  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
           FROM g)
         SELECT user_id, sess_id,
           CAST(count(*) AS BIGINT) AS n_events,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS seq
         FROM s GROUP BY user_id, sess_id""",

    "q74_data_card" ->
      """WITH d AS (
           SELECT doc_id, lang, source,
                  len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS nt,
                  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
           FROM documents),
         fc AS (SELECT fp, count(*) AS fp_cnt FROM d GROUP BY fp)
         SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(nt) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN fp_cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
         FROM d JOIN fc USING (fp)
         GROUP BY lang""",

    "q73_contamination" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
           FROM documents),
         g AS (
           SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    range(1, greatest(len(toks) - 3, 1)),
                    i -> array_to_string(toks[i:i+4], ' ')))) AS ng
           FROM t),
         bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 50 = 0)
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         FROM g JOIN bench USING (ng)
         WHERE g.doc_id % 50 <> 0
         GROUP BY g.doc_id""",

    // ============ Pig front-end queries (q77+) ============

    "q77_pig_scan_filter" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1 - l_discount) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'""",

    "q78_pig_group_agg" ->
      """SELECT l_returnflag, l_linestatus,
         count(*) AS count_order, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
         min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus""",

    "q79_pig_join_group" ->
      """SELECT o_orderstatus, count(*) AS n_lines, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderstatus""",

    "q80_pig_join_replicated" ->
      """SELECT n_name, count(*) AS n_lines, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name""",

    "q81_pig_left_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey""",

    "q82_pig_union_distinct" ->
      """SELECT DISTINCT o_custkey, o_orderpriority FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')""",

    "q83_pig_order_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "q84_pig_flatten_tokenize" ->
      """SELECT token, n FROM (
           SELECT token, count(*) AS n FROM (
             SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
             FROM documents)
           WHERE regexp_full_match(token, '[a-z]{6,}')
           GROUP BY token)
         WHERE n >= 2""",

    "q85_pig_split" ->
      """SELECT 'big' AS bucket, count(*) AS n FROM orders WHERE o_totalprice > 200000.0
         UNION ALL
         SELECT 'mid', count(*) FROM orders
         WHERE o_totalprice > 50000.0 AND o_totalprice <= 200000.0
         UNION ALL
         SELECT 'small', count(*) FROM orders WHERE o_totalprice <= 50000.0""",

    "q86_pig_cogroup" ->
      """SELECT COALESCE(c.k, o.k) AS c_custkey,
                COALESCE(c.n, 0) AS n_cust, COALESCE(o.n, 0) AS n_orders
         FROM (SELECT c_custkey AS k, count(*) AS n FROM customer GROUP BY 1) c
         FULL JOIN (SELECT o_custkey AS k, count(*) AS n FROM orders GROUP BY 1) o
           ON c.k = o.k""",

    "q87_pig_rank" ->
      """SELECT rnk, c_custkey, c_acctbal FROM (
           SELECT rank() OVER (ORDER BY c_acctbal DESC) AS rnk, c_custkey, c_acctbal
           FROM customer)
         WHERE rnk <= 20""",

    "q88_pig_csv_lazy" ->
      """SELECT CAST(c0 AS INTEGER) AS n_nationkey, upper(c1) AS n_name_uc,
                CAST(c2 AS INTEGER) AS n_regionkey
         FROM read_csv('/tmp/graft_pig/nation.csv', header=false,
                       names=['c0','c1','c2'], all_varchar=true)
         WHERE CAST(c2 AS INTEGER) != 2""",

    "q89_pig_macro" ->
      """SELECT o_custkey, n FROM (
           SELECT o_custkey, count(*) AS n FROM orders
           WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey)
         ORDER BY n DESC, o_custkey LIMIT 15""",

    "q90_pig_cross" ->
      """SELECT n_name, r_name FROM nation, region WHERE n_regionkey != r_regionkey""",

    "q91_pig_cogroup_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders
                             WHERE o_orderpriority = '1-URGENT')""",

    "q92_pig_scalar_funcs" ->
      """SELECT c_custkey,
         upper(c_name) AS name_uc,
         substring(c_name, 1, 8) AS name8,
         CASE WHEN c_acctbal > 5000.0 THEN 'high'
              WHEN c_acctbal >= 0.0 THEN 'mid'
              ELSE 'neg' END AS tier,
         CAST(floor(c_acctbal + 0.5) AS BIGINT) AS bal_round,
         abs(c_acctbal) AS bal_abs,
         CAST(c_nationkey AS BIGINT) AS nk
         FROM customer""",

    "q93_pig_dates" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS INT) AS yr,
         CAST(month(o_orderdate) AS INT) AS mo,
         CAST(trunc((epoch(TIMESTAMP '1998-01-01') - epoch(o_orderdate)) / 86400) AS BIGINT) AS days_from_98,
         CAST(trunc((epoch(o_orderdate) - epoch(TIMESTAMP '1998-01-01')) / 3600) AS BIGINT) AS hours_to_98
         FROM orders""",

    "q94_pig_nested_filter" ->
      """SELECT l_orderkey, count(*) AS n_items,
         count(*) FILTER (WHERE l_quantity > 25.0) AS n_big,
         max(l_quantity) FILTER (WHERE l_quantity > 25.0) AS max_big
         FROM lineitem GROUP BY l_orderkey""",

    "q95_pig_nested_top" ->
      """SELECT o_custkey, n_top, o_totalprice FROM (
           SELECT o_custkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC) AS rn,
                  CAST(least(count(*) OVER (PARTITION BY o_custkey), 3) AS BIGINT) AS n_top
           FROM orders)
         WHERE rn <= 3""",

    "q96_pig_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",

    "q97_pig_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""",

    "q98_pig_inline_foreach" ->
      """SELECT l_returnflag, count(*) AS n_lines, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_returnflag""",

    "q99_pig_nested_foreach" ->
      """SELECT l_suppkey,
         CAST(sum(l_quantity * 2.0) AS DOUBLE) AS sum_dqty,
         count(CASE WHEN l_quantity * 2.0 > 60.0 THEN 1 END) AS n_big,
         max(CASE WHEN l_quantity * 2.0 > 60.0 THEN l_quantity * 2.0 END) AS max_big
         FROM lineitem GROUP BY l_suppkey""",

    "q228_nested_flatten" ->
      """SELECT source,
                CAST(COUNT(*) AS BIGINT) AS n_words,
                CAST(COUNT(DISTINCT word) AS BIGINT) AS n_uniq
         FROM (SELECT source,
                      unnest(string_split_regex(text, '\s+')) AS word
               FROM documents)
         WHERE word <> '' GROUP BY source""",

    "q102_pig_scalar_alias" ->
      """WITH t AS (SELECT CAST(avg(l_quantity) AS DOUBLE) AS avg_qty FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_quantity / t.avg_qty AS qty_ratio
         FROM lineitem, t WHERE l_quantity > t.avg_qty * 1.5""",

    "q103_pig_case" ->
      """WITH b AS (
           SELECT o_orderkey,
             CASE WHEN o_totalprice > 200000.0 THEN 'big'
                  WHEN o_totalprice > 100000.0 THEN 'mid'
                  ELSE 'small' END AS bucket,
             CASE o_orderstatus WHEN 'F' THEN 'done' WHEN 'O' THEN 'open'
                  ELSE 'other' END AS status_word
           FROM orders)
         SELECT bucket, status_word, count(*) AS n,
           CASE WHEN count(*) > 100 THEN 'common' ELSE 'rare' END AS freq
         FROM b GROUP BY bucket, status_word""",

    "q100_tfidf" ->
      """WITH tk AS (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term,
             tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) AS score
           FROM tf JOIN df USING (term) CROSS JOIN n),
         ranked AS (SELECT doc_id, term, score,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rn
           FROM scored)
         SELECT doc_id, term, round(score, 6) AS score FROM ranked WHERE rn <= 5""",

    "q101_epoch_shuffle" ->
      """SELECT doc_id,
         CAST(row_number() OVER (
           ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS ord
         FROM documents""",

    "q104_seq_pack" ->
      """SELECT doc_id, source,
         CAST(COALESCE(FLOOR(
           SUM(len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')))
             OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) / 200), 0) AS BIGINT) AS seq_id
         FROM documents""",

    // the federated cut/transfer/orchestrate path must equal the plain
    // single-engine join
    "q105_federated_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_totalprice > 100000
         GROUP BY c_nationkey""",

    // capstone: DSIR keep -> budget window -> export manifest, every
    // stage replayed in one SQL chain (q156 + q150 + q162 idioms)
    "q164_curate_mix_export" ->
      """WITH tk AS (
           SELECT doc_id, lang,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '') AS t
           FROM documents),
         g AS (
           SELECT doc_id, t[i] AS gram
           FROM tk, UNNEST(generate_series(1, len(t))) u(i)
           UNION ALL
           SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
           FROM tk, UNNEST(generate_series(1, len(t) - 1)) u(i)),
         b AS (SELECT doc_id, substr(md5(gram), 1, 3) AS bucket FROM g),
         sc AS (SELECT bucket, COUNT(*) AS s FROM b GROUP BY 1),
         tc AS (SELECT b.bucket, COUNT(*) AS c
                FROM b JOIN documents USING (doc_id)
                WHERE lang = 'en' GROUP BY 1),
         w AS (SELECT sc.bucket, (COALESCE(tc.c, 0) * 1000000) // sc.s AS w
               FROM sc LEFT JOIN tc ON sc.bucket = tc.bucket),
         sco AS (SELECT b.doc_id, CAST(SUM(w.w) AS BIGINT) AS iw
                 FROM b JOIN w USING (bucket) GROUP BY 1),
         kept AS (
           SELECT tk.doc_id, tk.lang, len(tk.t) AS nt
           FROM tk JOIN sco USING (doc_id) WHERE sco.iw >= 40000000),
         cum AS (
           SELECT doc_id, lang, nt,
                  SUM(nt) OVER (PARTITION BY lang
                                ORDER BY md5(lang || '|' || CAST(doc_id AS VARCHAR)),
                                         doc_id) AS cum
           FROM kept),
         bud AS (
           SELECT doc_id, nt FROM cum
           WHERE cum <= CASE lang WHEN 'en' THEN 5000 ELSE 2500 END),
         m AS (
           SELECT doc_id, nt,
                  CAST((position(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                        IN '0123456789abcdef') - 1) % 8 AS BIGINT) AS shard,
                  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) AS ck
           FROM bud)
         SELECT shard, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
                CAST(SUM(doc_id) AS BIGINT) AS sum_id,
                CAST(SUM(ck) AS BIGINT) AS checksum
         FROM m GROUP BY shard""",

    // CCNet passage dedup: the oracle replays the keep-first rule as a
    // row_number window (a different formulation than the engine's
    // min-aggregate + join-back), so each side checks the other
    "q165_chunk_dedup" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '') AS tk
           FROM documents),
         p AS (
           SELECT doc_id, i AS cidx,
                  array_to_string(tk[i*10+1 : i*10+10], ' ') AS passage
           FROM t, UNNEST(generate_series(0, CAST(ceil(len(tk)/10.0) AS INT) - 1)) u(i)
           WHERE len(tk) > 0),
         r AS (
           SELECT doc_id, cidx, passage,
                  ROW_NUMBER() OVER (PARTITION BY passage
                                     ORDER BY doc_id, cidx) AS rn
           FROM p),
         k AS (SELECT doc_id, cidx, passage FROM r WHERE rn = 1),
         agg AS (
           SELECT doc_id, string_agg(passage, ' ' ORDER BY cidx) AS kept_text,
                  COUNT(*) AS n_kept
           FROM k GROUP BY doc_id),
         tot AS (
           -- COALESCE: a NULL-text doc has NULL tk; the engine emits
           -- n_total=0 for it (fail-closed), so the oracle must too
           SELECT doc_id,
                  CAST(COALESCE(ceil(len(tk)/10.0), 0) AS BIGINT) AS n_total
           FROM t)
         SELECT tot.doc_id,
                COALESCE(agg.kept_text, '') AS kept_text,
                CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
                tot.n_total
         FROM tot LEFT JOIN agg USING (doc_id)""",

    // PIT join: the oracle replays version selection as interval
    // CASE logic — pre-change orders see original attrs, post-change
    // orders on %3 keys see the new version
    "q190_pit_join" ->
      """SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
                CASE WHEN o.o_custkey % 3 = 0
                      AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                     THEN upper(c.c_name) ELSE c.c_name END AS cust_name,
                CASE WHEN o.o_custkey % 3 = 0
                      AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                     THEN c.c_acctbal + 500 ELSE c.c_acctbal END AS cust_bal
         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""",

    // Streaming DQ: the oracle recomputes every accumulated metric
    // from the FULL table — counter additivity is what's on trial
    "q189_stream_dq" ->
      """SELECT 'not_null' AS check_name, 'doc_id' AS target,
                CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS observed,
                CAST(0.0 AS DOUBLE) AS threshold,
                SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) = 0 AS passed
         FROM documents
         UNION ALL
         SELECT 'completeness', 'text',
                CAST(SUM(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*),
                CAST(0.99 AS DOUBLE),
                CAST(SUM(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 0.99
         FROM documents
         UNION ALL
         SELECT 'matches_ratio', 'lang',
                CAST(SUM(CASE WHEN regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*),
                CAST(1.0 AS DOUBLE),
                CAST(SUM(CASE WHEN regexp_matches(lang, '^[a-z]{2}$') THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 1.0
         FROM documents
         UNION ALL
         SELECT 'matches_ratio', 'source',
                CAST(SUM(CASE WHEN regexp_matches(source, '^src[0-4]$') THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*),
                CAST(1.0 AS DOUBLE),
                CAST(SUM(CASE WHEN regexp_matches(source, '^src[0-4]$') THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 1.0
         FROM documents
         UNION ALL
         SELECT 'in_range', 'n_chars',
                CAST(SUM(CASE WHEN n_chars IS NULL OR n_chars < 1 OR n_chars > 100000 THEN 1 ELSE 0 END) AS DOUBLE),
                CAST(0.0 AS DOUBLE),
                SUM(CASE WHEN n_chars IS NULL OR n_chars < 1 OR n_chars > 100000 THEN 1 ELSE 0 END) = 0
         FROM documents
         UNION ALL
         SELECT 'min_row_count', '*', CAST(COUNT(*) AS DOUBLE),
                CAST(100.0 AS DOUBLE), COUNT(*) >= 100
         FROM documents""",

    // Governed promotion: the oracle replays the promoted snapshot as
    // CASE logic, derives prod's equi-depth boundaries by rank, and
    // bins both sides — the full pipeline, end-to-end
    "q187_governed_promotion" ->
      """WITH base AS (
           SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal FROM customer),
         promoted AS (
           SELECT k,
                  CASE WHEN k % 7 = 0 THEN upper(name) ELSE name END AS name,
                  CASE WHEN k % 7 = 0 THEN bal + 1000 ELSE bal END AS bal
           FROM base WHERE k % 17 <> 0
           UNION ALL
           SELECT k + 1000000, 'new_' || CAST(k AS VARCHAR), 0.0
           FROM base WHERE k % 13 = 0),
         v AS (SELECT bal AS x FROM base WHERE bal IS NOT NULL),
         n AS (SELECT COUNT(*) AS n FROM v),
         r AS (SELECT x, RANK() OVER (ORDER BY x) AS rk FROM v),
         h AS (SELECT ((rk - 1) * 16) // n AS b, MAX(x) AS hi
               FROM r, n GROUP BY 1),
         cap AS (SELECT COUNT(*) - 1 AS cap FROM h),
         bb AS (
           SELECT x, 'base' AS side FROM v
           UNION ALL
           SELECT bal, 'target' FROM promoted WHERE bal IS NOT NULL),
         a AS (
           SELECT LEAST((SELECT COUNT(*) FROM h WHERE h.hi < bb.x),
                        cap.cap) AS bucket, side
           FROM bb, cap)
         SELECT CAST(bucket AS BIGINT) AS bucket,
                CAST(SUM(CASE WHEN side = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS base_cnt,
                CAST(SUM(CASE WHEN side = 'target' THEN 1 ELSE 0 END) AS BIGINT) AS target_cnt
         FROM a GROUP BY 1""",

    // AS OF snapshot: the post-change state replayed as plain CASE
    // logic over the same derived change batch
    "q186_asof_snapshot" ->
      """SELECT c_custkey AS k,
                CASE WHEN c_custkey % 7 = 0 THEN upper(c_name) ELSE c_name END AS name,
                CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1000 ELSE c_acctbal END AS bal
         FROM customer
         UNION ALL
         SELECT c_custkey + 1000000, 'new_' || CAST(c_custkey AS VARCHAR), 0.0
         FROM customer WHERE c_custkey % 13 = 0""",

    // Distribution drift: boundaries replayed via the same rank
    // arithmetic; binning via a correlated boundary count
    "q185_distribution_drift" ->
      """WITH v AS (
           SELECT l_extendedprice AS x FROM lineitem
           WHERE l_extendedprice IS NOT NULL),
         n AS (SELECT COUNT(*) AS n FROM v),
         r AS (SELECT x, RANK() OVER (ORDER BY x) AS rk FROM v),
         h AS (SELECT ((rk - 1) * 16) // n AS b, MAX(x) AS hi
               FROM r, n GROUP BY 1),
         cap AS (SELECT COUNT(*) - 1 AS cap FROM h),
         bb AS (
           SELECT x, 'base' AS side FROM v
           UNION ALL
           SELECT l_extendedprice, 'target' FROM lineitem
           WHERE l_extendedprice IS NOT NULL AND l_quantity <= 10),
         a AS (
           SELECT LEAST((SELECT COUNT(*) FROM h WHERE h.hi < bb.x),
                        cap.cap) AS bucket, side
           FROM bb, cap)
         SELECT CAST(bucket AS BIGINT) AS bucket,
                CAST(SUM(CASE WHEN side = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS base_cnt,
                CAST(SUM(CASE WHEN side = 'target' THEN 1 ELSE 0 END) AS BIGINT) AS target_cnt
         FROM a GROUP BY 1""",

    // Equi-depth histogram: the oracle ranks with a window and replays
    // the identical integer bucket arithmetic
    "q184_equidepth_hist" ->
      """WITH v AS (
           SELECT l_extendedprice AS x FROM lineitem
           WHERE l_extendedprice IS NOT NULL),
         n AS (SELECT COUNT(*) AS n FROM v),
         r AS (SELECT x, RANK() OVER (ORDER BY x) AS rk FROM v)
         SELECT CAST(((rk - 1) * 16) // n AS BIGINT) AS bucket,
                MIN(x) AS lo, MAX(x) AS hi, COUNT(*) AS cnt
         FROM r, n GROUP BY 1""",

    // Skew profile: same total order replayed as a plain sort+limit
    "q183_skew_profile" ->
      """WITH c AS (
           SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey),
         t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
         SELECT l_partkey, CAST(cnt AS BIGINT) AS cnt,
                CAST(cnt AS DOUBLE) / total AS share
         FROM c, t ORDER BY cnt DESC, l_partkey LIMIT 20""",

    // Distinctive terms: exact HUGEINT cross-multiplication replays
    // the decimal odds-ratio threshold
    "q182_distinctive_terms" ->
      """WITH toks AS (
           SELECT lang AS c,
                  unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                     x -> x <> '')) AS term
           FROM documents WHERE lang IN ('en', 'fr')),
         tot AS (
           SELECT CAST(SUM(CASE WHEN c = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS atot,
                  CAST(SUM(CASE WHEN c = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS btot
           FROM toks),
         cnt AS (
           SELECT term,
                  CAST(SUM(CASE WHEN c = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt,
                  CAST(SUM(CASE WHEN c = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt
           FROM toks GROUP BY term),
         sc AS (
           SELECT term, a_cnt, b_cnt,
                  CAST(a_cnt + 1 AS HUGEINT) * CAST(btot - b_cnt + 1 AS HUGEINT) AS ps,
                  CAST(atot - a_cnt + 1 AS HUGEINT) * CAST(b_cnt + 1 AS HUGEINT) AS qr
           FROM cnt, tot)
         SELECT term, CASE WHEN ps > 3 * qr THEN 'A' ELSE 'B' END AS side,
                a_cnt, b_cnt
         FROM sc WHERE ps > 3 * qr OR qr > 3 * ps""",

    // Snapshot diff: full-outer set logic with null-safe compares;
    // t-side columns are already NULL for deletes
    "q181_snapshot_diff" ->
      """WITH base AS (
           SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal FROM customer),
         t AS (
           SELECT k,
                  CASE WHEN k % 7 = 0 THEN upper(name) ELSE name END AS name,
                  CASE WHEN k % 7 = 0 THEN bal + 1000 ELSE bal END AS bal
           FROM base WHERE k % 17 <> 0
           UNION ALL
           SELECT k + 1000000, 'new_' || CAST(k AS VARCHAR), 0.0
           FROM base WHERE k % 13 = 0),
         j AS (
           SELECT base.k AS bk, base.name AS bname, base.bal AS bbal,
                  t.k AS tk, t.name AS tname, t.bal AS tbal
           FROM base FULL OUTER JOIN t ON base.k = t.k)
         SELECT COALESCE(bk, tk) AS k, tname AS name, tbal AS bal,
                CASE WHEN bk IS NULL THEN 'insert'
                     WHEN tk IS NULL THEN 'delete'
                     ELSE 'update' END AS op
         FROM j
         WHERE bk IS NULL OR tk IS NULL
            OR tname IS DISTINCT FROM bname OR tbal IS DISTINCT FROM bbal""",

    // Streaming SCD2: the oracle chains both CDC applications as SQL
    // set logic over the same derived change chunks
    "q180_stream_scd2" ->
      """WITH cur0 AS (
           SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal,
                  TIMESTAMP '2020-01-01 00:00:00' AS vf
           FROM customer),
         ch1 AS (
           SELECT c_custkey AS k, upper(c_name) AS name, c_acctbal + 1000 AS bal
           FROM customer WHERE c_custkey % 7 = 0
           UNION ALL
           SELECT c_custkey, c_name, c_acctbal
           FROM customer WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0
           UNION ALL
           SELECT c_custkey + 1000000, 'new_' || CAST(c_custkey AS VARCHAR), 0.0
           FROM customer WHERE c_custkey % 13 = 0),
         j1 AS (
           SELECT cur0.k AS bk, cur0.name AS bname, cur0.bal AS bbal, cur0.vf AS bvf,
                  ch1.k AS ck, ch1.name AS cname, ch1.bal AS cbal
           FROM cur0 FULL OUTER JOIN ch1 ON cur0.k = ch1.k),
         hist1 AS (
           SELECT bk AS k, bname AS name, bbal AS bal, bvf AS valid_from,
                  CASE WHEN ck IS NOT NULL AND (bname IS DISTINCT FROM cname
                                                OR bbal IS DISTINCT FROM cbal)
                       THEN TIMESTAMP '2021-06-01 00:00:00'
                       ELSE NULL END AS valid_to
           FROM j1 WHERE bk IS NOT NULL
           UNION ALL
           SELECT ck, cname, cbal, TIMESTAMP '2021-06-01 00:00:00',
                  CAST(NULL AS TIMESTAMP)
           FROM j1 WHERE ck IS NOT NULL
             AND (bk IS NULL OR bname IS DISTINCT FROM cname
                  OR bbal IS DISTINCT FROM cbal)),
         cur1 AS (
           SELECT k, name, bal, valid_from AS vf FROM hist1 WHERE valid_to IS NULL),
         closed1 AS (
           SELECT k, name, bal, valid_from, valid_to FROM hist1 WHERE valid_to IS NOT NULL),
         ch2 AS (
           SELECT c_custkey AS k, c_name || '!' AS name, c_acctbal - 50 AS bal
           FROM customer WHERE c_custkey % 3 = 0
           UNION ALL
           SELECT c_custkey, c_name, c_acctbal
           FROM customer
           WHERE c_custkey % 11 = 0 AND c_custkey % 3 <> 0 AND c_custkey % 7 <> 0),
         j2 AS (
           SELECT cur1.k AS bk, cur1.name AS bname, cur1.bal AS bbal, cur1.vf AS bvf,
                  ch2.k AS ck, ch2.name AS cname, ch2.bal AS cbal
           FROM cur1 FULL OUTER JOIN ch2 ON cur1.k = ch2.k),
         hist2 AS (
           SELECT bk AS k, bname AS name, bbal AS bal, bvf AS valid_from,
                  CASE WHEN ck IS NOT NULL AND (bname IS DISTINCT FROM cname
                                                OR bbal IS DISTINCT FROM cbal)
                       THEN TIMESTAMP '2022-06-01 00:00:00'
                       ELSE NULL END AS valid_to
           FROM j2 WHERE bk IS NOT NULL
           UNION ALL
           SELECT ck, cname, cbal, TIMESTAMP '2022-06-01 00:00:00',
                  CAST(NULL AS TIMESTAMP)
           FROM j2 WHERE ck IS NOT NULL
             AND (bk IS NULL OR bname IS DISTINCT FROM cname
                  OR bbal IS DISTINCT FROM cbal))
         SELECT k, name, bal, valid_from, valid_to FROM closed1
         UNION ALL
         SELECT k, name, bal, valid_from, valid_to FROM hist2""",

    // Compaction: content conservation — the oracle aggregates the
    // SOURCE table; the query aggregates the compacted rewrite
    "q179_compaction" ->
      """SELECT lang, COUNT(*) AS n_docs,
                CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                CAST(SUM(n_chars) AS BIGINT) AS chars_sum
         FROM documents GROUP BY lang""",

    // PPS sampling: oracle replays the SERIAL one-window prefix sum
    // against the engine's sharded two-pass formulation
    "q178_pps_sample" ->
      """WITH w AS (
           SELECT doc_id, COALESCE(n_chars, 0) AS wt,
                  md5('42|' || CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
         c AS (
           SELECT doc_id, wt,
                  CAST(SUM(wt) OVER (ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
           FROM w)
         SELECT doc_id, wt AS weight, cum AS cum_weight,
                CAST(((cum - 7 + 3000) // 3000) - ((cum - wt - 7 + 3000) // 3000) AS BIGINT) AS mult
         FROM c
         WHERE ((cum - 7 + 3000) // 3000) - ((cum - wt - 7 + 3000) // 3000) >= 1""",

    // DQ suite: every check replayed as an independent SQL aggregate
    "q177_dq_report" ->
      """SELECT 'not_null' AS check_name, 'l_orderkey' AS target,
                CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS observed,
                CAST(0.0 AS DOUBLE) AS threshold,
                SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
         FROM lineitem
         UNION ALL
         SELECT 'completeness', 'l_shipdate',
                CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*),
                CAST(0.999 AS DOUBLE),
                CAST(SUM(CASE WHEN l_shipdate IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 0.999
         FROM lineitem
         UNION ALL
         SELECT 'in_range', 'l_discount',
                CAST(SUM(CASE WHEN l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.05 THEN 1 ELSE 0 END) AS DOUBLE),
                CAST(0.0 AS DOUBLE),
                SUM(CASE WHEN l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.05 THEN 1 ELSE 0 END) = 0
         FROM lineitem
         UNION ALL
         SELECT 'accepted_values', 'l_returnflag',
                CAST(SUM(CASE WHEN l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS DOUBLE),
                CAST(0.0 AS DOUBLE),
                SUM(CASE WHEN l_returnflag IS NULL OR l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) = 0
         FROM lineitem
         UNION ALL
         SELECT 'matches_ratio', 'l_linestatus',
                CAST(SUM(CASE WHEN regexp_matches(l_linestatus, '^[OF]$') THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*),
                CAST(1.0 AS DOUBLE),
                CAST(SUM(CASE WHEN regexp_matches(l_linestatus, '^[OF]$') THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) >= 1.0
         FROM lineitem
         UNION ALL
         SELECT 'min_row_count', '*', CAST(COUNT(*) AS DOUBLE),
                CAST(1000.0 AS DOUBLE), COUNT(*) >= 1000
         FROM lineitem
         UNION ALL
         SELECT 'unique', 'l_orderkey,l_linenumber',
                CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END), 0) AS DOUBLE),
                CAST(0.0 AS DOUBLE),
                COALESCE(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END), 0) = 0
         FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
         UNION ALL
         SELECT 'unique', 'l_suppkey',
                CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END), 0) AS DOUBLE),
                CAST(0.0 AS DOUBLE),
                COALESCE(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END), 0) = 0
         FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_suppkey)
         UNION ALL
         SELECT 'functional_dependency', 'l_orderkey,l_linenumber->l_partkey',
                CAST(COALESCE(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) AS DOUBLE),
                CAST(0.0 AS DOUBLE),
                COALESCE(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) = 0
         FROM (SELECT COUNT(DISTINCT l_partkey)
                      + MAX(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS nd
               FROM lineitem GROUP BY l_orderkey, l_linenumber)
         UNION ALL
         SELECT 'functional_dependency', 'l_partkey->l_suppkey',
                CAST(COALESCE(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) AS DOUBLE),
                CAST(0.0 AS DOUBLE),
                COALESCE(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) = 0
         FROM (SELECT COUNT(DISTINCT l_suppkey)
                      + MAX(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS nd
               FROM lineitem GROUP BY l_partkey)
         UNION ALL
         SELECT 'ref_integrity', 'l_orderkey', CAST(COUNT(*) AS DOUBLE),
                CAST(0.0 AS DOUBLE), COUNT(*) = 0
         FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
           ON l.l_orderkey = o.o_orderkey
         WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL""",

    // SCD2: the oracle replays close/open/no-op with IS DISTINCT FROM
    "q176_scd2_history" ->
      """WITH cur AS (
           SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal,
                  TIMESTAMP '2020-01-01 00:00:00' AS valid_from
           FROM customer),
         ch AS (
           SELECT c_custkey AS k, upper(c_name) AS name, c_acctbal + 1000 AS bal
           FROM customer WHERE c_custkey % 7 = 0
           UNION ALL
           SELECT c_custkey, c_name, c_acctbal
           FROM customer WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0
           UNION ALL
           SELECT c_custkey + 1000000, 'new_' || CAST(c_custkey AS VARCHAR), 0.0
           FROM customer WHERE c_custkey % 13 = 0),
         j AS (
           SELECT cur.k AS bk, cur.name AS bname, cur.bal AS bbal, cur.valid_from,
                  ch.k AS ck, ch.name AS cname, ch.bal AS cbal
           FROM cur FULL OUTER JOIN ch ON cur.k = ch.k)
         SELECT bk AS k, bname AS name, bbal AS bal, valid_from,
                CASE WHEN ck IS NOT NULL AND (bname IS DISTINCT FROM cname
                                              OR bbal IS DISTINCT FROM cbal)
                     THEN TIMESTAMP '2021-06-01 00:00:00'
                     ELSE NULL END AS valid_to
         FROM j WHERE bk IS NOT NULL
         UNION ALL
         SELECT ck, cname, cbal, TIMESTAMP '2021-06-01 00:00:00',
                CAST(NULL AS TIMESTAMP)
         FROM j WHERE ck IS NOT NULL
           AND (bk IS NULL OR bname IS DISTINCT FROM cname
                OR bbal IS DISTINCT FROM cbal)""",

    // MERGE upsert: the oracle replays the merge as plain SQL set
    // logic over the same derived change set
    "q175_merge_upsert" ->
      """WITH base AS (
           SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal FROM customer),
         ch AS (
           SELECT c_custkey AS k, upper(c_name) AS name,
                  c_acctbal + 1000 AS bal, FALSE AS del
           FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
           UNION ALL
           SELECT c_custkey + 1000000, 'new_' || CAST(c_custkey AS VARCHAR),
                  0.0, FALSE
           FROM customer WHERE c_custkey % 13 = 0
           UNION ALL
           SELECT c_custkey, c_name, c_acctbal, TRUE
           FROM customer WHERE c_custkey % 11 = 0)
         SELECT COALESCE(ch.k, base.k) AS k,
                CASE WHEN ch.k IS NOT NULL THEN ch.name ELSE base.name END AS name,
                CASE WHEN ch.k IS NOT NULL THEN ch.bal ELSE base.bal END AS bal
         FROM base FULL OUTER JOIN ch ON base.k = ch.k
         WHERE NOT COALESCE(ch.del, FALSE)""",

    // streaming export: the oracle recomputes the per-shard manifest
    // from the source table — the same truth q162's batch export is
    // held to (q157/q105 precedent: one oracle, two dataflows), so a
    // lost, duplicated, or misrouted doc in ANY micro-batch mismatches
    "q173_stream_export" ->
      """WITH d AS (
           SELECT doc_id,
                  CAST((position(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                        IN '0123456789abcdef') - 1) % 8 AS BIGINT) AS shard,
                  len(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS nt,
                  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) AS ck
           FROM documents)
         SELECT shard, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
                CAST(SUM(doc_id) AS BIGINT) AS sum_id,
                CAST(SUM(ck) AS BIGINT) AS checksum
         FROM d GROUP BY shard""",

    // curation funnel: the oracle recomputes every cumulative stage
    // count independently (k filtered aggregates vs the engine's
    // single-scan level trick — the formulations check each other)
    "q172_curation_funnel" ->
      """WITH base AS (
           SELECT doc_id, lang, n_chars, text,
                  len(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> t <> '')) AS nt,
                  md5(text) AS h
           FROM documents),
         w AS (SELECT h, MIN(doc_id) AS keep FROM base GROUP BY h),
         b AS (SELECT base.*, (base.doc_id = w.keep) AS is_w
               FROM base JOIN w ON base.h = w.h),
         s AS (
           SELECT 0 AS stage, 'input' AS name, COUNT(*) AS c,
                  COALESCE(SUM(nt), 0) AS t FROM b
           UNION ALL SELECT 1, 'lang_en', COUNT(*), COALESCE(SUM(nt), 0)
           FROM b WHERE lang = 'en'
           UNION ALL SELECT 2, 'min_chars', COUNT(*), COALESCE(SUM(nt), 0)
           FROM b WHERE lang = 'en' AND n_chars >= 200
           UNION ALL SELECT 3, 'dedup_winner', COUNT(*), COALESCE(SUM(nt), 0)
           FROM b WHERE lang = 'en' AND n_chars >= 200 AND is_w
           UNION ALL SELECT 4, 'min_tokens', COUNT(*), COALESCE(SUM(nt), 0)
           FROM b WHERE lang = 'en' AND n_chars >= 200 AND is_w AND nt >= 30)
         SELECT CAST(stage AS INT) AS stage, name,
                CAST(c AS BIGINT) AS n_docs, CAST(t AS BIGINT) AS n_tokens
         FROM s""",

    // leakage-safe split: the oracle replays the text-hash draw with
    // DuckDB's hex-cast idiom (identical dyadic rational)
    "q171_leakage_safe_split" ->
      """SELECT doc_id,
                CASE WHEN CAST('0x' || substring(md5(text), 1, 6) AS BIGINT)
                          / 16777216.0 < 0.125
                     THEN 'val' ELSE 'train' END AS side
         FROM documents""",

    // fractional upsampling: the oracle replays the md5 draw and the
    // copy-count arithmetic, then generates the same (doc, copy) rows
    "q170_upsample_repeat" ->
      """WITH u AS (
           SELECT doc_id, source,
             (position(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN '0123456789abcdef') - 1) / 16.0
           + (position(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1) IN '0123456789abcdef') - 1) / 256.0
           + (position(substring(md5(CAST(doc_id AS VARCHAR)), 3, 1) IN '0123456789abcdef') - 1) / 4096.0
           + (position(substring(md5(CAST(doc_id AS VARCHAR)), 4, 1) IN '0123456789abcdef') - 1) / 65536.0
           + (position(substring(md5(CAST(doc_id AS VARCHAR)), 5, 1) IN '0123456789abcdef') - 1) / 1048576.0
           + (position(substring(md5(CAST(doc_id AS VARCHAR)), 6, 1) IN '0123456789abcdef') - 1) / 16777216.0
             AS u
           FROM documents),
         c AS (
           SELECT doc_id, source, u,
                  CASE source WHEN 'src0' THEN 2.5
                              WHEN 'src1' THEN 0.25
                              ELSE 1.0 END AS rate
           FROM u),
         n AS (
           SELECT doc_id, source,
                  CAST(floor(rate) +
                       CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END
                       AS INT) AS n
           FROM c)
         SELECT doc_id, source, CAST(i AS BIGINT) AS copy
         FROM n, UNNEST(generate_series(1, n)) t(i)
         WHERE n >= 1""",

    // KMV overlap: the oracle recomputes the exact shingle-set sizes and
    // overlap from scratch and pins the measured estimator/merge contracts
    "q168_kmv_overlap" ->
      """WITH t AS (
           SELECT source,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '') AS tk
           FROM documents),
         g AS (
           SELECT source, array_to_string(tk[i:i+4], ' ') AS g
           FROM t, UNNEST(generate_series(1, len(tk) - 4)) u(i)
           WHERE len(tk) >= 5
           UNION ALL
           SELECT source, array_to_string(tk, ' ') AS g FROM t WHERE len(tk) < 5),
         a AS (SELECT DISTINCT g FROM g WHERE source <> 'src0'),
         b AS (SELECT DISTINCT g FROM g WHERE source = 'src0'),
         i AS (SELECT COUNT(*) AS c FROM a JOIN b USING (g))
         SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
                CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
                CAST(i.c AS BIGINT) AS inter_exact,
                CAST((SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b) - i.c
                     AS BIGINT) AS union_exact,
                TRUE AS est_na_within_10pct, TRUE AS est_nb_within_10pct,
                TRUE AS est_j_abs_err_le_1pct, TRUE AS merge_exact
         FROM i""",

    // incremental maintenance: the oracle is the FULL recompute — it
    // never sees the base/delta split, so a merge bug cannot self-confirm
    "q166_incremental_agg" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
                CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_quantity AS DECIMAL(38,2))) AS DOUBLE)
                  / COUNT(l_quantity) AS avg_qty,
                MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_price,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
                  / COUNT(l_extendedprice) AS avg_price,
                MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
         FROM lineitem GROUP BY 1, 2""",

    // KV stats-only aggregation: oracle recomputes from the source
    "q163_kv_agg_pushdown" ->
      """SELECT COUNT(*) AS n_keys,
                MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
         FROM customer""",

    // export manifest: the oracle recomputes every per-shard stat from
    // the source table + the md5-nibble shard rule; Spark's side comes
    // from the read-back files — matching hashes prove completeness
    "q162_export_manifest" ->
      """WITH d AS (
           SELECT doc_id,
                  CAST((position(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                        IN '0123456789abcdef') - 1) % 8 AS BIGINT) AS shard,
                  len(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS nt,
                  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) AS ck
           FROM documents)
         SELECT shard, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
                CAST(SUM(doc_id) AS BIGINT) AS sum_id,
                CAST(SUM(ck) AS BIGINT) AS checksum
         FROM d GROUP BY shard""",

    // CMS: exact probe-token counts recomputed by the oracle; the
    // sketch invariants (never-under, eps bound, exact merge) pinned
    "q160_cms_freq" ->
      """WITH tk AS (
           SELECT UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
                                     x -> x <> '')) AS tok
           FROM documents)
         SELECT p.tok, CAST(COALESCE(c.c, 0) AS BIGINT) AS exact_cnt,
                TRUE AS never_under, TRUE AS within_eps, TRUE AS merge_exact
         FROM (VALUES ('batch'), ('scan'), ('join'), ('zzz_not_a_token')) p(tok)
         LEFT JOIN (SELECT tok, COUNT(*) AS c FROM tk
                    WHERE tok IN ('batch', 'scan', 'join', 'zzz_not_a_token')
                    GROUP BY tok) c ON p.tok = c.tok""",

    // approx-percentile sketch: rank-error contract pinned Spark-side
    "q161_approx_quantile" ->
      """SELECT COUNT(*) AS n_rows, TRUE AS p50_rank_ok,
                TRUE AS p90_rank_ok, TRUE AS p99_rank_ok
         FROM lineitem""",

    // classifier training: derivable count + invariants pinned TRUE
    // (loss trajectory and accuracy are computed Spark-side from a
    // deterministic, partition-invariant fit)
    "q159_train_classifier" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                TRUE AS loss_decreased, TRUE AS acc_ge_95
         FROM documents""",

    // streaming near-dup: derivable count + invariants pinned TRUE
    // (q59 pattern — the booleans are computed from two INDEPENDENT
    // formulations on the Spark side)
    "q158_stream_near_dup" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                TRUE AS stream_equals_batch,
                TRUE AS exact_dups_flagged
         FROM documents""",

    // same dataflow as q105, executed over Spark Connect client
    // sessions — the answer must be byte-identical to the plain SQL
    "q157_fed_connect" ->
      """SELECT c_nationkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_totalprice > 100000
         GROUP BY c_nationkey""",

    // the streaming replay's append-mode emitted set equals the batch
    // windowed aggregation once the sentinel advances the watermark
    "q106_stream_replay" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
         time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS w_end,
         event_type, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2, 3""",

    // batch equivalent of the CHAINED dedup->window-agg streaming
    // query: the double-written source collapses under DISTINCT
    // event_id before the hourly count
    "q151_stream_dedup_agg" ->
      """WITH d AS (
           SELECT DISTINCT event_id, ts, event_type FROM events)
         SELECT time_bucket(INTERVAL '1 hour', ts) AS w_start,
                time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS w_end,
                event_type, COUNT(*) AS n_events
         FROM d GROUP BY 1, 2, 3""",

    // same add-0.5-smoothed bigram model, retrained by the oracle;
    // per-bigram log-probs quantized to DECIMAL(18,12) on both engines
    // so the per-doc mean is order-independent and portable
    "q107_bigram_ppl" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
           FROM documents),
         idx AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                 FROM tk WHERE len(toks) >= 2),
         bge AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2 FROM idx),
         c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bge GROUP BY 1, 2),
         uni AS (SELECT unnest(toks) AS w FROM tk),
         c1 AS (SELECT w, COUNT(*) AS c1 FROM uni GROUP BY 1),
         v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM c1),
         lp AS (SELECT doc_id, CAST(ln((c12 + 0.5) / (c1 + 0.5 * v)) AS DECIMAL(18,12)) AS lp
                FROM bge JOIN c12 USING (w1, w2) JOIN c1 ON bge.w1 = c1.w CROSS JOIN v)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                round(exp(-(CAST(SUM(lp) AS DOUBLE) / COUNT(*))), 6) AS ppl
         FROM lp GROUP BY doc_id""",

    // identical τ-tempered rate table + md5-fraction keep rule; the
    // nibble arithmetic is exact small-integer math on both engines
    "q108_temperature_mix" ->
      """WITH toks AS (
           SELECT doc_id, source,
             len(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS nt
           FROM documents),
         masses AS (SELECT source, CAST(SUM(nt) AS DOUBLE) AS t_i FROM toks GROUP BY source),
         z AS (SELECT CAST(SUM(pow(t_i, 0.7)) AS DOUBLE) AS z,
              CAST(SUM(t_i) AS DOUBLE) AS t_total FROM masses),
         rates AS (
           SELECT source, least(1.0, pow(t_i, 0.7) / z.z * 0.5 * z.t_total / t_i) AS rate
           FROM masses CROSS JOIN z),
         u AS (
           SELECT doc_id, source,
             (position(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN '0123456789abcdef') - 1) / 16.0
           + (position(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1) IN '0123456789abcdef') - 1) / 256.0
           + (position(substring(md5(CAST(doc_id AS VARCHAR)), 3, 1) IN '0123456789abcdef') - 1) / 4096.0
           + (position(substring(md5(CAST(doc_id AS VARCHAR)), 4, 1) IN '0123456789abcdef') - 1) / 65536.0
           + (position(substring(md5(CAST(doc_id AS VARCHAR)), 5, 1) IN '0123456789abcdef') - 1) / 1048576.0
           + (position(substring(md5(CAST(doc_id AS VARCHAR)), 6, 1) IN '0123456789abcdef') - 1) / 16777216.0
             AS u
           FROM documents)
         SELECT u.doc_id, u.source
         FROM u JOIN rates ON u.source = rates.source
         WHERE u.u < rates.rate""",

    "q109_pig_top" ->
      """SELECT o_custkey AS ck, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderkey DESC) AS rn
           FROM orders) WHERE rn <= 3""",

    // append mode + no aggregation = every event exactly once = the
    // batch left join
    "q110_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""",

    // the batch equivalent of the stream-stream interval join: value
    // in integer cents (float-hazard discipline)
    "q136_stream_interval_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS buy_id,
                b.user_id,
                CAST(floor(b.value * 100) AS BIGINT) AS value_cents
         FROM events a
         JOIN events b
           ON a.user_id = b.user_id
          AND b.ts >= a.ts
          AND b.ts <= a.ts + INTERVAL 30 MINUTE
         WHERE a.event_type = 'click' AND b.event_type = 'purchase'""",

    // batch equivalent of the streaming LEFT OUTER interval join:
    // every click row survives; matched rows carry the purchase
    "q138_stream_outer_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS buy_id,
                a.user_id AS click_user,
                CAST(floor(b.value * 100) AS BIGINT) AS value_cents
         FROM events a
         LEFT JOIN events b
           ON a.user_id = b.user_id
          AND b.event_type = 'purchase'
          AND b.ts >= a.ts
          AND b.ts <= a.ts + INTERVAL 30 MINUTE
         WHERE a.event_type = 'click'""",

    // exact side recomputed; the sketch-contract booleans are asserted
    // constants the Spark side must reproduce from its own sketches
    "q111_sketch_bounds" ->
      """SELECT l_returnflag,
                COUNT(DISTINCT l_orderkey) AS exact_orders,
                TRUE AS hll_within_5pct,
                round(quantile_cont(l_quantity, 0.5), 6) AS p50_exact,
                TRUE AS p50_within_1
         FROM lineitem GROUP BY l_returnflag""",

    "q112_stream_state" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                round(SUM(value), 4) AS total_value
         FROM events GROUP BY user_id""",

    "q113_bucketed_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",

    "q114_salted_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",

    // the generator re-expressed in SQL: same word table, same modular
    // arithmetic, same id-derived suffixes — byte-identical rows
    "q116_dsv2_source" ->
      """WITH ids AS (SELECT unnest(range(1000, 3000)) AS id),
         w AS (SELECT ['alpha','bravo','charlie','delta','echo','foxtrot',
                       'golf','hotel','india','juliet','kilo','lima'] AS ws,
                      ['de','en','es','fr','zh'] AS ls)
         SELECT id AS doc_id,
                ls[CAST(id % 5 AS INT) + 1] AS lang,
                array_to_string(
                  list_transform(range(0, 5 + id % 7),
                    i -> ws[CAST((id*31 + i*7) % 12 AS INT) + 1] ||
                         CASE WHEN (id + i) % 3 = 0
                              THEN CAST((id*131 + i*17) % 9973 AS VARCHAR)
                              ELSE '' END),
                  ' ') AS text
         FROM ids CROSS JOIN w""",

    // q48's batch session formulation — the streaming engine must emit
    // exactly this set once the sentinel closes every real session
    "q115_stream_sessions" ->
      """WITH g AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                       THEN 1 ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts,
                      SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sess
               FROM g)
         SELECT user_id, MIN(ts) AS w_start,
                MAX(ts) + INTERVAL '30 minutes' AS w_end,
                COUNT(*) AS n_events
         FROM s GROUP BY user_id, sess""",

    // sequence-file round trip must land exactly back on the source
    "q117_seqfile_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    // every parsed log field recomputed straight from orders
    "q118_log_parse" ->
      """SELECT
           '10.0.' || CAST(o_custkey % 256 AS VARCHAR) || '.' ||
             CAST(o_orderkey % 256 AS VARCHAR) AS ip,
           strftime(o_orderdate, '%d/%b/%Y:%H:%M:%S') || ' +0000' AS ts_raw,
           'GET' AS method,
           '/order/' || CAST(o_orderkey AS VARCHAR) AS uri,
           CASE o_orderstatus WHEN 'F' THEN 200 WHEN 'O' THEN 302
                ELSE 404 END AS status,
           o_orderkey * 7 + 13 AS bytes,
           'graft-bench/1.0' AS agent
         FROM orders WHERE o_orderkey < 4000""",

    "q119_xml_extract" ->
      """SELECT p_partkey, p_name, p_brand FROM part
         WHERE p_partkey % 3 = 0""",

    "q120_csv_excel" ->
      """SELECT n_nationkey,
                n_name || ', "x"' || chr(10) || 'line2' AS field
         FROM nation""",

    "q121_datetime_iso" ->
      """SELECT o_orderkey,
                epoch_ms(o_orderdate) AS unix_ms,
                strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') || '.000+00:00' AS iso,
                date_diff('day', DATE '1995-01-01',
                          CAST(o_orderdate AS DATE)) AS days_since
         FROM orders""",

    // footer-pruned sparse lookup must equal the plain join
    "q122_sparse_lookup" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderkey % 997 = 0""",

    "q123_pig_merge_sparse" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderkey % 997 = 0""",

    // ground truth built from first principles: the Spark side must
    // normalize the messy URL into exactly this canonical form
    "q124_url_curate" ->
      """WITH u AS (
           SELECT n_chars,
                  'https://www.' || source || CAST(doc_id % 7 AS VARCHAR)
                    || '.com/p/' || CAST(doc_id AS VARCHAR)
                    || '?q=' || CAST(doc_id % 3 AS VARCHAR) AS url_norm,
                  source || CAST(doc_id % 7 AS VARCHAR) || '.com' AS domain
           FROM documents)
         SELECT domain, COUNT(*) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                MIN(url_norm) AS sample_url
         FROM u GROUP BY domain""",

    "q125_incremental_dedup" ->
      """SELECT doc_id, md5(text) AS fp FROM documents
         WHERE md5(text) NOT IN
           (SELECT md5(text) FROM documents WHERE doc_id % 2 = 0)""",

    // KV connector read (key-range pushdown + projection) must land
    // exactly on the source table
    "q126_kv_store" ->
      """SELECT c_custkey AS key, c_name, c_nationkey FROM customer
         WHERE c_custkey >= 100 AND c_custkey < 600""",

    "q127_pig_hbase" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_custkey <= 300""",

    // the external job's filter/projection, recomputed relationally
    "q128_pig_mapreduce" ->
      """SELECT n_nationkey, n_name FROM nation WHERE n_regionkey >= 3""",

    // doubled source, deduped sink: exactly the distinct event set
    "q129_stream_dedup" ->
      """SELECT event_id, user_id, event_type FROM events""",

    // two federated cuts must still land on the plain 3-way join
    "q130_federated_3way" ->
      """SELECT n_name, COUNT(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS sum_price
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderstatus = 'O'
         GROUP BY n_name""",

    // case-insensitive comparator: the 25 rows smallest under
    // (lower(k), k) — NOT under plain k, which ASCII-sorts every
    // UPPER()'d even doc_id first
    "q131_order_comparator" ->
      """SELECT doc_id, k FROM (
           SELECT doc_id,
                  CASE WHEN doc_id % 2 = 0 THEN upper(text) ELSE text END AS k
           FROM documents)
         ORDER BY lower(k), k LIMIT 25""",

    // 6-block simhash is exact like q36: zero missed, zero extra
    "q132_simhash_6block" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(0 AS BIGINT) AS n_missed,
                CAST(0 AS BIGINT) AS n_extra
         FROM documents""",

    // exact biginteger arithmetic: DuckDB computes in HUGEINT (int128
    // — covers the ~1e25 sums here); the engine's bignum strings must
    // match digit-for-digit. Filter bound 5e19 > Long.MAX, so the
    // selection set proves exact comparison too.
    "q133_biginteger_agg" ->
      """SELECT l_returnflag AS flag,
                CAST(SUM(amt) AS VARCHAR) AS sum_amt,
                CAST(MIN(amt) AS VARCHAR) AS min_amt,
                CAST(MAX(amt) AS VARCHAR) AS max_amt,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM (SELECT l_returnflag,
                      CAST(l_orderkey AS HUGEINT) * l_partkey
                        * CAST('1000000000000000' AS HUGEINT) AS amt
               FROM lineitem)
         WHERE amt > CAST('50000000000000000000' AS HUGEINT)
         GROUP BY 1""",

    // Gopher repetition: same newline injection, token split, and
    // integer-ppm arithmetic as the Spark side; LEFT JOINs + COALESCE
    // reproduce the kernel's zero semantics for gram-less docs
    "q134_gopher_rep" ->
      """WITH base AS (
           SELECT doc_id, regexp_replace(lower(text), ' ', chr(10), 'g') AS t2
           FROM documents),
         toks AS (
           SELECT doc_id, t2,
                  list_filter(string_split_regex(t2, '\s+'), x -> x <> '') AS tk
           FROM base),
         grams AS (
           SELECT doc_id,
                  CASE WHEN len(tk) >= 2
                       THEN list_transform(range(1, len(tk)),
                            i -> tk[i] || ' ' || tk[i+1])
                       ELSE CAST([] AS VARCHAR[]) END AS gs
           FROM toks),
         gcnt AS (
           SELECT doc_id, g, COUNT(*) AS c
           FROM (SELECT doc_id, unnest(gs) AS g FROM grams) GROUP BY doc_id, g),
         gstat AS (
           SELECT doc_id, max(c) AS top2, max(c * length(g)) AS topprod
           FROM gcnt GROUP BY doc_id),
         lns AS (
           SELECT doc_id, l, COUNT(*) AS c
           FROM (SELECT doc_id,
                        unnest(list_filter(string_split(t2, chr(10)), x -> x <> '')) AS l
                 FROM base) GROUP BY doc_id, l),
         lstat AS (
           SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nl, COUNT(*) AS dl,
                  CAST(SUM(CASE WHEN c > 1 THEN c * length(l) ELSE 0 END) AS BIGINT) AS dupch,
                  CAST(SUM(c * length(l)) AS BIGINT) AS totch
           FROM lns GROUP BY doc_id)
         SELECT b.doc_id,
           CAST(COALESCE(g.top2, 0) AS BIGINT) AS top2_count,
           CAST(CASE WHEN length(b.t2) > 0
                THEN COALESCE(g.topprod, 0) * 1000000 // length(b.t2)
                ELSE 0 END AS BIGINT) AS top2_char_ppm,
           CAST(COALESCE(l.nl, 0) AS BIGINT) AS n_lines,
           CAST(CASE WHEN COALESCE(l.nl, 0) > 0
                THEN (l.nl - l.dl) * 1000000 // l.nl ELSE 0 END AS BIGINT) AS dup_line_ppm,
           CAST(CASE WHEN COALESCE(l.totch, 0) > 0
                THEN l.dupch * 1000000 // l.totch ELSE 0 END AS BIGINT) AS dup_line_char_ppm
         FROM base b
         LEFT JOIN gstat g USING (doc_id)
         LEFT JOIN lstat l USING (doc_id)""",

    // cross-doc repeated 5-grams: distinct grams per doc, then doc
    // frequency; q65's tokenization and integer-ppm conventions
    "q137_crossdoc_repeats" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         g AS (
           SELECT doc_id, unnest(list_distinct(
             CASE WHEN len(tk) >= 5
                  THEN list_transform(range(1, len(tk) - 3),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                            tk[i+3] || ' ' || tk[i+4])
                  ELSE CAST([] AS VARCHAR[]) END)) AS gram
           FROM t),
         df AS (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram),
         per AS (
           SELECT g.doc_id, COUNT(*) AS n_grams,
                  CAST(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
           FROM g JOIN df USING (gram) GROUP BY g.doc_id)
         SELECT d.doc_id,
                CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
                CAST(COALESCE(p.n_shared, 0) AS BIGINT) AS n_shared,
                CAST(CASE WHEN COALESCE(p.n_grams, 0) > 0
                     THEN p.n_shared * 1000000 // p.n_grams
                     ELSE 0 END AS BIGINT) AS shared_ppm
         FROM documents d LEFT JOIN per p USING (doc_id)""",

    // hashed-feature classifier: identical md5 bucketing, Knuth-mix
    // integer weights, and exact integer ppm
    "q139_hash_classifier" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         w AS (
           SELECT doc_id,
                  list_transform(tk, x ->
                    ((CAST('0x' || substring(md5(x), 1, 8) AS BIGINT) % 1024)
                      * 2654435761) % 997) AS ws
           FROM t)
         SELECT doc_id,
                CAST(len(ws) AS BIGINT) AS n_tokens,
                CAST(COALESCE(list_sum(ws), 0) AS BIGINT) AS w_sum,
                CAST(CASE WHEN len(ws) > 0
                     THEN COALESCE(list_sum(ws), 0) * 1000000 // (len(ws) * 996)
                     ELSE 0 END AS BIGINT) AS score_ppm
         FROM w""",

    // BPE pair counts: same tokenization, 1-based substr, and the
    // total (count desc, pair) order makes LIMIT deterministic
    "q140_bpe_pairs" ->
      """WITH v AS (
           SELECT tok, COUNT(*) AS freq FROM (
             SELECT unnest(list_filter(
               string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
             FROM documents) GROUP BY tok),
         p AS (
           SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count FROM (
             SELECT freq, unnest(list_transform(range(1, length(tok)),
               i -> substr(tok, i, 2))) AS pair
             FROM v WHERE length(tok) >= 2) GROUP BY pair)
         SELECT pair, pair_count FROM p
         ORDER BY pair_count DESC, pair LIMIT 20""",

    // inverted index: distinct terms per doc, df over all postings,
    // postings = the 5 lowest ids (zero-padded; lexical == numeric)
    "q141_inverted_index" ->
      """WITH t AS (
           SELECT doc_id, unnest(list_distinct(list_filter(
             string_split_regex(lower(text), '\s+'), x -> x <> ''))) AS term
           FROM documents),
         r AS (
           SELECT term, lpad(CAST(doc_id AS VARCHAR), 10, '0') AS pid,
                  ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
           FROM t),
         agg AS (
           SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM t GROUP BY term),
         post AS (
           SELECT term, string_agg(pid, ',' ORDER BY pid) AS postings
           FROM r WHERE rn <= 5 GROUP BY term)
         SELECT a.term, a.doc_freq, p.postings
         FROM agg a JOIN post p USING (term)""",

    // int8 quantization: identical fixed-order double arithmetic
    "q142_quantize_int8" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
         m AS (
           SELECT vec_id, ev,
                  list_aggregate(ev, 'min') AS mn,
                  list_aggregate(ev, 'max') AS mx
           FROM v)
         SELECT vec_id, mn, mx,
                array_to_string(list_transform(ev, x ->
                  CASE WHEN mx > mn
                       THEN CAST(LEAST(CAST(floor((x - mn) * 255.0 / (mx - mn)) AS INTEGER), 255) AS VARCHAR)
                       ELSE '0' END), ',') AS codes
         FROM m""",

    // SemDeDup: centroids = 8 lowest vec_ids; assignment = max-cosine
    // centroid (ties -> lowest cid); pruned iff a lower-id row in the
    // same cluster has cosine >= 0.9; clones planted as in the engine
    "q135_semdedup" ->
      """WITH v AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]) AS ev
           FROM embeddings WHERE vec_id % 50 = 0),
         cent AS (SELECT vec_id AS cid, ev AS cv FROM v ORDER BY vec_id LIMIT 8),
         asg AS (
           SELECT vec_id, cid AS cluster FROM (
             SELECT v.vec_id, cent.cid,
                    ROW_NUMBER() OVER (PARTITION BY v.vec_id
                      ORDER BY list_cosine_similarity(v.ev, cent.cv) DESC, cent.cid) AS rn
             FROM v, cent) WHERE rn = 1),
         pruned AS (
           SELECT DISTINCT b.vec_id
           FROM asg a
           JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           JOIN v va ON va.vec_id = a.vec_id
           JOIN v vb ON vb.vec_id = b.vec_id
           WHERE list_cosine_similarity(va.ev, vb.ev) >= 0.9)
         SELECT asg.vec_id, CAST(asg.cluster AS BIGINT) AS cluster,
                CAST(CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         FROM asg LEFT JOIN pruned p ON asg.vec_id = p.vec_id""",

    // SemDeDup at k=4096: same rule as q135 but over the 16x clone
    // expansion (dim sliced to 16); argmax via min-of-struct (cosine
    // desc, cid asc) — the window formulation is quadratically slower
    // on the 33M-candidate matrix
    "q143_semdedup_bigk" ->
      """WITH v AS (
           SELECT vec_id*16 + i AS vid, CAST(embedding[1:16] AS DOUBLE[]) AS ev
           FROM embeddings, UNNEST(generate_series(0,15)) AS t(i)),
         cent AS (SELECT vid AS cid, ev AS cv FROM v ORDER BY vid LIMIT 4096),
         asg AS (
           SELECT v.vid,
                  (min(struct_pack(ns := -list_cosine_similarity(v.ev, cent.cv),
                                   cid := cent.cid))).cid AS cluster
           FROM v, cent GROUP BY v.vid),
         pruned AS (
           SELECT DISTINCT b.vid
           FROM asg a
           JOIN asg b ON a.cluster = b.cluster AND a.vid < b.vid
           JOIN v va ON va.vid = a.vid
           JOIN v vb ON vb.vid = b.vid
           WHERE list_cosine_similarity(va.ev, vb.ev) >= 0.9)
         SELECT asg.vid, CAST(asg.cluster AS BIGINT) AS cluster,
                CAST(CASE WHEN p.vid IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         FROM asg LEFT JOIN pruned p ON asg.vid = p.vid""",

    // the LSH prune equals the exact pair join on this fixture (clones
    // collide in every band; nothing else reaches tau) — same replay
    "q147_semdedup_lsh" ->
      """WITH v AS (
           SELECT vec_id*16 + i AS vid, CAST(embedding[1:16] AS DOUBLE[]) AS ev
           FROM embeddings, UNNEST(generate_series(0,15)) AS t(i)),
         cent AS (SELECT vid AS cid, ev AS cv FROM v ORDER BY vid LIMIT 4096),
         asg AS (
           SELECT v.vid,
                  (min(struct_pack(ns := -list_cosine_similarity(v.ev, cent.cv),
                                   cid := cent.cid))).cid AS cluster
           FROM v, cent GROUP BY v.vid),
         pruned AS (
           SELECT DISTINCT b.vid
           FROM asg a
           JOIN asg b ON a.cluster = b.cluster AND a.vid < b.vid
           JOIN v va ON va.vid = a.vid
           JOIN v vb ON vb.vid = b.vid
           WHERE list_cosine_similarity(va.ev, vb.ev) >= 0.9)
         SELECT asg.vid, CAST(asg.cluster AS BIGINT) AS cluster,
                CAST(CASE WHEN p.vid IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         FROM asg LEFT JOIN pruned p ON asg.vid = p.vid""",

    // batch equivalent of the streaming RIGHT OUTER interval join:
    // every purchase survives; the click filter must live in the ON
    // clause or null-extended rows would be WHERE'd away
    "q144_stream_right_outer_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS buy_id,
                b.user_id AS buy_user,
                CAST(floor(b.value * 100) AS BIGINT) AS value_cents
         FROM events a
         RIGHT JOIN events b
           ON a.user_id = b.user_id
          AND a.event_type = 'click'
          AND b.ts >= a.ts
          AND b.ts <= a.ts + INTERVAL 30 MINUTE
         WHERE b.event_type = 'purchase'""",

    // batch equivalent of the streaming FULL OUTER interval join:
    // both sides pre-filtered in subqueries (a WHERE on either side
    // would drop that side's null-extended rows)
    "q145_stream_full_outer_join" ->
      """SELECT a.click_id, b.buy_id,
                COALESCE(a.click_user, b.buy_user) AS user_id,
                CAST(floor(b.value * 100) AS BIGINT) AS value_cents
         FROM (SELECT event_id AS click_id, ts AS click_ts, user_id AS click_user
               FROM events WHERE event_type = 'click') a
         FULL JOIN (SELECT event_id AS buy_id, ts AS buy_ts,
                           user_id AS buy_user, value
                    FROM events WHERE event_type = 'purchase') b
           ON a.click_user = b.buy_user
          AND b.buy_ts >= a.click_ts
          AND b.buy_ts <= a.click_ts + INTERVAL 30 MINUTE""",

    // verbatim spans replayed from window STRINGS: same tokenization
    // as the engine (lower, split \s+, drop empties), unit-separator
    // join so token boundaries can't collide, same 2..50 doc-frequency
    // guard, same diagonal-islands chaining
    "q146_verbatim_spans" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         w AS (
           SELECT doc_id, i AS pos, array_to_string(tk[i:i+7], chr(31)) AS g
           FROM t, UNNEST(generate_series(1, len(tk) - 7)) AS u(i)
           WHERE len(tk) >= 8),
         eligible AS (
           SELECT g FROM w GROUP BY g
           HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 50),
         wf AS (SELECT w.* FROM w JOIN eligible USING (g)),
         m AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.pos AS pa, b.pos AS pb
           FROM wf a JOIN wf b ON a.g = b.g AND a.doc_id < b.doc_id),
         runs AS (
           SELECT id1, id2, pa - pb AS diag, pa, pb,
                  pa - ROW_NUMBER() OVER (PARTITION BY id1, id2, pa - pb
                                          ORDER BY pa) AS run
           FROM m)
         SELECT id1, id2,
                CAST(MIN(pa) AS BIGINT) AS a_start,
                CAST(MIN(pb) AS BIGINT) AS b_start,
                CAST(COUNT(*) + 7 AS BIGINT) AS len_tokens
         FROM runs GROUP BY id1, id2, diag, run""",

    // span REMOVAL replayed from window strings, with coverage
    // recomputed independently of the engine's interval merge: the
    // covered-position SET per doc (DISTINCT over span expansion) is
    // anti-joined against token positions — an island-merge bug in the
    // engine cannot reproduce here
    "q148_span_removal" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tk
           FROM documents),
         w AS (
           SELECT doc_id, i AS pos, array_to_string(tk[i:i+7], chr(31)) AS g
           FROM t, UNNEST(generate_series(1, len(tk) - 7)) AS u(i)
           WHERE len(tk) >= 8),
         eligible AS (
           SELECT g FROM w GROUP BY g
           HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 50),
         wf AS (SELECT w.* FROM w JOIN eligible USING (g)),
         m AS (
           SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.pos AS pa, b.pos AS pb
           FROM wf a JOIN wf b ON a.g = b.g AND a.doc_id < b.doc_id),
         runs AS (
           SELECT id1, id2, pa - pb AS diag, pa, pb,
                  pa - ROW_NUMBER() OVER (PARTITION BY id1, id2, pa - pb
                                          ORDER BY pa) AS run
           FROM m),
         spans AS (
           SELECT id1, id2, MIN(pa) AS a_start, MIN(pb) AS b_start,
                  COUNT(*) + 7 AS len_tokens
           FROM runs GROUP BY id1, id2, diag, run),
         cov AS (
           SELECT DISTINCT id2 AS doc_id, p
           FROM spans, UNNEST(generate_series(b_start, b_start + len_tokens - 1)) g(p)),
         pos AS (
           SELECT doc_id, i AS pos, tk[i] AS tok
           FROM t, UNNEST(generate_series(1, len(tk))) u(i)),
         kept AS (
           SELECT pos.doc_id, pos.pos, pos.tok
           FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.pos = cov.p
           WHERE cov.p IS NULL),
         stats AS (
           SELECT t.doc_id, len(tk) AS n_tokens, COALESCE(c.nrm, 0) AS tokens_removed
           FROM t LEFT JOIN (SELECT doc_id, COUNT(*) AS nrm FROM cov GROUP BY doc_id) c
             USING (doc_id))
         SELECT s.doc_id,
                CAST(s.n_tokens AS BIGINT) AS n_tokens,
                CAST(s.tokens_removed AS BIGINT) AS tokens_removed,
                CAST(s.n_tokens - s.tokens_removed AS BIGINT) AS tokens_kept,
                COALESCE(k.txt, '') AS text_clean
         FROM stats s
         LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt
                    FROM kept GROUP BY doc_id) k USING (doc_id)""",

    // heavy hitters: the oracle IS the exact definition the sketch
    // path must reproduce
    "q149_heavy_hitters" ->
      """SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
           SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                     x -> x <> '')) AS tok
           FROM documents)
         GROUP BY tok HAVING count(*) >= 500""",

    // hot n-grams: the oracle is the exact sliding-window 4-gram
    // count the sketch path must reproduce
    "q152_hot_ngrams" ->
      """WITH t AS (
           SELECT list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '') AS tk
           FROM documents),
         g AS (
           SELECT array_to_string(tk[i:i+3], ' ') AS gram
           FROM t, UNNEST(generate_series(1, len(tk) - 3)) u(i)
           WHERE len(tk) >= 4)
         SELECT gram, CAST(count(*) AS BIGINT) AS cnt
         FROM g GROUP BY gram HAVING count(*) >= 3""",

    // IVF-PQ with exact refine at the measured operating point: the
    // oracle pins the deterministic truth size and the recall floor
    "q154_ann_ivfpq" ->
      """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_truth, TRUE AS recall_ge_90
         FROM embeddings WHERE vec_id % 100 = 0""",

    // index persistence: the served-from-disk path must hit the same
    // recall contract as the in-memory q154 path (the row-exact
    // serve==memory equality is require()'d inside the entry)
    "q191_ann_index_persist" ->
      """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_truth, TRUE AS recall_ge_90
         FROM embeddings WHERE vec_id % 100 = 0""",

    // streaming index ingest: the recall contract on the
    // served-over-deltas path (exactly-once + serve==memory equality
    // are require()'d in-entry; models trained on the 90% base)
    "q197_ann_stream_ingest" ->
      """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_truth, TRUE AS recall_ge_90
         FROM embeddings WHERE vec_id % 100 = 0""",

    // file-granular MERGE: the oracle replays the update+insert leg
    // then the delete leg over the raw rollup; the byte/file-subset
    // receipts and the stale-CAS refusal are require()'d in-entry
    // (file sharing is hash-invisible by design)
    "q198_file_granular_merge" ->
      """WITH a AS (
           SELECT l_orderkey AS k1,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                       AS DECIMAL(38,2)) AS qty
           FROM lineitem GROUP BY 1),
         thr AS (
           SELECT CAST(FLOOR(MAX(l_orderkey) / 50.0) AS BIGINT) AS t
           FROM lineitem),
         m1 AS (
           SELECT k1,
                  CASE WHEN k1 <= (SELECT t FROM thr) THEN qty + 100
                       ELSE qty END AS qty
           FROM a
           UNION ALL
           SELECT k1 + 100000000 AS k1, CAST(1.00 AS DECIMAL(38,2)) AS qty
           FROM a WHERE k1 % 1009 = 0),
         m2 AS (SELECT k1, qty FROM m1 WHERE k1 % 701 <> 0)
         SELECT k1 % 10 AS bucket, COUNT(*) AS n,
                CAST(SUM(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
         FROM m2 GROUP BY 1""",

    // data skipping: the oracle is the plain range filter — the
    // engine side answers it from manifest-stats-pruned files (>=7/8
    // skipped, require()'d in-entry with the exactness law)
    "q219_data_skipping" ->
      """WITH b AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 4.0) AS BIGINT) AS lo,
                           CAST(FLOOR(MAX(o_orderkey) / 4.0)
                                + FLOOR(MAX(o_orderkey) / 50.0) AS BIGINT) AS hi
                    FROM orders)
         SELECT o_orderkey AS k, o_orderpriority AS pr, o_totalprice AS price
         FROM orders, b WHERE o_orderkey BETWEEN lo AND hi""",

    // z-order × skipping: the oracle is the plain 2-D box filter —
    // the engine answers it from a Morton-clustered versioned table
    // with both-dimension file skipping (receipts require()'d in-entry)
    "q221_zorder_skipping" ->
      """WITH m AS (SELECT GREATEST(MAX(o_orderkey), 1) AS m1,
                           GREATEST(MAX(o_custkey), 1) AS m2 FROM orders),
              b AS (SELECT (m1 * 2) // 5 AS lo1, (m1 * 2) // 5 + m1 // 10 AS hi1,
                           (m2 * 2) // 5 AS lo2, (m2 * 2) // 5 + m2 // 10 AS hi2
                    FROM m)
         SELECT o_orderkey AS k1, o_custkey AS k2, o_totalprice AS price
         FROM orders, b
         WHERE o_orderkey BETWEEN lo1 AND hi1
           AND o_custkey BETWEEN lo2 AND hi2""",

    // change data feed: the oracle emits the churn directly (it knows
    // the update/delete/insert recipe); the engine derives the same
    // feed by diffing only the files the merge touched
    "q220_table_cdf" ->
      """WITH base AS (SELECT c_custkey AS k, c_name AS name,
                              c_acctbal AS bal FROM customer),
              b AS (SELECT CAST(FLOOR(MAX(c_custkey) / 50.0) AS BIGINT) AS t
                    FROM customer)
         SELECT k, name, bal + 1000 AS bal, 'update' AS op
         FROM base, b WHERE k <= t
         UNION ALL
         SELECT k, CAST(NULL AS VARCHAR) AS name, CAST(NULL AS DOUBLE) AS bal,
                'delete' AS op
         FROM base, b WHERE k > 2 * t AND k <= 3 * t
         UNION ALL
         SELECT k + 10000000 AS k, 'new_' || CAST(k AS VARCHAR) AS name,
                0.0 AS bal, 'insert' AS op
         FROM base WHERE k % 131 = 0""",

    // cursor CDC: the oracle emits each leg's known churn; the engine
    // side consumes it through poll/ack with the replay, caught-up,
    // and completeness laws require()'d in-entry
    "q222_cursor_cdc" ->
      """WITH base AS (SELECT c_custkey AS k, c_name AS name,
                              c_acctbal AS bal FROM customer),
              b AS (SELECT CAST(FLOOR(MAX(c_custkey) / 50.0) AS BIGINT) AS t
                    FROM customer)
         SELECT k, name, bal + 1000 AS bal, 'update' AS op, 1 AS leg
         FROM base, b WHERE k <= t
         UNION ALL
         SELECT k, CAST(NULL AS VARCHAR) AS name, CAST(NULL AS DOUBLE) AS bal,
                'delete' AS op, 2 AS leg
         FROM base, b WHERE k > 2 * t AND k <= 3 * t
         UNION ALL
         SELECT k + 10000000 AS k, 'new_' || CAST(k AS VARCHAR) AS name,
                0.0 AS bal, 'insert' AS op, 2 AS leg
         FROM base WHERE k % 131 = 0""",

    // streaming table merge: the oracle replays the four CDC legs in
    // one closed form; the engine streams them through exactly-once
    // MERGE commits (restart/replay inertness require()'d in-entry)
    "q224_stream_table_merge" ->
      """WITH base AS (SELECT c_custkey AS k, c_name AS name,
                              c_acctbal AS bal FROM customer),
              b AS (SELECT CAST(FLOOR(MAX(c_custkey) / 50.0) AS BIGINT) AS t,
                           CAST(FLOOR(FLOOR(MAX(c_custkey) / 50.0) / 2.0)
                                AS BIGINT) AS t2
                    FROM customer)
         SELECT k, name,
                CASE WHEN k <= t2 THEN bal + 500
                     WHEN k <= t THEN bal + 1000
                     ELSE bal END AS bal
         FROM base, b WHERE NOT (k > 2 * t AND k <= 3 * t)
         UNION ALL
         SELECT k + 10000000 AS k, 'new_' || CAST(k AS VARCHAR) AS name,
                0.0 AS bal
         FROM base WHERE k % 131 = 0""",

    // commit expectations: the oracle applies only the churn rows that
    // satisfy the constraints (the poisoned band never lands); the
    // refusal/quarantine receipts are require()'d in-entry
    "q225_commit_expectations" ->
      """WITH base AS (SELECT c_custkey AS k, c_name AS name,
                              c_acctbal AS bal FROM customer),
              b AS (SELECT CAST(FLOOR(MAX(c_custkey) / 50.0) AS BIGINT) AS t
                    FROM customer)
         SELECT k, name,
                CASE WHEN k <= t THEN bal + 1000 ELSE bal END AS bal
         FROM base, b""",

    // avro round trip: the oracle aggregates the parquet source
    // directly; the engine side answers from re-read AVRO bytes — a
    // hash match proves the interchange preserved every value
    "q229_avro_roundtrip" ->
      """SELECT CAST(s_nationkey AS INTEGER) AS nationkey,
                COUNT(*) AS n_supp,
                CAST(SUM(CAST(s_acctbal AS DECIMAL(22,4))) AS DOUBLE) AS sum_bal,
                MIN(s_name) AS first_name,
                CAST(SUM(s_suppkey) AS BIGINT) AS sum_key
         FROM supplier GROUP BY 1""",

    // deletion vectors: the engine answers from a MASKED versioned
    // table (zero data files rewritten, receipts require()'d
    // in-entry); the oracle is the plain anti-filter
    "q231_dv_delete" ->
      """SELECT o_orderkey AS k, o_orderpriority AS pr,
                o_totalprice AS price
         FROM orders WHERE o_orderkey % 7 <> 3""",

    // DV change feed: every masked row surfaces as a delete (keys +
    // NULL attrs, the CDC delete shape), nothing else
    "q232_dv_cdf" ->
      """SELECT o_orderkey AS k, CAST(NULL AS VARCHAR) AS pr,
                CAST(NULL AS DOUBLE) AS price, 'delete' AS op
         FROM orders WHERE o_orderkey % 11 = 5""",

    // DV × MERGE × purge: mask k%5=0, merge pr:='RUSH' for k%4=1 in
    // the first quarter of the key range (masked keys among them
    // RE-INSERT — they are absent from the merged rows), purge
    // materializes the surviving masks; the oracle replays it all
    "q233_dv_merge_purge" ->
      """WITH thr AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 4.0) AS BIGINT) AS t
                      FROM orders)
         SELECT o_orderkey AS k,
                CASE WHEN o_orderkey % 4 = 1 AND o_orderkey <= t THEN 'RUSH'
                     ELSE o_orderpriority END AS pr,
                o_totalprice AS price
         FROM orders, thr
         WHERE o_orderkey % 5 <> 0
            OR (o_orderkey % 4 = 1 AND o_orderkey <= t)""",

    // CDF across an add-column migration: same keys both sides, the
    // added price column goes NULL -> value on every row -> all updates
    // after forget: the churned table minus every k%20=7 row
    "q247_forget" ->
      """SELECT c_custkey AS k, c_name AS name,
                CASE WHEN c_custkey % 50 = 1 THEN c_acctbal + 1
                     ELSE c_acctbal END AS bal
         FROM customer WHERE c_custkey % 20 <> 7""",

    // SQL over two pinned snapshots: per-segment balance drift
    "q246_sql_versioned" ->
      """SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n,
                CAST(SUM(CAST(CASE WHEN c_custkey % 3 = 0 THEN 50.0
                                   ELSE 0.0 END AS DECIMAL(18,2)))
                     AS DOUBLE) AS drift
         FROM customer GROUP BY 1""",

    // widened table = float-exact base rows plus the beyond-int insert
    "q245_widen_columns" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS k,
                CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS price
         FROM orders
         UNION ALL SELECT 5000000000, 1.5""",

    // z-ordered table, exact rows of the fixed-literal box probe
    "q244_zorder_table" ->
      """SELECT l_suppkey AS sk, l_partkey AS pk, l_quantity AS qty
         FROM lineitem WHERE l_suppkey <= 5 AND l_partkey <= 100""",

    // rebased serial result: high-band scattered delete (writer B) +
    // low-band pr suffix for k%3=0 (writer A, landed via rebase)
    "q252_rebase_commit" ->
      """WITH q AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 8.0) AS BIGINT) AS lo,
                           CAST(FLOOR(MAX(o_orderkey) * 7 / 8.0) AS BIGINT) AS hi
                    FROM orders)
         SELECT o_orderkey AS k,
                CASE WHEN o_orderkey <= lo AND o_orderkey % 3 = 0
                     THEN o_orderpriority || '!'
                     ELSE o_orderpriority END AS pr,
                o_totalprice AS price
         FROM orders, q
         WHERE NOT (o_orderkey > hi AND o_orderkey % 9 = 2)""",

    // streaming across the rename: the post-rename drain delivers
    // exactly the new churn, under the new names
    "q253_stream_across_rename" ->
      """SELECT c_custkey + 5000000 AS k,
                'n_' || CAST(c_custkey AS VARCHAR) AS name,
                0.0 AS balance, 'insert' AS op
         FROM customer WHERE c_custkey % 53 = 0""",

    // metadata-only RENAME (column mapping): the CDF a lagging consumer
    // polls ACROSS the rename is exactly the post-rename merge churn,
    // under the NEW names — the rename itself contributes nothing
    "q248_rename_column" ->
      """SELECT c_custkey AS k, c_name AS name,
                c_acctbal + 100 AS balance, 'update' AS op
         FROM customer WHERE c_custkey % 7 = 0
         UNION ALL
         SELECT c_custkey + 5000000, 'n_' || CAST(c_custkey AS VARCHAR),
                0.0, 'insert'
         FROM customer WHERE c_custkey % 53 = 0""",

    // RESTORE rolls the bad merge back: the table reads as v0 again
    "q243_restore" ->
      """SELECT o_orderkey AS k, o_orderpriority AS pr,
                o_totalprice AS price FROM orders""",

    // script-path VersionedStorage: VERSION AS OF 0 = the first STORE
    "q242_pig_versioned_store" ->
      """SELECT o_orderkey AS k, o_orderpriority AS pr,
                o_totalprice AS price FROM orders""",

    // TIMESTAMP AS OF between the two commits reads exactly v0
    "q241_timestamp_as_of" ->
      """SELECT c_custkey AS k, c_acctbal AS bal FROM customer""",

    // metadata-only ADD COLUMN then backfill merge: the CDF across the
    // migration is exactly the backfilled third (NULL→value updates)
    "q226_add_column_evolution" ->
      """SELECT o_orderkey AS k, o_orderpriority AS pr,
                o_totalprice AS price, 'update' AS op
         FROM orders WHERE o_orderkey % 3 = 0""",

    "q234_cdf_schema_add" ->
      """SELECT o_orderkey AS k, o_orderpriority AS pr,
                o_totalprice AS price, 'update' AS op
         FROM orders""",

    // persisted change feed: bootstrap inserts (v0) + merge feed (v1:
    // bal updates and high-key inserts) + DV-delete feed (v2) — the
    // engine side streams them through a checkpointed file source
    "q235_table_change_stream" ->
      """SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal,
                'insert' AS op, CAST(0 AS BIGINT) AS version
         FROM customer
         UNION ALL
         SELECT c_custkey, c_name, c_acctbal + 100, 'update',
                CAST(1 AS BIGINT)
         FROM customer WHERE c_custkey % 7 = 0
         UNION ALL
         SELECT c_custkey + 5000000, 'n_' || CAST(c_custkey AS VARCHAR),
                0.0, 'insert', CAST(1 AS BIGINT)
         FROM customer WHERE c_custkey % 53 = 0
         UNION ALL
         SELECT c_custkey, CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
                'delete', CAST(2 AS BIGINT)
         FROM customer WHERE c_custkey % 97 = 1""",

    // incremental agg view: the engine answers from the incrementally
    // maintained STATE table (exact decimal sums retracted/applied
    // from the CDC feed); the oracle aggregates the replayed final
    // table directly — a hash match proves retraction is exact
    "q236_incremental_agg_view" ->
      """WITH fin AS (
           SELECT o_orderkey AS k, o_orderpriority AS grp,
                  CASE WHEN o_orderkey % 9 = 2 THEN o_totalprice + 50
                       ELSE o_totalprice END AS price
           FROM orders
           WHERE NOT (o_orderkey % 97 = 3)
           UNION ALL
           SELECT o_orderkey + 7000000, 'ZNEW', 1.0
           FROM orders WHERE o_orderkey % 101 = 0)
         SELECT grp, COUNT(*) AS cnt,
                CAST(SUM(CAST(price AS DECIMAL(38,2))) AS DOUBLE) AS sum_price,
                CAST(SUM(CAST(price AS DECIMAL(38,2))) AS DOUBLE)
                  / COUNT(price) AS avg_price
         FROM fin GROUP BY grp""",

    // hybrid MIN/MAX view: the sentinel max inserts then deletes
    // (cancels), bumps and the scattered delete survive — the oracle
    // aggregates the replayed final table, extremes included
    "q249_aggview_minmax" ->
      """WITH fin AS (
           SELECT o_orderkey AS k, o_orderpriority AS grp,
                  CASE WHEN o_orderkey % 9 = 2 THEN o_totalprice + 50
                       ELSE o_totalprice END AS price
           FROM orders
           WHERE NOT (o_orderkey % 97 = 3))
         SELECT grp, COUNT(*) AS cnt,
                CAST(SUM(CAST(price AS DECIMAL(38,2))) AS DOUBLE) AS sum_price,
                CAST(SUM(CAST(price AS DECIMAL(38,2))) AS DOUBLE)
                  / COUNT(price) AS avg_price,
                MIN(price) AS min_price, MAX(price) AS max_price
         FROM fin GROUP BY grp""",

    // rename-proof view: churn 2 (under the new names) overrides
    // churn 1 for overlapping keys (merge replaces by key); the view
    // answers under the RENAMED group header
    "q256_aggview_rename" ->
      """WITH fin AS (
           SELECT o_orderkey AS k, o_orderpriority AS bucket,
                  CASE WHEN o_orderkey % 13 = 1 THEN o_totalprice + 7
                       WHEN o_orderkey % 9 = 2 THEN o_totalprice + 50
                       ELSE o_totalprice END AS amount
           FROM orders
           WHERE NOT (o_orderkey % 97 = 3)
           UNION ALL
           SELECT o_orderkey + 7000000, 'ZNEW', 1.0
           FROM orders WHERE o_orderkey % 101 = 0)
         SELECT bucket, COUNT(*) AS cnt,
                CAST(SUM(CAST(amount AS DECIMAL(38,2))) AS DOUBLE) AS sum_price,
                CAST(SUM(CAST(amount AS DECIMAL(38,2))) AS DOUBLE)
                  / COUNT(amount) AS avg_price,
                MIN(amount) AS min_price, MAX(amount) AS max_price
         FROM fin GROUP BY bucket""",

    // SQL DML composite: MERGE (upsert) → DELETE (DV mask) → INSERT
    // (blind append) → UPDATE (file-granular rewrite), replayed
    // relationally
    "q250_sql_dml" ->
      """WITH base AS (
           SELECT o_orderkey AS k, o_orderpriority AS pr,
                  o_totalprice AS price FROM orders),
         chg AS (
           SELECT k, pr, price + 50 AS price FROM base WHERE k % 9 = 2
           UNION ALL
           SELECT k + 7000000, '9-SQL', 1.0 FROM base WHERE k % 101 = 0),
         m AS (
           SELECT * FROM chg
           UNION ALL
           SELECT * FROM base WHERE k NOT IN (SELECT k FROM chg)),
         d AS (SELECT * FROM m WHERE NOT (k % 97 = 3)),
         i AS (
           SELECT k, pr, price FROM d
           UNION ALL
           SELECT k + 9000000, pr, 0.5 FROM chg WHERE k % 2 = 0)
         SELECT k, pr,
                CASE WHEN k % 11 = 4 AND k < 7000000 THEN price + 1000
                     ELSE price END AS price
         FROM i""",

    // SQL lifecycle: create + insert − delete; the UPDATE was rolled
    // back by RESTORE and OPTIMIZE is layout-only
    "q257_sql_lifecycle" ->
      """WITH base AS (
           SELECT o_orderkey AS k, o_orderpriority AS pr,
                  o_totalprice AS price FROM orders),
         i AS (
           SELECT * FROM base
           UNION ALL
           SELECT k + 7000000, '9;SQL', 1.0 FROM base WHERE k % 101 = 0)
         SELECT k, pr, price FROM i WHERE NOT (k % 97 = 3)""",

    // metadata-only DROP + post-drop merge: the final table is the
    // remaining projection with the churn applied
    "q254_drop_column" ->
      """SELECT o_orderkey AS k, o_orderpriority AS pr,
                CASE WHEN o_orderkey % 9 = 2 THEN o_totalprice + 50
                     ELSE o_totalprice END AS price
         FROM orders""",

    // script-declared versioned store: the final table is the second
    // STORE's snapshot (the violating third STORE was refused)
    "q251_pig_versioned_decls" ->
      """SELECT o_orderkey AS k, o_orderpriority AS pr,
                o_totalprice + 10 AS price FROM orders""",

    // predicate-pruned read over a masked clustered table: the oracle
    // is the plain filter (range + LIKE residual + the DV anti-filter)
    "q237_pruned_predicate_read" ->
      """WITH m AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 3.0) AS BIGINT) AS lo,
                           CAST(FLOOR(MAX(o_orderkey) / 10.0) AS BIGINT) AS w
                    FROM orders)
         SELECT o_orderkey AS k, o_orderpriority AS pr,
                o_totalprice AS price
         FROM orders, m
         WHERE o_orderkey >= lo AND o_orderkey <= lo + w
           AND o_orderpriority LIKE '%URGENT%'
           AND o_orderkey % 13 <> 2""",

    // table replication: the oracle replays the churn over the raw
    // table; the engine side answers from the REPLICA after two
    // incremental syncs (byte/file receipts require()'d in-entry)
    "q223_table_replication" ->
      """WITH base AS (SELECT c_custkey AS k, c_name AS name,
                              c_acctbal AS bal FROM customer),
              b AS (SELECT CAST(FLOOR(MAX(c_custkey) / 50.0) AS BIGINT) AS t
                    FROM customer)
         SELECT k, name, bal + 1000 AS bal FROM base, b WHERE k <= t
         UNION ALL
         SELECT k, name, bal FROM base, b
         WHERE k > t AND NOT (k > 2 * t AND k <= 3 * t)
         UNION ALL
         SELECT k + 10000000 AS k, 'new_' || CAST(k AS VARCHAR) AS name,
                0.0 AS bal
         FROM base WHERE k % 131 = 0""",

    // ANN lifecycle capstone: the recall contract over the
    // post-delete corpus (compaction==fresh-build row-exactness and
    // the tombstone/generation receipts are require()'d in-entry)
    "q199_ann_index_compact" ->
      """SELECT CAST(5 * COUNT(*) AS BIGINT) AS n_truth, TRUE AS recall_ge_90
         FROM embeddings WHERE vec_id % 100 = 0""",

    // byte-level BPE: the merge sequence itself is iterative; the
    // oracle pins the conserved token count while the mode-parity,
    // divergence, and losslessness laws are require()'d in-entry
    "q200_bpe_byte_level" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
                TRUE AS byte_lossless, TRUE AS ascii_modes_agree
         FROM (SELECT unnest(list_filter(
                 string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
               FROM documents)""",

    // scripting UDFs: the oracle replays the toy script's arithmetic /
    // string functions as plain SQL — double_it rides the filter,
    // shout/add/klen the projection, with the declared output types
    "q201_script_udf" ->
      """SELECT o_orderkey,
                o_orderpriority || '!' AS pr,
                CAST(o_orderkey + 7 AS INTEGER) AS k7,
                CAST(LENGTH(o_orderpriority) AS INTEGER) AS plen
         FROM orders
         WHERE o_totalprice * 2 > 200000.0""",

    // --- PigMix corpus oracles: each script replayed as plain SQL.
    //     Double SUM/AVG only over l_quantity (integral values, exact
    //     under any summation order); price columns use MIN/MAX. ---
    "q202_pigmix_l01" ->
      """SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
         FROM (SELECT doc_id, unnest(list_filter(
                 string_split_regex(text, '\s+'), x -> x <> '')) AS tok
               FROM documents)
         GROUP BY doc_id""",
    "q203_pigmix_l02" ->
      """SELECT l_orderkey, l_linenumber, p_brand, l_quantity
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_size < 5""",
    "q204_pigmix_l03" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
                min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment""",
    "q205_pigmix_l04" ->
      """SELECT o_custkey, CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio
         FROM orders GROUP BY o_custkey""",
    "q206_pigmix_l05" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN
           (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""",
    "q207_pigmix_l06" ->
      """SELECT l_returnflag, l_linestatus, l_linenumber,
                CAST(count(*) AS BIGINT) AS n_lines,
                CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                max(l_extendedprice) AS max_price
         FROM lineitem GROUP BY 1, 2, 3""",
    "q208_pigmix_l07" ->
      """SELECT l_partkey, CAST(count(*) AS BIGINT) AS n,
                min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
                CAST(avg(l_quantity) AS DOUBLE) AS avg_qty
         FROM lineitem GROUP BY l_partkey""",
    "q209_pigmix_l08" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
                CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                CAST(avg(l_quantity) AS DOUBLE) AS avg_qty,
                min(l_extendedprice) AS min_price,
                max(l_extendedprice) AS max_price
         FROM lineitem""",
    "q210_pigmix_l09" ->
      """SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice""",
    "q211_pigmix_l10" ->
      """SELECT l_returnflag, l_quantity, l_shipdate, l_orderkey, l_linenumber
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1997-04-01'""",
    "q212_pigmix_l11" ->
      """SELECT DISTINCT id FROM (
           SELECT user_id AS id FROM events WHERE event_type = 'purchase'
           UNION ALL
           SELECT o_custkey AS id FROM orders)""",
    "q213_pigmix_l12" ->
      """SELECT 'error' AS bucket, CAST(count(*) AS BIGINT) AS n,
                max(value) AS max_value
         FROM events WHERE event_type = 'error'
         UNION ALL
         SELECT 'purchase', CAST(count(*) AS BIGINT), max(value)
         FROM events WHERE event_type = 'purchase'
         UNION ALL
         SELECT 'rest', CAST(count(*) AS BIGINT), max(value)
         FROM events WHERE event_type NOT IN ('error', 'purchase')""",
    "q230_pigmix_l12_multistore" ->
      """SELECT 'error' AS bucket, CAST(count(*) AS BIGINT) AS n,
                max(value) AS max_value
         FROM events WHERE event_type = 'error'
         UNION ALL
         SELECT 'purchase', CAST(count(*) AS BIGINT), max(value)
         FROM events WHERE event_type = 'purchase'
         UNION ALL
         SELECT 'rest', CAST(count(*) AS BIGINT), max(value)
         FROM events WHERE event_type NOT IN ('error', 'purchase')""",
    "q214_pigmix_l13" ->
      """SELECT c_custkey, c_acctbal, o_orderkey, o_totalprice
         FROM customer LEFT JOIN
           (SELECT * FROM orders WHERE o_totalprice > 300000.0) h
           ON c_custkey = h.o_custkey""",
    "q215_pigmix_l14" ->
      """SELECT o_orderkey, l_linenumber, l_quantity, o_orderstatus
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey""",
    "q216_pigmix_l15" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
                CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
                CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status
         FROM orders GROUP BY o_orderpriority""",
    "q217_pigmix_l16" ->
      """SELECT l_suppkey, price FROM (
           SELECT l_suppkey, l_extendedprice AS price,
                  row_number() OVER (PARTITION BY l_suppkey
                                     ORDER BY l_extendedprice DESC) AS rn
           FROM lineitem)
         WHERE rn <= 2""",
    "q218_pigmix_l17" ->
      """SELECT event_type, props, user_id,
                CAST(count(*) AS BIGINT) AS n, max(value) AS max_value
         FROM events GROUP BY 1, 2, 3""",

    // PigMix variants (front-end hardening): macro-wrapped replicated
    // join; reverse comparator in a nested ORDER (2 smallest per
    // supplier — only the price VALUES surface, so ties are safe);
    // computed-FLATTEN + nested DISTINCT (distinct tokens per lang)
    "q238_pigmix_l02macro" ->
      """SELECT l_orderkey, l_linenumber, p_brand, l_quantity
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_size < 5""",
    "q239_pigmix_l16cmp" ->
      """SELECT l_suppkey, price FROM (
           SELECT l_suppkey, l_extendedprice AS price,
                  row_number() OVER (PARTITION BY l_suppkey
                                     ORDER BY l_extendedprice ASC) AS rn
           FROM lineitem)
         WHERE rn <= 2""",
    "q240_pigmix_l01flat" ->
      """SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct_tok
         FROM (SELECT lang, unnest(list_filter(
                 string_split_regex(text, '\s+'), x -> x <> '')) AS tok
               FROM documents)
         GROUP BY lang""",

    // versioned-table lifecycle: the oracle replays merge1 (updates +
    // inserts) then merge2 (the %11 deletes) over the raw table; the
    // engine side reads the result through the committed manifest
    // chain (CAS conflict + time-travel receipts require()'d in-entry)
    "q192_versioned_table" ->
      """WITH b AS (
           SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal
           FROM customer),
         m1 AS (
           SELECT k, name,
                  CASE WHEN k % 7 = 0 THEN bal + 100 ELSE bal END AS bal
           FROM b
           UNION ALL
           SELECT k + 1000000 AS k, 'new_' || CAST(k AS VARCHAR) AS name,
                  0.0 AS bal
           FROM b WHERE k % 13 = 0)
         SELECT k, name, bal FROM m1 WHERE k % 11 <> 0""",

    // lakehouse capstone: the oracle replays the MERGE churn over raw
    // lineitem; the z-order commit, skipping receipt, and retention
    // are require()'d in-entry (layout is hash-invisible by design)
    "q195_lakehouse_maintain" ->
      """WITH a AS (
           SELECT l_orderkey AS k1,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
                       AS DECIMAL(38,2)) AS qty
           FROM lineitem GROUP BY 1),
         b AS (
           SELECT k1, CASE WHEN k1 % 97 = 0 THEN qty + 100 ELSE qty END AS qty
           FROM a)
         SELECT k1 % 10 AS bucket, COUNT(*) AS n,
                CAST(SUM(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
         FROM b GROUP BY 1""",

    // incremental BPE train: the merge sequence itself is iterative
    // (not SQL-replayable) and is differentially checked in-entry
    // against the per-job Spark trainer + the losslessness law; the
    // oracle pins the conserved quantity — vocab frequency mass ==
    // total corpus token count
    "q193_bpe_train_fast" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens, TRUE AS lossless,
                TRUE AS merges_valid
         FROM (SELECT unnest(list_filter(
                 string_split_regex(lower(text), '\s+'), x -> x <> '')) AS tok
               FROM documents)""",

    // BPE model serving: the oracle recomputes token count and total
    // token chars from the RAW text; the engine measures chars THROUGH
    // the save->load->encode pieces — losslessness of the whole served
    // tokenizer path is what hash-matches
    "q196_bpe_model_serve" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '') AS tk
           FROM documents)
         SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
                CAST(COALESCE(list_sum(list_transform(tk, x -> length(x))), 0)
                     AS BIGINT) AS piece_chars
         FROM t""",

    // the toy embed model replayed value-exact: emb[k] = Σ((byte+k)%256)
    // over the UTF-8 blob — fixture text is ASCII so ord(char) == byte
    // (the entry require()s batch/partition invariance separately)
    "q194_multimodal_embed" ->
      """WITH ks AS (SELECT unnest(generate_series(1, 6)) AS k),
         b AS (
           SELECT doc_id, ord(substr(text, i, 1)) AS byte
           FROM documents, UNNEST(generate_series(1, length(text))) u(i)
           WHERE text IS NOT NULL),
         m AS (
           SELECT b.doc_id, ks.k,
                  CAST(SUM((b.byte + ks.k) % 256) AS BIGINT) AS moment
           FROM b CROSS JOIN ks GROUP BY 1, 2)
         SELECT d.doc_id, ks.k, CAST(COALESCE(m.moment, 0) AS BIGINT) AS moment
         FROM documents d CROSS JOIN ks
         LEFT JOIN m ON m.doc_id = d.doc_id AND m.k = ks.k
         WHERE d.text IS NOT NULL""",

    // HLL estimate and sharded-sketch-merge estimate both within 5%
    // of exact — the oracle pins the exact counts and the invariants
    "q155_hll_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_distinct,
                TRUE AS within_5pct, TRUE AS merge_within_5pct
         FROM lineitem GROUP BY 1""",

    // DSIR hashed-n-gram importance weights, exact-integer replay:
    // unigram+bigram features -> md5-hex-prefix buckets -> per-bucket
    // (target*scale) div source weights -> per-doc BIGINT sums
    "q156_importance_weights" ->
      """WITH tk AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'),
                              x -> x <> '') AS t
           FROM documents),
         g AS (
           SELECT doc_id, t[i] AS gram
           FROM tk, UNNEST(generate_series(1, len(t))) u(i)
           UNION ALL
           SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
           FROM tk, UNNEST(generate_series(1, len(t) - 1)) u(i)),
         b AS (SELECT doc_id, substr(md5(gram), 1, 3) AS bucket FROM g),
         sc AS (SELECT bucket, COUNT(*) AS s FROM b GROUP BY 1),
         tc AS (SELECT b.bucket, COUNT(*) AS c
                FROM b JOIN documents USING (doc_id)
                WHERE lang = 'en' GROUP BY 1),
         w AS (SELECT sc.bucket, (COALESCE(tc.c, 0) * 1000000) // sc.s AS w
               FROM sc LEFT JOIN tc ON sc.bucket = tc.bucket),
         sco AS (SELECT b.doc_id, CAST(SUM(w.w) AS BIGINT) AS iw
                 FROM b JOIN w USING (bucket) GROUP BY 1)
         SELECT d.doc_id, CAST(COALESCE(sco.iw, 0) AS BIGINT) AS iw
         FROM documents d LEFT JOIN sco ON d.doc_id = sco.doc_id""",

    // map-side (collected) group == plain group-by on the same rows
    "q153_group_collected" ->
      """SELECT l_orderkey, CAST(SUM(l_linenumber) AS BIGINT) AS sum_ln,
                COUNT(*) AS n_items
         FROM lineitem GROUP BY 1""",

    // branch fast-forward: mainline after landing = customers minus
    // the branch's low-band mask minus mainline's concurrent high-band
    // mask, plus the branch's appended re-keyed rows (the refused
    // "hot" branch must leave no trace)
    "q255_branch_fast_forward" ->
      """WITH q AS (SELECT CAST(FLOOR(MAX(c_custkey) / 8.0) AS BIGINT) AS lo,
                           CAST(FLOOR(MAX(c_custkey) * 7 / 8.0) AS BIGINT) AS hi
                    FROM customer)
         SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal
         FROM customer, q
         WHERE NOT (c_custkey <= lo AND c_custkey % 5 = 1)
           AND NOT (c_custkey > hi AND c_custkey % 7 = 3)
         UNION ALL
         SELECT c_custkey + 10000000 AS k,
                'b_' || CAST(c_custkey AS VARCHAR) AS name, 0.0 AS bal
         FROM customer WHERE c_custkey <= 20""",

    // cherry-pick then fast-forward: converged = base minus both
    // branch masks plus the picked append (landed exactly once)
    "q258_branch_cherry_pick" ->
      """SELECT o_orderkey AS k, o_orderpriority AS pr,
                o_totalprice AS price
         FROM orders
         WHERE NOT (o_orderkey % 91 = 5)
           AND NOT (o_orderkey % 87 = 11)
         UNION ALL
         SELECT o_orderkey + 8000000 AS k, '9-PICK' AS pr, 2.0 AS price
         FROM orders WHERE o_orderkey % 131 = 0""",

    // fastForward additive reconciliation: post-merge table = customer
    // minus mainline's high-band mask, score NULL-filled, plus the
    // branch's appended rows carrying score; the landing's persisted
    // feed digest rides as one extra row (insert count + key sum)
    "q259_ff_reconcile" ->
      """WITH q AS (SELECT CAST(FLOOR(MAX(c_custkey) * 7 / 8.0) AS BIGINT) AS hi
                    FROM customer),
         ap AS (SELECT c_custkey + 20000000 AS k,
                       's_' || CAST(c_custkey AS VARCHAR) AS name,
                       0.0 AS bal,
                       CAST(c_custkey % 13 AS DOUBLE) AS score
                FROM customer WHERE c_custkey % 97 = 0)
         SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal,
                CAST(NULL AS DOUBLE) AS score
         FROM customer, q
         WHERE NOT (c_custkey > hi AND c_custkey % 7 = 3)
         UNION ALL SELECT k, name, bal, score FROM ap
         UNION ALL
         SELECT COUNT(*) AS k, 'feed_insert' AS name,
                CAST(SUM(k) AS DOUBLE) AS bal, CAST(NULL AS DOUBLE) AS score
         FROM ap""",

    // SQL cherry-pick: mainline = orders + ONLY the picked (second)
    // append; the first staged append must leave no trace
    "q260_sql_cherry_pick" ->
      """SELECT o_orderkey AS k, o_orderpriority AS pr,
                o_totalprice AS price
         FROM orders
         UNION ALL
         SELECT o_orderkey + 7500000 AS k, 'P2' AS pr, 2.0 AS price
         FROM orders WHERE o_orderkey % 127 = 0""",

    // two-sided disjoint reconciliation: base rows null-fill BOTH
    // tails, mainline's appends carry region only, the branch's carry
    // score only — the landed union in one read
    "q261_ff_two_sided" ->
      """SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal,
                CAST(NULL AS VARCHAR) AS region,
                CAST(NULL AS DOUBLE) AS score
         FROM customer
         UNION ALL
         SELECT c_custkey + 30000000, 'm_' || CAST(c_custkey AS VARCHAR),
                1.0, 'r' || CAST(c_custkey % 5 AS VARCHAR),
                CAST(NULL AS DOUBLE)
         FROM customer WHERE c_custkey % 89 = 0
         UNION ALL
         SELECT c_custkey + 20000000, 's_' || CAST(c_custkey AS VARCHAR),
                0.0, CAST(NULL AS VARCHAR),
                CAST(c_custkey % 13 AS DOUBLE)
         FROM customer WHERE c_custkey % 97 = 0""",

    // cherry-pick additive admit: orders + ONLY the picked append, the
    // appended column null-filled on every pre-extension row
    "q262_cherry_pick_additive" ->
      """SELECT o_orderkey AS k, o_orderpriority AS pr,
                o_totalprice AS price, CAST(NULL AS DOUBLE) AS disc
         FROM orders
         UNION ALL
         SELECT o_orderkey + 7000000, 'PX', 1.0,
                CAST(o_orderkey % 7 AS DOUBLE)
         FROM orders WHERE o_orderkey % 113 = 0""",

    // additive rebase: customer minus the delete's band, plus the
    // rebased append, score null everywhere (the migration is
    // metadata-only and no writer ever set it)
    "q265_additive_rebase" ->
      """SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal,
                CAST(NULL AS DOUBLE) AS score
         FROM customer
         WHERE NOT (c_custkey % 103 = 5)
         UNION ALL
         SELECT c_custkey + 40000000, 'r_' || CAST(c_custkey AS VARCHAR),
                2.0, CAST(NULL AS DOUBLE)
         FROM customer WHERE c_custkey % 101 = 0""",

    // SQL CONTENT LOCAL landing: orders + mainline's append (tag
    // null) + the branch's append carrying tag; base rows null-fill
    "q264_sql_ff_content_local" ->
      """SELECT o_orderkey AS k, o_orderpriority AS pr,
                o_totalprice AS price, CAST(NULL AS VARCHAR) AS tag
         FROM orders
         UNION ALL
         SELECT o_orderkey + 7900000, 'PM', 7.0, CAST(NULL AS VARCHAR)
         FROM orders WHERE o_orderkey % 143 = 0
         UNION ALL
         SELECT o_orderkey + 7800000, 'PF', 6.0, 'new'
         FROM orders WHERE o_orderkey % 141 = 0""",

    // SQL CONTENT LOCAL pick: orders + mainline's own append + the
    // one picked branch append; the gate-probe commits leave no trace
    "q266_sql_pick_content_local" ->
      """SELECT o_orderkey AS k, o_orderpriority AS pr,
                o_totalprice AS price
         FROM orders
         UNION ALL
         SELECT o_orderkey + 8200000, 'PM2', 9.0
         FROM orders WHERE o_orderkey % 149 = 0 AND o_orderkey < 7000000
         UNION ALL
         SELECT o_orderkey + 8100000, 'PK', 8.0
         FROM orders WHERE o_orderkey % 139 = 0 AND o_orderkey < 7000000""",

    // rebase-then-land: customer + mainline's append + both replayed
    // branch deltas, each exactly once
    "q267_rebase_branch" ->
      """SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal
         FROM customer
         UNION ALL
         SELECT c_custkey + 52000000, 'm', 3.0
         FROM customer WHERE c_custkey % 83 = 0
         UNION ALL
         SELECT c_custkey + 50000000, 'rb1', 1.0
         FROM customer WHERE c_custkey % 97 = 0
         UNION ALL
         SELECT c_custkey + 51000000, 'rb2', 2.0
         FROM customer WHERE c_custkey % 89 = 0""",

    // pick across a rename: customer under the renamed name + the
    // mainline append + the one picked branch append
    "q269_pick_across_rename" ->
      """SELECT c_custkey AS k, c_name AS customer_name,
                c_acctbal AS bal
         FROM customer
         UNION ALL
         SELECT c_custkey + 61000000, 'M2', 2.0
         FROM customer WHERE c_custkey % 59 = 0
         UNION ALL
         SELECT c_custkey + 60000000, 'PR', 1.0
         FROM customer WHERE c_custkey % 53 = 0""",

    // one-sided rename landing: part under the RENAMED name, plus
    // mainline's post-rename append and the branch's graded rows
    // (each side null-fills the other's new column)
    "q268_rename_reconcile" ->
      """SELECT p_partkey AS k, p_name AS title,
                CAST(p_retailprice AS DOUBLE) AS price,
                CAST(NULL AS DOUBLE) AS grade
         FROM part
         UNION ALL
         SELECT p_partkey + 9500000, 'M_' || CAST(p_partkey AS VARCHAR),
                2.0, CAST(NULL AS DOUBLE)
         FROM part WHERE p_partkey % 73 = 0
         UNION ALL
         SELECT p_partkey + 9000000, p_name, 1.0, 5.5
         FROM part WHERE p_partkey % 71 = 0""",

    // SQL range pick 2..3 then the 4..4 prefix of the refused 4..5:
    // mainline = orders + P2 + P3 + P4; P1/P5 must leave no trace
    "q263_sql_cherry_pick_range" ->
      """SELECT o_orderkey AS k, o_orderpriority AS pr,
                o_totalprice AS price
         FROM orders
         UNION ALL
         SELECT o_orderkey + 7200000, 'P2', 2.0
         FROM orders WHERE o_orderkey % 127 = 0
         UNION ALL
         SELECT o_orderkey + 7300000, 'P3', 3.0
         FROM orders WHERE o_orderkey % 131 = 0
         UNION ALL
         SELECT o_orderkey + 7400000, 'P4', 4.0
         FROM orders WHERE o_orderkey % 137 = 0""",

    // greedy md5-ordered prefix per lang under hard token budgets
    "q150_token_budget" ->
      """WITH d AS (
           SELECT doc_id, lang,
                  len(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS nt
           FROM documents),
         c AS (
           SELECT doc_id, lang, nt,
                  SUM(nt) OVER (PARTITION BY lang
                                ORDER BY md5(lang || '|' || CAST(doc_id AS VARCHAR)),
                                         doc_id) AS cum
           FROM d)
         SELECT doc_id, lang, CAST(nt AS BIGINT) AS n_tokens,
                CAST(cum AS BIGINT) AS cum_tokens
         FROM c
         WHERE cum <= CASE lang WHEN 'en' THEN 2000
                                WHEN 'de' THEN 1000 ELSE 500 END"""
  )
}
