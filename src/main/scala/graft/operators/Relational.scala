package graft.operators

import graft.core.GraftSession.Materialize
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** Relational operator surface of the reference lineage that is not a
  * one-liner on DataFrame (SURVEY.md §2.2–§2.5). Everything else
  * (FILTER/FOREACH/JOIN/ORDER/LIMIT/DISTINCT/UNION/SAMPLE/CUBE/ROLLUP)
  * maps directly onto the DataFrame API and is exercised straight from
  * the query inventory in [[graft.SparkEntry]].
  */
object Relational {

  /** PluckTuple(prefix) (Pig piggybank/builtin): keep the columns whose
    * name starts with `prefix` — a schema-level projection, free for
    * Catalyst column pruning. */
  def pluckTuple(df: DataFrame, prefix: String): DataFrame =
    df.select(df.columns.filter(_.startsWith(prefix)).map(col): _*)

  // ------------------------------------------------------------------
  // SPLIT — route rows of one relation into N relations by predicates.
  // ------------------------------------------------------------------

  /** Pig `SPLIT A INTO X IF p1, Y IF p2, Z OTHERWISE;`
    *
    * The reference's MultiQueryOptimizer serves all branches from one
    * scan; Spark re-executes lineage per action, so with
    * `persist = true` (default) the shared parent is persisted
    * (MEMORY_AND_DISK — spillable, safe at scale) while the branches are
    * consumed; caller must [[unsplit]] when done. `persist = false`
    * skips the cache and re-scans per branch — the right trade for a
    * session-lifetime caller (the Pig script path) that has no unsplit
    * point: a parquet re-scan is cheap, a leaked cache entry is not.
    * SURVEY.md §4.2 (MultiQueryOptimizer gap), §7.5.5.
    */
  def split(
      df: DataFrame,
      branches: Seq[(String, Column)],
      otherwise: Option[String] = None,
      persist: Boolean = true): Map[String, DataFrame] = {
    val parent = if (persist) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    val named = branches.map { case (name, pred) => name -> parent.filter(pred) }
    val other = otherwise.map { name =>
      val noneMatch = branches.map(_._2).map(p => !coalesce(p, lit(false))).reduce(_ && _)
      name -> parent.filter(noneMatch)
    }
    (named ++ other).toMap
  }

  def unsplit(df: DataFrame): Unit = { df.unpersist(); () }

  // ------------------------------------------------------------------
  // COGROUP — group N relations by key simultaneously into bags.
  // ------------------------------------------------------------------

  /** Pig `C = COGROUP A BY k, B BY k;` → one row per key with one
    * bag (array of structs of the non-key columns) per input.
    *
    * Implementation: per-input partial aggregation into bags, then a
    * full-outer join on the key — each input shuffles once on the key,
    * exactly like the reference's multi-input POPackage, but with
    * Spark's spillable aggregation buffers. OUTER semantics: absent
    * groups yield empty bags (size 0), like Pig's empty DataBag.
    *
    * Scale note (SURVEY.md §7.5.1): a bag materializes the group. When
    * the consumer only aggregates the bag, do NOT cogroup — use
    * groupBy().agg() so no bag is ever built.
    */
  /** COGROUP with per-input INNER modifiers (Pig: `COGROUP A BY k INNER,
    * B BY k;` drops keys where A's bag is empty). */
  def cogroupInner(keyNames: Seq[String], inner: Set[String],
      inputs: (String, DataFrame, Seq[String])*): DataFrame = {
    val cg = cogroup(keyNames, inputs: _*)
    inner.foldLeft(cg)((d, name) => d.filter(size(col(s"bag_$name")) > 0))
  }

  def cogroup(keyNames: Seq[String], inputs: (String, DataFrame, Seq[String])*): DataFrame = {
    val grouped = inputs.map { case (name, df, keys) =>
      require(keys.length == keyNames.length, s"key arity mismatch for $name")
      val aligned = keys.zip(keyNames).foldLeft(df) { case (d, (from, to)) =>
        if (from == to) d else d.withColumnRenamed(from, to)
      }
      val valueCols = aligned.columns.filterNot(keyNames.contains).map(col)
      aligned
        .groupBy(keyNames.map(col): _*)
        .agg(collect_list(struct(valueCols: _*)).as(s"bag_$name"))
    }
    val joined = grouped.reduce((a, b) => a.join(b, keyNames, "full_outer"))
    // Coalesce nulls (absent groups) to typed empty bags.
    inputs.map(_._1).foldLeft(joined) { (d, name) =>
      val bag = s"bag_$name"
      val dt = d.schema(bag).dataType
      d.withColumn(bag, coalesce(col(bag), expr(s"cast(array() as ${dt.sql})")))
    }
  }

  // ------------------------------------------------------------------
  // RANK — global ranking without a single-partition window.
  // ------------------------------------------------------------------

  /** Pig `R = RANK A BY key [DESC];` — attaches 1-based `rank`
    * (competition: 1 + number of rows with strictly-smaller key) and
    * `dense_rank` columns, GLOBAL across the relation.
    *
    * `Window.orderBy(...)` with an empty partition spec funnels ALL rows
    * through one partition — unusable at 100 TB. This is the reference's
    * scalable two-pass design (POCounter → PORank: per-partition counts,
    * then prefix-sum offsets) rebuilt on Spark:
    *
    *   1. aggregate to per-key counts (shuffle #1, partial agg);
    *   2. range-partition + sort the keys (shuffle #2 — sampled range
    *      partitioner, same as ORDER BY), materialized ONCE as a local
    *      checkpoint; per-partition (numKeys, numRows) stats ride the
    *      SAME job via an accumulator — no separate stats pass over the
    *      key table;
    *   3. broadcast the prefix offsets; per-partition scan over the
    *      checkpointed keys assigns both rank flavors;
    *   4. join ranks back to the full relation on the key.
    *
    * Total: two shuffles over the distinct keys + one over the data for
    * the final join, in TWO jobs — every step spillable and parallel.
    *
    * The checkpoint (not a bare persist) is load-bearing twice over:
    * the offsets are only valid for one specific materialization (the
    * sampled range partitioner need not reproduce identical partition
    * boundaries on a recompute), and nothing survives the call — the
    * checkpoint blocks' lifetime is the result's, reclaimed by the
    * ContextCleaner, where an unpersisted cache leaked for the session.
    * (Production note: use reliable checkpoint() with a checkpoint dir
    * so executor loss cannot drop the truncated lineage — same note as
    * [[graft.operators.Dedup.clusterPairs]].)
    */
  def rankBy(df: DataFrame, keys: Seq[String], ascending: Boolean = true): DataFrame = {
    val (rankedKeys, _, nKeys) = rankedKeyCounts(df, keys, ascending)
    val ranks = rankedKeys.drop("__cnt")
    // Step 4's join used to plan as SMJ unconditionally (the rank table
    // comes off an RDD, so Catalyst has no size estimate): the full
    // relation — every data column — shuffled AND sorted just to pick
    // up two longs per key (guide §2.3/§3.1). The key table's exact
    // cardinality is already measured by the stats accumulator, so the
    // broadcast decision can be made from REAL numbers: when the
    // distinct-key table fits the session broadcast threshold, ship IT
    // and leave the relation un-exchanged. Past the threshold (key
    // cardinality ≈ row count at 100 TB) the SMJ shape stays — the
    // plan-asserted worst case (PlanSpec "rankBy: data-sized key
    // cardinality joins as SMJ").
    val rowBytes = ranks.schema.fields.map(_.dataType.defaultSize).sum + 16L
    val threshold = try {
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    } catch { case _: Throwable => 10485760L }
    if (threshold > 0 && nKeys * rowBytes <= threshold)
      df.join(broadcast(ranks), keys)
    else df.join(ranks, keys)
  }

  /** Steps 1–3 of [[rankBy]], exposed to key-count consumers: the
    * DISTINCT sorted keys with their row counts (`__cnt`), `rank` and
    * `dense_rank`, plus the total row count AND the distinct-key count
    * (both from the same stats accumulator — no extra count() job).
    * [[equiDepthHistogram]] and [[distributionDrift]] aggregate this
    * key-sized table directly: every row of a key shares its rank, so
    * any per-bucket statistic (population, min/max envelope) is
    * computable from (key, __cnt) without rankBy's step-4 join back
    * over the full data — at scale that join is a second full shuffle
    * of the relation, paid only to re-derive counts the key table
    * already holds. */
  private[operators] def rankedKeyCounts(df: DataFrame, keys: Seq[String],
      ascending: Boolean = true): (DataFrame, Long, Long) = {
    val spark = df.sparkSession
    val keyCols = keys.map(col)
    val sortCols = if (ascending) keyCols.map(_.asc) else keyCols.map(_.desc)

    val counts = df.groupBy(keyCols: _*).agg(count(lit(1)).as("__cnt")).orderBy(sortCols: _*)
    val schema = counts.schema
      .add("rank", LongType, nullable = false)
      .add("dense_rank", LongType, nullable = false)
    val cntIdx = counts.schema.fieldIndex("__cnt")

    // Pass-through iterator that reports (partition, numKeys, numRows)
    // to the accumulator at exhaustion — the stats job and the
    // materialization job are the same job. Task retries can report a
    // partition twice (accumulator exactly-once holds per successful
    // task, not per partition); values are deterministic per partition,
    // so the driver dedupes by partition id.
    val acc = spark.sparkContext.collectionAccumulator[(Int, Long, Long)]("rankBy partition stats")
    val statted = counts.rdd.mapPartitionsWithIndex { (i, it) =>
      var nKeys = 0L; var nRows = 0L; var reported = false
      val underlying = it.map { r => nKeys += 1; nRows += r.getLong(cntIdx); r }
      new scala.collection.AbstractIterator[Row] {
        def hasNext: Boolean = {
          val h = underlying.hasNext
          if (!h && !reported) { acc.add((i, nKeys, nRows)); reported = true }
          h
        }
        def next(): Row = underlying.next()
      }
    }
    val ckpt = graft.core.GraftSession.materializeRdd(statted)
    ckpt.count() // job 1: materialize sorted keys + collect stats
    val perPart = {
      import scala.jdk.CollectionConverters._
      acc.value.asScala.toSeq.groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)
    }
    require(perPart.map(_._1) == (0 until ckpt.getNumPartitions),
      s"rankBy: incomplete partition stats (${perPart.size} of ${ckpt.getNumPartitions})")
    val keyOffsets = perPart.map(_._2).scanLeft(0L)(_ + _).init.toArray
    val rowOffsets = perPart.map(_._3).scanLeft(0L)(_ + _).init.toArray
    val offB = spark.sparkContext.broadcast((keyOffsets, rowOffsets))

    val ranked = ckpt.mapPartitionsWithIndex { (i, it) =>
      val (ko, ro) = offB.value
      var localKeys = 0L
      var localRows = 0L
      it.map { r =>
        val rank = ro(i) + localRows + 1
        val dense = ko(i) + localKeys + 1
        localKeys += 1
        localRows += r.getLong(cntIdx)
        Row.fromSeq(r.toSeq :+ rank :+ dense)
      }
    }
    (spark.createDataFrame(ranked, schema), perPart.map(_._3).sum,
      perPart.map(_._2).sum)
  }

  /** Pig `R = RANK A;` — 1-based row sequence in encounter order.
    * zipWithIndex = per-partition counts + offsets, one extra tiny job.
    * Order is partition-encounter order (nondeterministic across runs,
    * same as the reference). */
  def rankSequence(df: DataFrame, outCol: String = "rank"): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema.add(outCol, LongType, nullable = false)
    val rdd = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1)) }
    spark.createDataFrame(rdd, schema)
  }

  // ------------------------------------------------------------------
  // Per-group TOP-K — bounded, no full-group materialization.
  // ------------------------------------------------------------------

  /** Per-group top-n rows by `orderCol` (desc), deterministic via
    * `tiebreak` (asc). Window row_number keeps state bounded per group
    * and shuffles once on the group key. */
  def topPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderCol: String,
      n: Int,
      tiebreak: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(orderCol).desc, col(tiebreak).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .withColumnRenamed("__rn", "rn")
  }

  /** Spread a SMALL scan (fewer splits than half the default
    * parallelism — a small-file input arrives as 1-2 splits) before
    * expensive per-row kernel work, or one task does all of it. At
    * corpus scale the scan already has plenty of splits and an
    * unconditional repartition would be a wasted full shuffle (r19,
    * guide §2.4). */
  private[operators] def fanOut(df: DataFrame): DataFrame = {
    val para = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < math.max(2, para / 2)) df.repartition(para)
    else df
  }

  // ------------------------------------------------------------------
  // Salted two-phase aggregation — hot-key defense beyond AQE.
  // ------------------------------------------------------------------

  /** Aggregate with a synthetic salt splitting each group across
    * `saltBuckets` reducers, then a cheap final combine on the true key.
    *
    * Spark's partial aggregation already combines map-side, which
    * usually suffices; salting matters when a single group's PARTIAL
    * states are themselves huge (collect-style aggregates) or when the
    * final-stage reducer for one hot key becomes the straggler at
    * 1000-executor scale. The salt is deterministic (hash of the whole
    * row, not rand()) so retried tasks produce identical partials.
    *
    * `partialAggs` run per (key, salt); `finalAggs` recombine the
    * partial columns per key — e.g. partial `sum(v).as("s")`, final
    * `sum($"s").as("sum_v")`. The caller picks decomposable aggregates
    * (sum/count/min/max/bounded top-k), as with any combiner. */
  def saltedAggregate(
      df: DataFrame, keys: Seq[String], saltBuckets: Int)(
      partialAggs: Column*)(finalAggs: Column*): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(hash(df.columns.map(col): _*), lit(saltBuckets)))
    val partial = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partialAggs.head, partialAggs.tail: _*)
    partial.groupBy(keys.map(col): _*).agg(finalAggs.head, finalAggs.tail: _*)
  }

  /** Skew-resilient equi-join — Pig's skewed join [Pig: POSkewedJoin +
    * sampled key-distribution plan] rebuilt as explicit salting, for
    * the paths AQE's runtime skew split cannot reach (stream–stream
    * joins, fixed plans, non-SMJ shapes): every probe row gets a
    * deterministic salt in [0, salts); the build side is replicated
    * once per salt; the join key becomes (keys..., salt), so a hot
    * key's rows spread over `salts` reducers instead of one.
    *
    * Probe rows match exactly one build replica (the one sharing their
    * salt), so inner/left multiplicities are exact. Right/full would
    * count each unmatched BUILD row `salts` times — rejected.
    * Cost: build side shuffles ×salts — the standard trade; keep the
    * smaller side as `build`. */
  def saltedJoin(probe: DataFrame, build: DataFrame,
      probeKeys: Seq[String], buildKeys: Seq[String],
      salts: Int, joinType: String = "inner"): DataFrame = {
    require(Seq("inner", "left", "left_outer", "leftouter").contains(joinType),
      s"saltedJoin supports inner/left joins, not $joinType " +
        "(an unmatched build row would appear once per salt)")
    require(salts > 0, "salts must be positive")
    val p = probe.withColumn("__psalt",
      pmod(hash(probe.columns.map(col): _*), lit(salts)))
    val b = build.withColumn("__bsalt",
      explode(sequence(lit(0), lit(salts - 1))))
    val cond = probeKeys.zip(buildKeys)
      .map { case (pk, bk) => p(pk) === b(bk) }
      .reduce(_ && _) && p("__psalt") === b("__bsalt")
    p.join(b, cond, joinType).drop("__psalt", "__bsalt")
  }

  // ------------------------------------------------------------------
  // ASSERT — fail the job if any row violates the predicate (Pig 0.12).
  // ------------------------------------------------------------------

  /** Pig `ASSERT A BY cond, 'msg';` — assert_true returns NULL when the
    * predicate holds (so the filter keeps every row) and throws
    * task-side when it doesn't, failing the job like the reference. */
  def assertRows(df: DataFrame, cond: Column, msg: String): DataFrame =
    df.filter(assert_true(cond, lit(s"ASSERT failed: $msg")).isNull)

  // ------------------------------------------------------------------
  // Bloom-filter join pre-filter (Pig BuildBloom/Bloom, SURVEY §2.6).
  // ------------------------------------------------------------------

  /** Drop most non-matching rows of `big` before an expensive join by
    * probing a bloom filter built from `small`'s (long) keys. False
    * positives pass through — ALWAYS follow with the exact join; this
    * only cuts shuffle volume (the reference uses it the same way).
    * The filter itself is built distributed (aggregate) and only the
    * compact sketch comes to the driver; the probe is Spark's native
    * `might_contain` expression over the serialized sketch (the same
    * pairing InjectRuntimeFilter uses), so the scan-side predicate
    * stays inside whole-stage codegen — no ScalaUDF in the hot path. */
  def bloomSemiFilter(
      big: DataFrame, bigKey: String,
      small: DataFrame, smallKey: String,
      expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    val bf = small.stat.bloomFilter(smallKey, expectedItems, fpp)
    val bytes = { // sketch serialization == BloomFilterAggregate's
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    big.filter(col(bigKey).isNotNull &&
      column(BloomFilterMightContain(
        expression(lit(bytes)),
        expression(col(bigKey).cast("long")))))
  }

  // ------------------------------------------------------------------
  // Equi-depth histograms — exact, rank-based, engine-portable.
  // ------------------------------------------------------------------

  /** EXACT equi-depth histogram of a numeric column: `buckets` bins
    * holding (as nearly as ties allow) equal row counts, each reported
    * with its [lo, hi] envelope and population — the optimizer/drift
    * statistic ANALYZE computes, made a first-class report. Unlike
    * approx_percentile sketches this is deterministic and
    * engine-replayable: bucket = (rank-1)·B div N in INTEGER
    * arithmetic over the competition rank, so ties share a rank and
    * therefore a bucket (a value can never straddle two buckets), and
    * any engine computing the same rank computes the same histogram.
    *
    * Scale shape: the rank comes from [[rankBy]]'s two-pass
    * counter scheme — per-partition key counts + broadcast offsets —
    * NEVER a single-partition global window; the histogram itself is
    * a B-row aggregate computed straight off the DISTINCT-KEY counts
    * ([[rankedKeyCounts]]). Every row of a value shares its rank and
    * therefore its bucket, so per-bucket population = Σ __cnt and the
    * [lo, hi] envelope = min/max over the bucket's distinct values —
    * rankBy's join back over the full relation (a second data-sized
    * shuffle) and the separate count() pass both drop out; the total
    * row count rides the key materialization's stats accumulator.
    * NULLs are excluded (no rank order exists for them), like every
    * SQL ordering. */
  def equiDepthHistogram(df: DataFrame, valueCol: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val vals = df.select(col(valueCol)).filter(col(valueCol).isNotNull)
    val (rankedKeys, n, _) = rankedKeyCounts(vals, Seq(valueCol))
    require(n > 0, "equiDepthHistogram: no non-null values")
    rankedKeys
      .withColumn("bucket",
        expr(s"((rank - 1) * ${buckets.toLong}) div ${n}"))
      .groupBy(col("bucket"))
      .agg(min(col(valueCol)).as("lo"), max(col(valueCol)).as("hi"),
        sum(col("__cnt")).as("cnt"))
  }

  /** Distribution drift report: bin BOTH corpora by the BASE corpus's
    * equi-depth boundaries and report exact per-bin populations —
    * the binned counts behind PSI/KL drift monitoring between a
    * reference snapshot and an incoming one, kept in integers so the
    * report is engine-replayable (the caller applies whatever
    * divergence formula it likes to the counts; logs stay out of the
    * gated dataflow, the q182 discipline).
    *
    * Bin rule: bucket(x) = min(#{boundaries hi < x}, B-1) over the
    * base histogram's per-bucket max values — so target values beyond
    * the base range clamp into the edge bins (out-of-range mass is
    * drift, not an error), ties bin identically in any engine, and
    * BOTH sides are recounted under the same value rule (the base
    * histogram's own rank-based counts can differ at tie boundaries).
    *
    * Scale shape: ONE key-count pass over the base ([[rankedKeyCounts]]
    * — the histogram's own rank source), boundaries collected as B
    * driver literals, then both corpora are binned under the same
    * value rule: the TARGET by a scan + aggregate pass (assignment is
    * a codegen'd array HOF over the literal boundary array, no join),
    * the BASE from the already-materialized distinct-key counts —
    * re-binning a key and weighting by its `__cnt` is row-for-row the
    * same count as re-scanning the data, without the second base scan
    * the previous formulation paid. NULLs are excluded on both sides,
    * like the histogram. */
  def distributionDrift(base: DataFrame, target: DataFrame,
      valueCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val vals = base.select(col(valueCol)).filter(col(valueCol).isNotNull)
    val (rankedKeys, n, _) = rankedKeyCounts(vals, Seq(valueCol))
    require(n > 0, "equiDepthHistogram: no non-null values")
    val hist = rankedKeys
      .withColumn("bucket",
        expr(s"((rank - 1) * ${buckets.toLong}) div ${n}"))
      .groupBy(col("bucket"))
      .agg(max(col(valueCol)).as("hi"))
    val bounds = hist.select(col("bucket"), col("hi").cast("double"))
      .collect().sortBy(_.getLong(0)).map(_.getDouble(1))
    val cap = bounds.length - 1
    // bucket(x) = min(#{boundaries hi < x}, cap). The boundaries are B
    // driver literals, so the count is a chain of B codegen'd compares
    // summed as ints — the previous size(filter(<array HOF>)) built a
    // filtered array per row through Spark's INTERPRETED higher-order
    // path (HOFs are outside whole-stage codegen). Same count, same
    // NaN/tie behavior (both use the strict < on each literal).
    def bucketOf(x: Column): Column =
      least(bounds.map(b => when(lit(b) < x, 1L).otherwise(0L))
        .reduce(_ + _), lit(cap.toLong))
    val baseBinned = rankedKeys
      .select(col(valueCol).cast("double").as("__x"), col("__cnt"))
      .filter(col("__x").isNotNull) // same value rule as the target side:
      // a non-null value whose double cast is null is excluded from BOTH
      .select(bucketOf(col("__x")).as("bucket"), col("__cnt").as("__w"),
        lit("base").as("__side"))
    val targetBinned = target
      .select(col(valueCol).cast("double").as("__x"))
      .filter(col("__x").isNotNull)
      .select(bucketOf(col("__x")).as("bucket"), lit(1L).as("__w"),
        lit("target").as("__side"))
    baseBinned.unionByName(targetBinned)
      .groupBy(col("bucket"))
      .agg(sum(when(col("__side") === "base", col("__w")).otherwise(0L)).as("base_cnt"),
        sum(when(col("__side") === "target", col("__w")).otherwise(0L)).as("target_cnt"))
  }

  // ------------------------------------------------------------------
  // Join-key skew profiling.
  // ------------------------------------------------------------------

  /** Skew profile of a prospective join/group key: the top-N heaviest
    * keys with their row counts and corpus share — the measurement the
    * "measure skew BEFORE the join" discipline (Dedup's banded joins,
    * the salted-join chooser) runs, promoted to a first-class report.
    *
    * Scale shape: one map-side-combined groupBy on the key, then the
    * top-N via `orderBy(...).limit(n)` — Spark compiles that to
    * TakeOrderedAndProject (per-partition bounded top-N heaps merged
    * at the driver), NOT a total sort: no key-count-sized sort or
    * single-partition stage anywhere (plan-asserted). The corpus total
    * rides a 1-row broadcast from the same grouped counts, so the
    * input is scanned ONCE. Ordering is total (count DESC, then key
    * ASC), so ties at the cutoff are deterministic in any engine. */
  def skewProfile(df: DataFrame, keys: Seq[String], topN: Int): DataFrame = {
    require(keys.nonEmpty, "at least one key")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("__total"))
    counts.crossJoin(broadcast(total))
      .select(keys.map(col) :+ col("cnt") :+
        (col("cnt").cast("double") / col("__total")).as("share"): _*)
      .orderBy(col("cnt").desc +: keys.map(col(_).asc): _*)
      .limit(topN)
  }

  // ------------------------------------------------------------------
  // Nested FOREACH — per-group mini-pipelines over bags, as HOF chains.
  // ------------------------------------------------------------------

  /** Building blocks for Pig's nested FOREACH block (SURVEY.md §7.5.2):
    * the inner pipeline (FILTER / ORDER / LIMIT / DISTINCT / FOREACH)
    * compiles to higher-order functions over the bag column, which stay
    * inside whole-stage codegen and never shuffle.
    */
  object nested {
    def filterBag(bag: Column, p: Column => Column): Column = filter(bag, p)
    def mapBag(bag: Column, f: Column => Column): Column = transform(bag, f)
    def distinctBag(bag: Column): Column = array_distinct(bag)
    def limitBag(bag: Column, n: Int): Column = slice(bag, 1, n)

    /** ORDER the bag by a struct field, ascending or descending. */
    def sortBagBy(bag: Column, field: String, asc: Boolean = true): Column =
      sortBagByKeys(bag, Seq(((e: Column) => e.getField(field), asc)))

    /** Multi-key bag sort as a per-row HOF: each key is an extractor
      * over the element plus a direction; later keys break ties of
      * earlier ones (the comparator folds right). Still never a
      * shuffle — the bag sorts inside its own row. */
    def sortBagByKeys(bag: Column,
        keys: Seq[(Column => Column, Boolean)]): Column = {
      require(keys.nonEmpty, "sortBagByKeys: no keys")
      array_sort(bag, (l, r) =>
        keys.foldRight(lit(0)) { case ((k, asc), tiebreak) =>
          val sgn = if (asc) 1 else -1
          when(k(l) < k(r), lit(-sgn))
            .when(k(l) > k(r), lit(sgn))
            .otherwise(tiebreak)
        })
    }

    /** SUM over a numeric field of a bag of structs (0.0 for empty). */
    def sumBag(bag: Column, field: String): Column =
      aggregate(bag, lit(0.0), (acc, x) => acc + x.getField(field).cast("double"))
  }
}
