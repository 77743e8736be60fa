package graft.operators

import graft.core.GraftSession.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (SURVEY.md §7.1 extension
  * surface): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH bucketed variant as the scale path.
  *
  * All math is expression-level (`zip_with`/`aggregate` HOFs) in DOUBLE
  * precision with a deterministic left-to-right fold — bit-reproducible
  * across partitionings and matchable against DuckDB's sequential
  * list_cosine_similarity on DOUBLE[].
  */
object Similarity {

  /** Embeddings arrive as array<float>; compute in double. */
  def asDouble(vec: Column): Column = vec.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  /** Reference HOF formulation — interpreted lambdas; used by specs to
    * cross-check the native kernel bit-for-bit. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Hot-path kernel: native codegen'd Catalyst expression with the same
    * left-to-right accumulation order (bit-identical to [[cosine]]). */
  def cosineFast(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.cosineSim(a, b)

  /** Distributed top-k per query over a scored (query_id, id, score)
    * frame, via the bounded [[graft.functions.Aggregators.TopKByScore]]
    * aggregator: each map task reduces its slice to ≤ k entries per
    * query, so the shuffle carries k-element states — NOT the scored
    * rows. A `row_number` window here would shuffle and sort the entire
    * |corpus|·|queries| score stream; this shape shuffles
    * |partitions|·|queries|·k regardless of corpus size.
    * Ordering (score desc, id asc) is selection-based, so the result is
    * identical at any partition count. NaN scores (a zero-norm vector's
    * cosine) rank FIRST, matching both a SQL `ORDER BY score DESC`
    * (Spark and DuckDB sort NaN above +Inf) and the window fallback.
    *
    * The aggregator needs integral ids; non-integral id columns (string
    * doc ids etc.) transparently fall back to the id-type-generic
    * window formulation ([[Relational.topPerGroup]]) — same result,
    * shuffles scored rows instead of k-element states. */
  private[operators] def boundedTopK(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    val integral = scored.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (!integral) {
      Relational.topPerGroup(scored, Seq("query_id"), "score", k, idCol)
        .select(col("query_id"), col(idCol).as("neighbor_id"), col("score"),
          col("rn").cast("long").as("rn"))
    } else {
      val spark = scored.sparkSession
      import spark.implicits._
      scored
        .select(col("query_id").cast("long"), col(idCol).cast("long"),
          col("score").cast("double"))
        .as[(Long, Long, Double)]
        .groupByKey(_._1)
        .mapValues(t => (t._3, t._2))
        .agg(new graft.functions.Aggregators.TopKByScore(k).toColumn)
        .flatMap { case (qid, top) =>
          top.iterator.zipWithIndex.map { case ((s, id), i) => (qid, id, s, (i + 1).toLong) }
        }
        .toDF("query_id", "neighbor_id", "score", "rn")
    }
  }

  /** Exact brute-force top-k neighbors for each query vector.
    *
    * The query set is broadcast (it is small by construction — if it
    * weren't, you'd use the LSH path); the corpus streams through a
    * BroadcastNestedLoopJoin with bounded top-k aggregation, so the full
    * score matrix is never materialized OR shuffled. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, queryId: String, vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(queryId).as("query_id"), asDouble(col(vecCol)).as("__qvec"))
    val scored = Relational.fanOut(corpus)
      .select(col(corpusId), asDouble(col(vecCol)).as("__cvec"))
      .join(broadcast(q), col(corpusId) =!= col("query_id")) // exclude self-match
      .withColumn("score", cosineFast(col("__cvec"), col("__qvec")))
    boundedTopK(scored.select(col("query_id"), col(corpusId), col("score")), corpusId, k)
  }

  /** Deterministic pseudo-random unit-ish hyperplane component for
    * (plane, dim): a fixed hash mapped to [-1, 1]. No RNG state — any
    * executor recomputes the identical plane. */
  private def planeComponent(plane: Int, dim: Column): Column =
    (xxhash64(lit(plane), dim).cast("double") / lit(Long.MaxValue.toDouble))

  /** Random-hyperplane LSH bucket id: `planes` sign bits packed into a
    * long. Cosine-similar vectors collide with high probability.
    * Native kernel ([[graft.plans.RpLshBucket]], cached plane table);
    * the HOF formulation below is kept for the equality spec. */
  def rpLshBucket(vec: Column, planes: Int): Column =
    graft.plans.VectorExpressions.rpLshBucket(vec, planes)

  /** Reference formulation: one interpreted zip_with+aggregate chain
    * per plane (~1000× the per-row cost of the kernel) — spec-only. */
  def rpLshBucketHof(vec: Column, planes: Int): Column = {
    val v = asDouble(vec)
    (0 until planes).map { p =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1), (x, i) => x * planeComponent(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** RP-LSH keys of one vector: `bands` (band, bucket) structs, band b
    * bucketing by its own seeded plane set (seed 42 + b). The one key
    * column of [[lshTopK]], [[cosineDupPairs]] and [[semDedupLsh]]. */
  private[graft] def rpLshKeys(vec: Column, planes: Int, bands: Int): Column =
    array((0 until bands).map(b => struct(lit(b).as("band"),
      graft.plans.VectorExpressions.rpLshBucket(vec, planes, seed = 42L + b)
        .as("bucket"))): _*)

  /** ANN top-k via LSH buckets: corpus and queries are bucketed by the
    * same planes; candidates = same bucket; exact cosine + top-k within.
    * One shuffle keyed by (band, bucket id); recall traded for never
    * broadcasting or cross-joining the corpus.
    *
    * BUILDING BLOCK, not the recommended ANN path: [[ivfTopK]] beats it
    * at every measured recall point (docs/SCALE.md round-7 probe: IVF
    * 0.84 recall in 0.7 s vs LSH needing 4-plane buckets — width N/2⁴,
    * quadratic at corpus scale — to reach 0.68). Reach for this shape
    * only where a centroid pass is impossible (e.g. single-scan
    * streaming candidate generation); raise `bands`, never lower
    * `planes`, when recall is short.
    *
    * Multi-band OR-amplification (same keys as [[cosineDupPairs]]):
    * one band of p planes finds a θ-neighbor with probability
    * (1 − θ/π)^p — a coin-flip with no second chance; `bands`
    * independent seeded plane sets drive candidate recall to
    * 1 − (1 − (1−θ/π)^p)^bands while each band's buckets stay small.
    * A candidate pair found by several bands is scored once per band
    * and deduped by the distinct before top-k (score is deterministic,
    * so the duplicate rows are identical). */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, queryId: String, vecCol: String,
      k: Int, planes: Int = 12, bands: Int = 4): DataFrame = {
    val c = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(corpusId), asDouble(col(vecCol)).as("__cvec"))
      .withColumn("__key", explode(rpLshKeys(col("__cvec"), planes, bands)))
    val q = queries.select(col(queryId).as("query_id"), asDouble(col(vecCol)).as("__qvec"))
      .withColumn("__key", explode(rpLshKeys(col("__qvec"), planes, bands)))
    val scored = c.join(q, Seq("__key"))
      .filter(col(corpusId) =!= col("query_id"))
      .select(col("query_id"), col(corpusId),
        cosineFast(col("__cvec"), col("__qvec")).as("score"))
      .distinct()
    boundedTopK(scored, corpusId, k)
  }

  // ------------------------------------------------------------------
  // Centroid machinery shared by IVF and SemDeDup: literal inlining for
  // small centroid sets, a broadcast centroid-table join past the
  // budget, and a sampled spherical k-means fit.
  // ------------------------------------------------------------------

  /** Literal-inlining budget: centroid sets up to this many doubles
    * (k × dim) are collected and inlined as plan literals — assignment
    * becomes a pure per-row projection, zero joins. Past it, the plan
    * would carry the centroid matrix as codegen'd constants (at the
    * SemDeDup paper's k≈50k × dim 768 that is ~38M literal doubles —
    * codegen and plan serialization break long before the data does),
    * so assignment switches to [[assignByCentroidTable]]. */
  val LiteralBudgetDoubles: Int = 10000

  /** Independent cap on the literal path's centroid COUNT: generated
    * code grows with k (one inlined cosine kernel per centroid)
    * regardless of dim, and janino's 64 KB method limit lands near
    * k≈250 — past which Spark silently falls back to INTERPRETED
    * expression evaluation, quietly ~100× slower (caught by the round-7
    * soak: `Code grows beyond 64 KB` at k=250 × dim 16, a shape the
    * doubles budget alone admits). 64 keeps whole-stage codegen with
    * comfortable margin; anything bigger rides the broadcast table. */
  val LiteralMaxCentroids: Int = 64

  /** `size(vecCol)` from one row — a bounded metadata fetch (like the
    * centroid collects) used only to price the literal budget. */
  private def vecDim(df: DataFrame, vecCol: String): Int = {
    // first NON-NULL vector; an empty frame (or all-null column) prices
    // as dim 0 → the literal path, which degrades exactly like the
    // pre-budget code did (empty centroid collect, empty result)
    val r = df.select(size(asDouble(col(vecCol))).as("__d"))
      .filter(col("__d").isNotNull).head(1)
    if (r.isEmpty) 0 else r(0).getInt(0)
  }

  /** The literal-vs-broadcast routing decision, in ONE place: the same
    * predicate gates semDedupAssign's dataflow choice AND semDedup's
    * materialization of it, and those two must never drift apart (a
    * mismatch either checkpoints a free projection or recomputes the
    * corpus×k argmin 6×). Costs one bounded vecDim job per call. */
  private def useLiteralPath(df: DataFrame, vecCol: String, k: Int,
      literalBudgetDoubles: Int): Boolean =
    k <= LiteralMaxCentroids &&
      k.toLong * vecDim(df, vecCol) <= literalBudgetDoubles

  /** The deterministic lowest-`k`-id centroid rule as a TABLE
    * (cid, cv) — the replayable default; a [[kMeansFit]] table drops in
    * without changing the assignment dataflow. */
  def centroidTable(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    df.select(col(idCol).cast("long").as("cid"), asDouble(col(vecCol)).as("cv"))
      .orderBy(col("cid").asc).limit(k)

  /** Max-cosine centroid per row against an arbitrary centroid TABLE:
    * `broadcast(centroids)` nested-loop join (k×dim bytes shipped once
    * per executor, never inlined in the plan) whose output is
    * immediately projected NARROW — the corpus×k candidate stream
    * never carries vectors.
    *
    * The argmin itself is the part that's easy to get catastrophically
    * wrong in Spark: `min(struct(ns, cid))` has a non-mutable buffer
    * and plans as SortAggregate (a full SORT of the corpus×k stream),
    * and a typed Aggregator pays encoder deserialization per candidate
    * row. Instead: two whole-stage-codegen'd primitive HashAggregates —
    * pass 1 takes `min(ns)` per id; pass 2 re-scans the candidates,
    * keeps rows whose ns EQUALS the group minimum (bit-identical — the
    * same codegen'd expression over the same input), and takes
    * `min(cid)`, which is exactly the literal path's (cosine desc,
    * cid asc) tie rule. NaN cosines (zero-norm vectors) are nanvl'd to
    * +∞ first: same ranking (NaN already sorted greatest), but `==`
    * survives the all-NaN group that would otherwise drop out.
    * Costs 2 candidate passes + 2 corpus-sized equi-joins; every
    * operator is codegen'd and every aggregate buffer is primitive. */
  def assignByCentroidTable(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("__v"))
    def ns(vc: Column): Column =
      nanvl(-cosineFast(vc, col("cv")), lit(Double.PositiveInfinity))
    val minNs = v.crossJoin(broadcast(centroids))
      .select(col(idCol), ns(col("__v")).as("ns"))
      .groupBy(col(idCol)).agg(min(col("ns")).as("__mn"))
    val assign = v.join(minNs, Seq(idCol))
      .crossJoin(broadcast(centroids))
      .filter(ns(col("__v")) === col("__mn"))
      .groupBy(col(idCol)).agg(min(col("cid")).as("cluster"))
    v.join(assign, Seq(idCol))
  }

  /** Sampled spherical k-means centroid fit: Lloyd iterations (assign
    * by max cosine, update = per-cluster mean) over a deterministic
    * hash-ordered sample of ≤ `sampleN` vectors. The driver holds only
    * the k×dim centroid matrix between iterations (inherent to
    * k-means — MLlib's implementation carries the same state); all
    * per-vector work is distributed: duplicate vectors pre-collapse
    * with weights, assignment is a broadcast join + partial-agg argmin,
    * means are a posexplode/groupBy over (cluster, dim) — vocab-sized,
    * never corpus-sized. Empty clusters keep their previous centroid.
    * Returns the fitted (cid, cv) table, ready for
    * [[assignByCentroidTable]].
    *
    * The `sampleN` cap applies to ROWS, then duplicates collapse, so on
    * a duplicate-heavy corpus the effective distinct sample is smaller
    * than `sampleN`. If fewer than `k` distinct vectors survive, the
    * fit WARNS loudly and returns that many centroids (the returned
    * table's row count is the actual centroid count) — silently
    * clustering into fewer cells than requested was the failure mode
    * this guards. */
  def kMeansFit(df: DataFrame, vecCol: String, k: Int, iters: Int = 5,
      sampleN: Int = 100000, init: String = "auto"): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(k >= 1 && iters >= 0, s"k=$k iters=$iters")
    val useParallel = init match {
      case "auto" => k > 64 // past the trivial-k point the init quality matters
      case "parallel" => true
      case "hash" => false
      case other => throw new IllegalArgumentException(
        s"kMeansFit init=$other (expected auto|parallel|hash)")
    }
    val sample = df
      .select(asDouble(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
      .orderBy(xxhash64(col("v")).asc)
      .limit(sampleN)
      .groupBy(col("v")).agg(count(lit(1)).cast("double").as("w"))
      .cache()
    val nDistinct = sample.count()
    if (nDistinct < k) System.err.println(
      s"[graft] kMeansFit WARNING: only $nDistinct distinct vectors in the " +
        s"$sampleN-row sample (requested k=$k); returning $nDistinct centroids")
    def centDf(cents: Array[Seq[Double]]): DataFrame =
      cents.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq
        .toDF("cid", "cv")
    var cents: Array[Seq[Double]] =
      if (useParallel) kMeansParallelInit(sample, k)
      else sample
        .orderBy(xxhash64(col("v")).asc).limit(k)
        .collect().map(_.getSeq[Double](0))
    for (_ <- 1 to iters) {
      // Assignment fused into the row (r9): the centroid matrix is
      // driver state anyway, so it ships as a plan reference and the
      // argmax is one codegen'd kernel scan (CosArgMaxToSet — same
      // min-index tie rule as the r7/r8 broadcast-table argmin join it
      // replaces, scores bit-identical). Kills both argmin crossJoin
      // passes AND the kid join-back per Lloyd iteration; the only
      // remaining movement is the (cluster, dim)-sized mean shuffle.
      val means = sample
        .withColumn("cluster",
          graft.plans.VectorExpressions.cosArgMaxToSet(col("v"), cents.toSeq))
        .select(col("cluster"), col("w"), posexplode(col("v")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("col") * col("w")).as("s"), sum(col("w")).as("n"))
        .groupBy(col("cluster"))
        .agg(sort_array(collect_list(struct(col("pos"),
          (col("s") / col("n")).as("m")))).as("ps"))
        .select(col("cluster"),
          transform(col("ps"), p => p.getField("m")).as("cv"))
        .as[(Long, Seq[Double])].collect().toMap
      cents = cents.zipWithIndex.map { case (old, i) =>
        means.getOrElse(i.toLong, old)
      }
    }
    sample.unpersist()
    centDf(cents)
  }

  /** k-means|| initialization (Bahmani et al. 2012) over the weighted
    * distinct sample — the init [[kMeansFit]] uses past trivial k
    * (hash-ordered first-k seeds degrade as k grows; the paper's
    * oversampled seeding provably approximates k-means++ in O(rounds)
    * passes instead of k sequential ones).
    *
    * DETERMINISTIC variant: the per-point coin flip uses an
    * md5-fraction of (point-hash, round) — same engine/retry/
    * partition-stability contract as every sampler here. Spherical
    * cost d(x,C) = 1 − max cos(x,c) (zero-norm vectors cost 2 —
    * "far"). Each round draws ~l = 2k candidates with probability
    * l·w·d/φ, then only the NEW candidates' distances are scored (the
    * MLlib incremental-cost trick — round cost is sample × l, never
    * sample × |C|), through the in-row codegen kernel
    * ([[graft.plans.MinCosDistToSet]] — the candidate matrix rides the
    * plan as a reference object, so rounds are map-only projections,
    * r9). Candidates are weighted by the sample mass assigned to them
    * ([[graft.plans.CosArgMaxToSet]], same tie rule as the argmin
    * join), then reduced to k by a deterministic driver-side weighted
    * spherical Lloyd (candidate set is ~1 + rounds·l rows —
    * driver-sized by construction, exactly the state any k-means||
    * implementation ships home). */
  private[operators] def kMeansParallelInit(sample: DataFrame, k: Int,
      rounds: Int = 2, oversample: Int = 0): Array[Seq[Double]] = {
    val spark = sample.sparkSession
    import spark.implicits._
    val l = if (oversample > 0) oversample else 2 * k
    val keyed = sample.select(xxhash64(col("v")).as("kid"), col("v"), col("w"))
    // Spherical distance to the nearest of `cs`, per point, FUSED into
    // the row (r9): the candidate matrix rides the plan as a reference
    // object and the min is one codegen'd kernel scan
    // (graft.plans.MinCosDistToSet) — a map-only projection, scores
    // bit-identical to the crossJoin formulation. The r8 shape
    // (crossJoin each candidate, partial-agg min, join back on kid)
    // paid two sample-sized shuffles per round for the same FLOPs; at
    // 1M×k1024 those rounds were ~60% of the fit.
    def withMinDist(df: DataFrame, cs: Seq[Seq[Double]], out: String): DataFrame =
      df.withColumn(out,
        graft.plans.VectorExpressions.minCosDistToSet(col("v"), cs))
    val first = keyed.orderBy(col("kid").asc).limit(1)
      .select(col("v")).as[Seq[Double]].collect()
    if (first.isEmpty) return Array.empty
    val cands = scala.collection.mutable.ArrayBuffer[Seq[Double]](first(0))
    var state = withMinDist(keyed, cands.toSeq, "dmin")
      .select(col("kid"), col("v"), col("w"), col("dmin"))
      .materialized()
    for (r <- 1 to rounds) {
      // DECIMAL-exact total cost: a double sum's rounding depends on
      // partition/merge order, and phi feeds every coin-flip threshold
      // — the partition-invariance contract needs it exact (the
      // codebase-wide aggregate-through-DECIMAL discipline)
      val phi = state
        .agg(sum((col("dmin") * col("w")).cast(
          org.apache.spark.sql.types.DecimalType(38, 18))).cast("double"))
        .collect()(0).getDouble(0)
      if (phi > 0) {
        val p = least(lit(1.0), lit(l.toDouble) * col("dmin") * col("w") / lit(phi))
        val u = conv(substring(md5(concat_ws(":", col("kid"), lit(r))), 1, 13), 16, 10)
          .cast("double") / math.pow(16.0, 13)
        val newC = state.filter(u < p).select(col("v")).as[Seq[Double]].collect()
        if (newC.nonEmpty) {
          cands ++= newC
          // only the NEW candidates are scored (incremental-cost
          // trick), and the update is map-only — materialize keeps
          // each round's dmin materialized so phi/coin-flip actions
          // never replay prior rounds
          state = withMinDist(state, newC.toSeq, "nd")
            .select(col("kid"), col("v"), col("w"),
              least(col("dmin"), col("nd")).as("dmin"))
            .materialized()
        }
      }
    }
    val uniq = cands.distinct.toSeq
    if (uniq.length <= k) {
      // degenerate geometry (one dense blob: dmin≈0 everywhere after
      // the first seed, so rounds draw nothing) can land here even
      // when the sample HAS k distinct vectors — same loud-not-silent
      // contract as kMeansFit's under-k warning
      if (uniq.length < k) System.err.println(
        s"[graft] kMeansParallelInit WARNING: oversampling rounds drew only " +
          s"${uniq.length} distinct candidates (requested k=$k); returning " +
          s"${uniq.length} centroids — the sample geometry is degenerate")
      return uniq.toArray
    }
    // weight candidates by assigned sample mass — in-row kernel argmax
    // (same min-index tie rule as the argmin join it replaces), so the
    // only movement is the candidate-count-sized groupBy
    val wts = state
      .withColumn("cluster",
        graft.plans.VectorExpressions.cosArgMaxToSet(col("v"), uniq))
      .groupBy(col("cluster")).agg(sum(col("w")).as("cw"))
      .as[(Long, Double)].collect().toMap
    // weight desc, ties broken by lexicographic element compare — a
    // content-stable total order (hashCode could collide and leave the
    // seed order dependent on collect order; r9 ADVICE fix)
    def lexCompare(a: Seq[Double], b: Seq[Double]): Int = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val c = java.lang.Double.compare(a(i), b(i))
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(a.length, b.length)
    }
    val weighted: Array[(Seq[Double], Double)] = uniq.zipWithIndex
      .map { case (c, i) => (c, wts.getOrElse(i.toLong, 0.0)) }.toArray
      .sortWith { case ((c1, w1), (c2, w2)) =>
        if (w1 != w2) w1 > w2 else lexCompare(c1, c2) < 0
      }
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0) -1.0 else d / den
    }
    // deterministic weighted FARTHEST-FIRST seeding down to k (the
    // k-means++ max-variant: heaviest candidate first, then always the
    // candidate maximizing weight × spherical distance to the chosen
    // set) — top-k-by-weight alone can stack seeds inside one dense
    // region and leave a cluster unclaimed. Incremental dmin array:
    // k·|cands| distance evals total, never k·|cands|².
    val nC = weighted.length
    val dminArr = Array.fill(nC)(Double.PositiveInfinity)
    val taken = new Array[Boolean](nC)
    val chosen = scala.collection.mutable.ArrayBuffer(0)
    taken(0) = true
    var done = false
    while (chosen.length < k && !done) {
      val last = weighted(chosen.last)._1
      var i = 0
      while (i < nC) {
        if (!taken(i)) {
          val d = 1.0 - cos(weighted(i)._1, last)
          if (d < dminArr(i)) dminArr(i) = d
        }
        i += 1
      }
      var bi = -1; var bv = Double.NegativeInfinity
      i = 0
      while (i < nC) {
        if (!taken(i)) {
          val v = weighted(i)._2 * dminArr(i)
          if (v > bv) { bv = v; bi = i }
        }
        i += 1
      }
      if (bi < 0) done = true
      else { chosen += bi; taken(bi) = true }
    }
    var centers = chosen.map(weighted(_)._1).toArray
    for (_ <- 1 to 5) {
      val sums = Array.fill(centers.length)(new Array[Double](uniq.head.length))
      val mass = new Array[Double](centers.length)
      weighted.foreach { case (c, w) =>
        var best = 0; var bs = Double.NegativeInfinity; var j = 0
        while (j < centers.length) {
          val s = cos(c, centers(j)); if (s > bs) { bs = s; best = j }; j += 1
        }
        var d = 0
        while (d < c.length) { sums(best)(d) += c(d) * w; d += 1 }
        mass(best) += w
      }
      centers = centers.zipWithIndex.map { case (old, j) =>
        if (mass(j) > 0) sums(j).map(_ / mass(j)).toSeq else old
      }
    }
    centers
  }

  /** IVF (inverted-file) ANN top-k — the classic two-stage scale path:
    * a small deterministic centroid set partitions the corpus into
    * cells; each query probes its `nProbe` nearest cells and scores
    * only those corpus vectors.
    *
    * Centroids are a deterministic hash-ordered sample of the corpus
    * (TakeOrdered — per-partition top-n, no full sort; a k-means
    * refinement would drop in without changing the dataflow). The
    * bounded centroid table (nCentroids × dim doubles) is collected
    * once and INLINED as literals, so cell assignment and query probing
    * are pure per-row projections over the native cosine kernel —
    * no join, no window, no shuffle, no extra corpus pass. The only
    * corpus-sized movement in the whole operator is the single shuffle
    * on cell id that co-locates candidates with their probes. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, queryId: String, vecCol: String,
      k: Int, nCentroids: Int = 16, nProbe: Int = 4,
      literalBudgetDoubles: Int = LiteralBudgetDoubles): DataFrame = {
    // default centroid RULE: deterministic hash-ordered corpus sample
    val cents = corpus
      .select(col(corpusId).cast("long").as("cid"), asDouble(col(vecCol)).as("cv"))
      .orderBy(xxhash64(col("cid")).asc, col("cid").asc)
      .limit(nCentroids)
    val collected =
      if (nCentroids <= LiteralMaxCentroids &&
          nCentroids.toLong * vecDim(corpus, vecCol) <= literalBudgetDoubles)
        Some(cents.collect().map(r => (r.getLong(0), r.getSeq[Double](1))))
      else None
    ivfCore(corpus, queries, corpusId, queryId, vecCol, k, cents,
      collected, nProbe)
  }

  /** IVF top-k over an EXPLICIT centroid table — compose with
    * [[kMeansFit]]: fitted centroids route queries to the cells their
    * neighbors actually live in, where a hash-sampled centroid set
    * can leave a dense region unrepresented (recall loss at the same
    * nProbe). `centroids` must be (cid: integral, cv: vector); same
    * literal-vs-broadcast dataflow decision as [[ivfTopK]]. */
  def ivfTopKWithCentroids(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, queryId: String, vecCol: String,
      k: Int, centroids: DataFrame, nProbe: Int = 4,
      literalBudgetDoubles: Int = LiteralBudgetDoubles): DataFrame = {
    val cc = centroids.columns
    require(cc.length >= 2, s"centroids needs (cid, cv) columns, got ${cc.toSeq}")
    val cents = centroids.select(col(cc(0)).cast("long").as("cid"),
      asDouble(col(cc(1))).as("cv"))
    // ONE bounded probe decides literal-vs-broadcast AND supplies the
    // literal array — a separate count() would evaluate the caller's
    // centroid plan twice (and could disagree with the collected rows
    // if that plan were nondeterministic)
    val probe = cents.limit(LiteralMaxCentroids + 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val collected =
      if (probe.length <= LiteralMaxCentroids &&
          probe.length.toLong * vecDim(corpus, vecCol) <= literalBudgetDoubles)
        Some(probe)
      else None
    // r9 ADVICE: past the literal budget the broadcast path would
    // re-evaluate the CALLER'S centroid plan inside ivfCore — a
    // nondeterministic plan could diverge from what the probe sized.
    // When the probe already saw every row (the limit was not hit),
    // rebuild the table from those exact rows; otherwise pin ONE
    // materialization with GraftSession.materialize.
    val stableCents =
      if (collected.isDefined) cents // literal path never reads the table
      else if (probe.length <= LiteralMaxCentroids) {
        val spark = centroids.sparkSession
        import spark.implicits._
        probe.toSeq.toDF("cid", "cv")
      } else cents.materialized()
    ivfCore(corpus, queries, corpusId, queryId, vecCol, k, stableCents,
      collected, nProbe)
  }

  private def ivfCore(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, queryId: String, vecCol: String,
      k: Int, cents: DataFrame,
      collectedForLiteral: Option[Array[(Long, Seq[Double])]],
      nProbe: Int): DataFrame = {
    val (assigned, probes) =
      if (collectedForLiteral.isDefined) {
        val centroids: Array[(Long, Seq[Double])] = collectedForLiteral.get

        /** Per-row top-`m` nearest cells: a literal-built array of
          * (−score, cent_id) structs, sorted ascending (score desc, id asc
          * on ties — the previous window ordering), sliced to m. All of it
          * codegen-resident; the centroid vectors are plan literals. */
        def topCells(v: Column, m: Int): Column = {
          val scoredCells = centroids.map { case (cid, cvec) =>
            struct((-cosineFast(v, typedLit(cvec))).as("ns"), lit(cid).as("cent"))
          }
          slice(sort_array(array(scoredCells: _*)), 1, m)
        }

        val a = corpus
          .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
          .select(col(corpusId), asDouble(col(vecCol)).as("__v"))
          .withColumn("cell", element_at(topCells(col("__v"), 1), 1).getField("cent"))
        val p = queries
          .select(col(queryId).as("query_id"), asDouble(col(vecCol)).as("__q"))
          .withColumn("__pc", explode(topCells(col("__q"), nProbe)))
          .select(col("query_id"), col("__q"), col("__pc").getField("cent").as("cell"))
        (a, p)
      } else {
        // Past the literal budget: the same centroid table goes to a
        // broadcast. Cell assignment is the shared partial-agg argmin;
        // query probing aggregates its k candidate cells into a
        // bounded per-query state (k structs — the centroid table the
        // executor already holds, never corpus-sized) and keeps the
        // best nProbe. Identical (score desc, cid asc) ordering.
        val a = assignByCentroidTable(
            corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism),
            corpusId, vecCol, cents)
          .withColumnRenamed("cluster", "cell")
        val p = queries
          .select(col(queryId).as("query_id"), asDouble(col(vecCol)).as("__q"))
          .crossJoin(broadcast(cents))
          .groupBy(col("query_id"))
          .agg(first(col("__q")).as("__q"),
            slice(sort_array(collect_list(struct(
              (-cosineFast(col("__q"), col("cv"))).as("ns"),
              col("cid").as("cent")))), 1, nProbe).as("__cells"))
          .select(col("query_id"), col("__q"),
            explode(col("__cells")).as("__pc"))
          .select(col("query_id"), col("__q"), col("__pc").getField("cent").as("cell"))
        (a, p)
      }
    val scored = assigned.join(probes, Seq("cell"))
      .filter(col(corpusId) =!= col("query_id"))
      .withColumn("score", cosineFast(col("__v"), col("__q")))
    boundedTopK(scored.select(col("query_id"), col(corpusId), col("score")), corpusId, k)
  }

  /** Per-vector affine int8 quantization — the standard vector-store
    * compression step before ANN at scale (4× memory vs float32, 8×
    * vs the double working form): code_i = floor((x_i − mn)·255 /
    * (mx − mn)) clamped to [0, 255], reconstruct x̂_i = mn +
    * code_i·(mx − mn)/255. Pure per-row expression — zero shuffle; a
    * 100 TB embedding corpus quantizes in the scan. Constant vectors
    * (mx == mn) code to all-zeros. IEEE double ops in a fixed order,
    * so any engine replays codes bit-for-bit. */
  def quantizeInt8(vec: Column): Column = {
    val v = asDouble(vec)
    val mn = array_min(v)
    val mx = array_max(v)
    val codes = transform(v, x =>
      when(mx > mn,
        least(floor((x - mn) * lit(255.0) / (mx - mn)).cast("int"), lit(255)))
        .otherwise(lit(0)))
    struct(mn.as("mn"), mx.as("mx"), codes.as("codes"))
  }

  /** Reconstruct the double vector from [[quantizeInt8]] output. */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"), c =>
      q.getField("mn") +
        c.cast("double") * (q.getField("mx") - q.getField("mn")) / lit(255.0))

  /** Unit-normalize an embedding column (zero-norm vectors pass
    * through unchanged — their cosine against anything is undefined
    * and the scoring kernels already treat them as "far"). Dot
    * products of unitized vectors ARE cosines, which is what makes
    * additive-over-subspaces PQ/ADC scoring (below) approximate
    * cosine similarity. */
  def unitize(vec: Column): Column = {
    val v = asDouble(vec)
    val n = norm(v)
    when(n > 0.0, transform(v, x => x / n)).otherwise(v)
  }

  /** Fit product-quantization codebooks (Jégou et al., TPAMI 2011)
    * over a deterministic hash-ordered sample: the vector splits into
    * `m` contiguous subspaces of `dim/m` dims, each getting its own
    * ≤ `nCodes` L2-Lloyd codebook. The sample explodes ONCE into
    * (subspace, subvector, weight) rows, so every Lloyd iteration is
    * a single distributed job covering all `m` codebooks —
    * assignment through the codegen'd [[graft.plans.PqSubspaceArgMin]]
    * kernel (codebooks ride the task binary, lowest-index ties),
    * means through the same (cluster, dim)-sized shuffle as
    * [[kMeansFit]]. Driver state is the m × nCodes × subDim model
    * only. A subspace with fewer distinct subvectors than `nCodes`
    * keeps what it has (ragged codebook) with a loud warning.
    *
    * Train and encode on [[unitize]]d vectors when the downstream
    * score is cosine ([[ivfPqTopK]] does both internally). */
  def pqTrain(df: DataFrame, vecCol: String, m: Int, nCodes: Int = 256,
      iters: Int = 5, sampleN: Int = 100000): graft.plans.PqCodebooks = {
    val spark = df.sparkSession
    import spark.implicits._
    val dim = vecDim(df, vecCol)
    require(m >= 1 && dim % m == 0, s"dim=$dim not divisible into m=$m subspaces")
    require(nCodes >= 1 && iters >= 0, s"nCodes=$nCodes iters=$iters")
    val subDim = dim / m
    val subs = df
      .select(unitize(col(vecCol)).as("v"))
      .filter(col("v").isNotNull)
      .orderBy(xxhash64(col("v")).asc)
      .limit(sampleN)
      .select(posexplode(array((0 until m).map(s =>
        slice(col("v"), s * subDim + 1, subDim)): _*)))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "sv")
      .groupBy(col("sub"), col("sv")).agg(count(lit(1)).cast("double").as("w"))
      .cache()
    // init: per subspace, the nCodes lowest-hash distinct subvectors.
    // The window partitions by subspace over the ≤ m·sampleN-row
    // SAMPLE (bounded by construction), not the corpus.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sub")).orderBy(xxhash64(col("sv")).asc, col("sv").asc)
    val initRows = subs
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nCodes)
      .select(col("sub"), col("rn"), col("sv"))
      .as[(Int, Int, Seq[Double])].collect()
    // an empty corpus would otherwise surface as PqCodebooks' opaque
    // "empty codebook" require — fail with the actual cause
    require(initRows.nonEmpty,
      s"pqTrain: no non-null vectors in $vecCol — cannot fit codebooks")
    var books: Array[Array[Array[Double]]] = {
      val bySub = initRows.groupBy(_._1)
      Array.tabulate(m) { s =>
        val rows = bySub.getOrElse(s, Array.empty)
        if (rows.length < nCodes) System.err.println(
          s"[graft] pqTrain WARNING: subspace $s has only ${rows.length} " +
            s"distinct subvectors in the sample (requested nCodes=$nCodes); " +
            s"keeping a ragged ${rows.length}-entry codebook")
        rows.sortBy(_._2).map(_._3.toArray)
      }
    }
    for (_ <- 1 to iters) {
      val cb = new graft.plans.PqCodebooks(subDim, books)
      val means = subs
        .withColumn("cluster",
          graft.plans.PqExpressions.pqSubspaceArgMin(col("sub"), col("sv"), cb))
        .select(col("sub"), col("cluster"), col("w"), posexplode(col("sv")))
        .groupBy(col("sub"), col("cluster"), col("pos"))
        .agg(sum(col("col") * col("w")).as("s"), sum(col("w")).as("n"))
        .groupBy(col("sub"), col("cluster"))
        .agg(sort_array(collect_list(struct(col("pos"),
          (col("s") / col("n")).as("mv")))).as("ps"))
        .select(col("sub"), col("cluster"),
          transform(col("ps"), p => p.getField("mv")).as("cv"))
        .as[(Int, Long, Seq[Double])].collect()
        .map { case (s, c, v) => ((s, c.toInt), v.toArray) }.toMap
      books = Array.tabulate(m) { s =>
        books(s).zipWithIndex.map { case (old, j) =>
          means.getOrElse((s, j), old) // empty clusters keep their centroid
        }
      }
    }
    subs.unpersist()
    new graft.plans.PqCodebooks(subDim, books)
  }

  /** IVF-PQ ANN top-k — the billion-scale composition: a coarse
    * centroid table routes corpus rows to cells and queries to their
    * `nProbe` nearest cells (both through task-binary kernel scans —
    * no literal budget, no join), and within probed cells candidates
    * score by PQ/ADC: the corpus side carries `m` SMALL CODE IDS per
    * vector instead of the vector, so the one corpus-sized shuffle
    * (cell co-location) moves ~m bytes/row — at 100 TB of float32
    * embeddings, the difference between shuffling the corpus and
    * shuffling ~1% of it. The query stays exact; scoring is `m`
    * LUT reads per candidate (no per-dim work). Scores approximate
    * cosine (vectors are [[unitize]]d so dot = cosine); final
    * ordering is (score desc, id asc) via the same bounded
    * [[boundedTopK]] as every other ANN path.
    *
    * `centroids` is an explicit (cid, cv) coarse table — compose with
    * [[kMeansFit]] or [[centroidTable]]. It is model-sized state
    * (driver-fitted), collected once and shipped in the task binary;
    * cells are identified by POSITION in that collected order (the
    * caller's cid values are routing-irrelevant). `pq` comes from
    * [[pqTrain]].
    *
    * `refine` > 0 appends the standard exact re-rank (FAISS's
    * IVFPQ+R): ADC shortlists `refine × k` candidates per query,
    * then ONLY those rows re-score against the exact vectors and the
    * final top-k orders by exact cosine. ADC quantization noise
    * reorders near-ties (the sf0.01 probe measured top-5 recall
    * 0.56 raw vs 1.00 refined at m=8/c64), and the refine cost is
    * bounded: the shortlist (queries × refine·k ids) BROADCASTS into
    * a corpus scan — no corpus shuffle, no full-vector movement
    * beyond the matched rows. */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      corpusId: String, queryId: String, vecCol: String,
      k: Int, centroids: DataFrame, pq: graft.plans.PqCodebooks,
      nProbe: Int = 4, refine: Int = 0): DataFrame = {
    val cents = collectCentroids(centroids, "ivfPqTopK")
    val assigned = ivfPqEncode(Relational.fanOut(corpus), corpusId, vecCol, cents, pq)
    ivfPqServe(assigned, queries, corpusId, queryId, vecCol, k, cents, pq,
      nProbe, refine, exactCorpus = Some(corpus))
  }

  /** Collect a (cid, cv) coarse-centroid table into the driver-sized
    * model `ivfPqTopK`/[[AnnIndex]] ship in the task binary. Cells are
    * identified by POSITION in the cid-ascending collected order. */
  private[operators] def collectCentroids(centroids: DataFrame,
      who: String): Seq[Seq[Double]] = {
    val cc = centroids.columns
    require(cc.length >= 2, s"centroids needs (cid, cv) columns, got ${cc.toSeq}")
    val maxModel = 65536
    val rows = centroids
      .select(col(cc(0)).cast("long").as("cid"), asDouble(col(cc(1))).as("cv"))
      .orderBy(col("cid").asc)
      .limit(maxModel + 1).collect()
    require(rows.length <= maxModel,
      s"$who: > $maxModel coarse centroids is corpus-scale state, " +
        "not a driver model — shard the corpus or lower the cell count")
    rows.map(_.getSeq[Double](1)).toSeq
  }

  /** The one corpus-sized pass of IVF-PQ: route every row to its
    * nearest coarse cell and quantize it to `m` code ids — the
    * index-build stage ([[AnnIndex.save]] persists its output; the
    * in-memory path feeds it straight to [[ivfPqServe]]). */
  private[graft] def ivfPqEncode(corpus: DataFrame, corpusId: String,
      vecCol: String, cents: Seq[Seq[Double]],
      pq: graft.plans.PqCodebooks): DataFrame = {
    import graft.plans.{PqExpressions, VectorExpressions}
    corpus
      .select(col(corpusId), unitize(col(vecCol)).as("__nv"))
      .select(col(corpusId),
        VectorExpressions.cosArgMaxToSet(col("__nv"), cents).as("cell"),
        PqExpressions.pqEncode(col("__nv"), pq).as("__codes"))
  }

  /** The query-time stage of IVF-PQ over an already-encoded corpus
    * (`assigned` = (corpusId, cell, __codes), from [[ivfPqEncode]] or
    * reloaded by [[AnnIndex.load]]): probe nProbe cells per query,
    * ADC-score candidates, optional exact re-rank. `exactCorpus` must
    * carry (corpusId, vecCol) and is REQUIRED when refine > 0 — codes
    * alone cannot re-rank exactly, and faking it with ADC scores
    * would silently change the published recall contract. */
  private[operators] def ivfPqServe(assigned: DataFrame, queries: DataFrame,
      corpusId: String, queryId: String, vecCol: String,
      k: Int, cents: Seq[Seq[Double]], pq: graft.plans.PqCodebooks,
      nProbe: Int, refine: Int, exactCorpus: Option[DataFrame]): DataFrame = {
    import graft.plans.PqExpressions
    // The probe side carries the QUERY VECTOR, not the per-query ADC
    // LUT: a row-join copies the matched build-side row into every
    // joined output row, so a carried LUT costs m·nCodes doubles per
    // CANDIDATE (64× the query vector's m·subDim at the defaults —
    // measured ~1 GB of single-task row materialization in the sf0.1
    // serve). pqAdcQuery recomputes each subspace dot in the LUT's
    // exact accumulation order, so scores stay bit-identical while
    // the join moves 512 B/row instead of 32 KB/row.
    val probes = queries
      .select(col(queryId).as("query_id"), unitize(col(vecCol)).as("__nq"))
      .select(col("query_id"),
        explode(PqExpressions.topCosArgMaxToSet(col("__nq"), cents, nProbe)).as("cell"),
        col("__nq"))
    val scored = assigned.join(probes, Seq("cell"))
      .filter(col(corpusId) =!= col("query_id"))
      .withColumn("score", PqExpressions.pqAdcQuery(col("__codes"), col("__nq"), pq))
      .select(col("query_id"), col(corpusId), col("score"))
    if (refine <= 0) boundedTopK(scored, corpusId, k)
    else {
      val corpus = exactCorpus.getOrElse(throw new IllegalArgumentException(
        "ivfPqServe: refine > 0 needs the exact-vector corpus (PQ codes " +
          "cannot re-rank exactly); pass exactCorpus or set refine = 0"))
      val shortlist = boundedTopK(scored, corpusId, k * refine)
        .select(col("query_id"), col("neighbor_id").as(corpusId))
        .join(queries.select(col(queryId).as("query_id"),
          unitize(col(vecCol)).as("__nq")), Seq("query_id"))
      // zero-norm guard: cosineFast on a zero vector is NaN, and
      // boundedTopK ranks NaN FIRST (its SQL-compat contract) — a
      // degenerate vector would beat every real neighbor. The ADC
      // stage scores such vectors 0.0 (dot of zeros); the refine must
      // agree, so NaN re-scores to 0.0 here.
      // unitize runs AFTER the broadcast join (r19, guide §2.3): the
      // shortlist keeps queries × refine·k rows of the corpus, so
      // normalizing before the join paid the sqrt+divide scan over
      // EVERY corpus vector to rescore a bounded handful. Projection
      // order around an equi-join does not change the matched rows or
      // the per-row arithmetic — scores stay bit-identical.
      val exact = corpus
        .select(col(corpusId), col(vecCol))
        .join(broadcast(shortlist), Seq(corpusId))
        .select(col("query_id"), col(corpusId),
          nanvl(cosineFast(col("__nq"), unitize(col(vecCol))), lit(0.0)).as("score"))
      boundedTopK(exact, corpusId, k)
    }
  }

  /** The assignment stage of [[semDedup]], exposed so callers (and the
    * soak's skew-first guard) can inspect cluster sizes without paying
    * for the within-cluster pair join: (id, __v, cluster), a pure
    * projection over inlined centroid literals. */
  def semDedupAssign(df: DataFrame, idCol: String, vecCol: String,
      k: Int, literalBudgetDoubles: Int = LiteralBudgetDoubles): DataFrame =
    semDedupAssignImpl(df, idCol, vecCol, k,
      useLiteralPath(df, vecCol, k, literalBudgetDoubles))

  /** Assignment with the routing decision PRE-MADE — callers that also
    * act on the decision (semDedup's materialization) pass it in so it
    * is priced once and cannot drift. Rows with NULL vectors are
    * excluded on BOTH paths: a null embedding has no cosine to any
    * centroid (the literal path used to give it an arbitrary cluster
    * via null-sorting; the broadcast path dropped it in the argmin —
    * now the contract is uniform and explicit). */
  private def semDedupAssignImpl(df: DataFrame, idCol: String, vecCol: String,
      k: Int, literal: Boolean): DataFrame =
    if (literal) {
      val centroids: Array[(Long, Seq[Double])] = df
        .filter(col(vecCol).isNotNull)
        .select(col(idCol).cast("long").as("cid"), asDouble(col(vecCol)).as("cv"))
        .orderBy(col("cid").asc)
        .limit(k)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))

      // (−cosine, centroid id) structs sorted ascending = cosine desc,
      // id-asc tiebreak; head = assignment. All plan literals, codegen'd.
      def bestCell(v: Column): Column = {
        val scored = centroids.map { case (cid, cv) =>
          struct((-cosineFast(v, typedLit(cv))).as("ns"), lit(cid).as("cent"))
        }
        element_at(sort_array(array(scored: _*)), 1).getField("cent")
      }

      val base = df.filter(col(vecCol).isNotNull)
        .select(col(idCol), asDouble(col(vecCol)).as("__v"))
      // an empty corpus yields zero centroids; sort_array over a
      // zero-length literal array is a VOID-typed analysis error, so
      // degrade to the (correctly-typed) empty assignment explicitly
      if (centroids.isEmpty) base.withColumn("cluster", lit(0L)).filter(lit(false))
      else base.withColumn("cluster", bestCell(col("__v")))
    } else
      // paper-scale k (Abbas et al. run k ≈ 10k–50k): same lowest-id
      // centroid rule as a broadcast TABLE + partial-agg argmin — the
      // plan stays constant-size no matter how large k×dim grows
      assignByCentroidTable(df.filter(col(vecCol).isNotNull), idCol, vecCol,
        centroidTable(df.filter(col(vecCol).isNotNull), idCol, vecCol, k))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    * embedding space, then prune semantic near-duplicates WITHIN each
    * cluster, keeping one representative per near-dup set — the
    * "semantic" tier above exact/MinHash/SimHash text dedup.
    *
    * Deterministic formulation (so an external oracle can replay it):
    * centroids are the `k` lowest-id vectors (k-means-refined centroids
    * drop in without changing the dataflow); a row is assigned to the
    * max-cosine centroid (ties → lowest centroid id); a row is PRUNED
    * iff some lower-id row in its cluster has cosine ≥ `tau` —
    * representative = lowest id, the same keeper rule as exact dedup.
    *
    * Scale: up to [[LiteralBudgetDoubles]] (k×dim) the centroid table
    * is inlined as plan literals and assignment is a pure per-row
    * projection — zero shuffle, the IVF discipline. Past the budget
    * (the paper's k ≈ 10k–50k clusters) assignment switches to a
    * broadcast centroid-table join + partial-agg argmin
    * ([[assignByCentroidTable]]) — constant-size plan, k×dim bytes per
    * executor, one corpus-sized shuffle. The within-cluster pair join
    * is the scale knob: one shuffle on cluster id, O(Σ cell²) compare
    * work.
    * At 100 TB-scale cluster counts that quadratic is the bound to
    * manage: raise k so cells stay bounded, or use [[semDedupLsh]]
    * (banded RP-LSH *within* each cluster, key = (cluster, band,
    * bucket)) — same tau semantics at LSH recall, and the hot-cell
    * blowup disappears. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, tau: Double = 0.9,
      literalBudgetDoubles: Int = LiteralBudgetDoubles): DataFrame = {
    // The assignment feeds THREE consumers (both pair-join sides + the
    // verdict join), and Spark's exchange reuse does not recognize the
    // broadcast-argmin subtree as shared — measured 6 full corpus×k
    // candidate passes on q143 without this. On the broadcast path the
    // N×k assignment is expensive enough that materializing it once is
    // the production shape anyway (SemDeDup pipelines persist the
    // cluster assignment before the prune phase); the literal path is
    // a near-free projection where materializing would only add I/O.
    val literal = useLiteralPath(df, vecCol, k, literalBudgetDoubles)
    val assignedRaw = semDedupAssignImpl(df, idCol, vecCol, k, literal)
    val assigned = if (literal) assignedRaw else assignedRaw.materialized()
    val pruned = assigned.as("a").join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          cosineFast(col("a.__v"), col("b.__v")) >= tau)
      .select(col(s"b.$idCol").as(idCol)).distinct()
    assigned.join(pruned.withColumn("__pruned", lit(1L)), Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        when(col("__pruned").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** [[semDedup]] with the within-cluster EXACT pair join replaced by
    * banded RP-LSH candidate generation — the hot-semantic-cluster
    * fallback docs/SCALE.md prescribes, now a first-class operator.
    * Bucket key = (cluster, band, bucket): a mega-cell (a corpus where
    * one semantic cluster holds millions of docs) never meets itself
    * all-pairs; each band's buckets split it independently, and the
    * O(Σ cell²) bound becomes O(Σ bucket²) per band. Candidates are
    * verified with the exact cosine, so precision is exact; only
    * recall rides the multi-band amplification
    * 1−(1−(1−θ/π)^planes)^bands, and identical vectors (the exact-
    * clone case) collide in EVERY band — recall 1 there. A missed
    * near-dup pair errs PRUNE-CONSERVATIVE: the doc survives where
    * exact [[semDedup]] would prune it — curation keeps data on LSH
    * misses, never drops extra. */
  def semDedupLsh(df: DataFrame, idCol: String, vecCol: String,
      k: Int = 8, tau: Double = 0.9, planes: Int = 10, bands: Int = 4,
      literalBudgetDoubles: Int = LiteralBudgetDoubles): DataFrame = {
    // the keyed self-join, both verify joins and the verdict join read
    // the assignment — same materialization decision as semDedup (see
    // there)
    val literal = useLiteralPath(df, vecCol, k, literalBudgetDoubles)
    val assignedRaw = semDedupAssignImpl(df, idCol, vecCol, k, literal)
    val assigned = if (literal) assignedRaw else assignedRaw.materialized()
    // the cluster stays in the key: pairs never meet across clusters
    val candidates = Dedup.bandedPairs(assigned, idCol,
      transform(rpLshKeys(col("__v"), planes, bands),
        _.withField("cluster", col("cluster"))))
    val pruned = candidates
      .join(assigned.select(col(idCol).as("id1"), col("__v").as("__v1")), Seq("id1"))
      .join(assigned.select(col(idCol).as("id2"), col("__v").as("__v2")), Seq("id2"))
      .filter(cosineFast(col("__v1"), col("__v2")) >= tau)
      .select(col("id2").as(idCol)).distinct()
    assigned.join(pruned.withColumn("__pruned", lit(1L)), Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        when(col("__pruned").isNull, 1L).otherwise(0L).as("kept"))
  }

  /** Embedding-cosine near-duplicate pairs (id1 < id2, cosine >= tau) —
    * the embedding analogue of fuzzy text dedup, with the SAME
    * multi-band OR-amplification shape as the MinHash path
    * ([[Dedup]] lshBands): `bands` independent seeded plane sets, one
    * self-join keyed by (band, bucket), distinct, then the exact cosine
    * verify.
    *
    * One band is a coin-flip at moderate similarity — P(collide) =
    * (1 − θ/π)^planes with no second chance — and a single hot bucket
    * (real embedding corpora cluster) makes the self-join quadratic
    * with no other key to split on. N bands drive recall to
    * 1 − (1−p^planes)^N while each band's buckets stay small and
    * differently partitioned, so no single bucket carries the whole
    * hot cluster across every band. */
  def cosineDupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      tau: Double, planes: Int = 10, bands: Int = 4): DataFrame = {
    val base = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), asDouble(col(vecCol)).as("__v"))
    Dedup.bandedPairs(base, idCol, rpLshKeys(col("__v"), planes, bands))
      .join(base.select(col(idCol).as("id1"), col("__v").as("__v1")), Seq("id1"))
      .join(base.select(col(idCol).as("id2"), col("__v").as("__v2")), Seq("id2"))
      .withColumn("cosine", cosineFast(col("__v1"), col("__v2")))
      .filter(col("cosine") >= tau)
      .select(col("id1"), col("id2"), col("cosine"))
  }
}
