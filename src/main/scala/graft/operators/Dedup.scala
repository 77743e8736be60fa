package graft.operators

import graft.core.GraftSession.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for large-scale training-data pipelines
  * (SURVEY.md §7.1 extension surface): exact, MinHash+LSH, SimHash,
  * and exact n-gram Jaccard verification.
  *
  * Scale design: everything is expression-level (codegen'd HOFs) per
  * row + ONE banded self-join for candidate generation — no driver-side
  * loops, no all-pairs comparison. The LSH band join shuffles on
  * (band, signature), so identical-text clusters land in one partition;
  * AQE skew-join splitting handles pathological hot buckets.
  */
object Dedup {

  // ---------------- exact ----------------

  /** Exact dedup groups: one row per distinct key, deterministic winner
    * (min id) + duplicate count. For "drop the dups" semantics use
    * winners-join or dropDuplicates (nondeterministic winner). */
  def exactGroups(df: DataFrame, dupCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(dupCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  // ---------------- shingling ----------------

  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Word n-gram shingles; a doc shorter than n yields its whole text as
    * one shingle. Guarded so `sequence` never sees a negative bound. */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
    .otherwise(array(array_join(toks, " ")))

  /** Exact Jaccard similarity of two shingle sets. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  // ---------------- MinHash + LSH ----------------

  /** Hash each shingle string ONCE to a long; all k permutations then
    * re-hash the longs, which is ~20× cheaper than re-hashing strings. */
  def shingleHashes(shingles: Column): Column = transform(shingles, s => xxhash64(s))

  /** k-permutation MinHash signature over pre-hashed shingles — native
    * codegen'd kernel (graft.plans.MinHashSig): one primitive k×m loop
    * per row. (A pure-HOF fold works but allocates two boxed k-arrays
    * per shingle step in the interpreted lambda evaluator — it was 60%
    * of the sf0.1 bench before this kernel.) */
  def minhashSig(shHashes: Column, k: Int): Column =
    graft.plans.TextExpressions.minhashSig(shHashes, k)

  /** Band the signature: bands × rowsPerBand = k. Output: array of
    * (band, bandSig) structs; docs agreeing on any band are candidates.
    *
    * Banding sets the LSH threshold t ≈ (1/bands)^(rowsPerBand⁻¹):
    * 16 bands × 8 rows -> t≈0.71 (≈95% recall at jaccard 0.8, ~1e-3
    * false-candidate rate for j≈0.3 pairs). 32×4 looks "safer" but its
    * t≈0.42 floods the verify join with candidates when the corpus
    * shares vocabulary — the verify stage, not the signature, is what
    * melts at scale. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), xxhash64(b, slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))).as("sig")))

  /** Candidate pairs (id1 < id2) of rows sharing at least one key —
    * the one candidate stage of the LSH family (MinHash bands, SimHash
    * block combos, [[Similarity]]'s RP-LSH bands). `keys` is an
    * array<struct> column over `df`; it is exploded once and the rows
    * self-join once on the whole key struct, so the plan is one shuffle
    * keyed by (band, key) however many bands there are. A pair sharing
    * several keys meets once per key; the distinct collapses them.
    * `keys` must read per-row work from columns of `df`, not recompute
    * it: an expression inside a `transform` lambda runs once per
    * element. */
  private[operators] def bandedPairs(df: DataFrame, idCol: String,
      keys: Column): DataFrame = {
    val keyed = df.select(col(idCol), explode(keys).as("__key"))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.__key") === col("b.__key") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
      .distinct()
  }

  /** Candidate pairs (id1 < id2) from MinHash LSH banding.
    * `hashCol` holds the doc's array<long> of shingle hashes. */
  def minhashCandidates(
      df: DataFrame, idCol: String, hashCol: String,
      numHashes: Int = 128, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    bandedPairs(df.withColumn("__sig", minhashSig(col(hashCol), numHashes)),
      idCol, lshBands(col("__sig"), bands, numHashes / bands))
  }

  /** Full fuzzy-dedup pipeline: LSH candidates -> exact Jaccard verify.
    *
    * The whole pipeline runs on the LONG shingle-hash sets, not the
    * shingle strings: signatures, the band join, AND the verify join
    * (Jaccard over hashed shingle sets equals Jaccard over the strings
    * up to 64-bit collisions). Strings are tokenized+hashed once and
    * never shuffled — at 100 TB the verify join moves ~2.4 KB/doc of
    * longs instead of the document's shingle text. */
  def fuzzyDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.8,
      numHashes: Int = 128, bands: Int = 16): DataFrame = {
    val shh = Relational.fanOut(df)
      .select(col(idCol),
        graft.plans.TextExpressions.shingleHash64(col(textCol), shingleN).as("shh"))
    val cands = minhashCandidates(shh, idCol, "shh", numHashes, bands)
    cands
      .join(shh.select(col(idCol).as("id1"), col("shh").as("sh1")), "id1")
      .join(shh.select(col(idCol).as("id2"), col("shh").as("sh2")), "id2")
      .withColumn("jaccard", jaccard(col("sh1"), col("sh2")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** EXACT all-pairs n-gram Jaccard >= threshold, via inverted index on
    * shingles (explode -> join on shingle -> count common -> Jaccard).
    * This is the oracle-matchable exact variant; use fuzzyDupPairs for
    * the approximate scale path. Pairs sharing no shingle are (correctly)
    * never generated.
    *
    * `maxDocFreq` is the scale guard: a shingle appearing in f docs
    * contributes O(f²) candidate pairs, so one stop-phrase shingle
    * ("of the and"-grade) makes the self-join quadratic in the corpus.
    * Capping drops shingles with document frequency > maxDocFreq from
    * the INDEX only (n_sh stays uncapped), which can only lower a
    * pair's computed overlap — results are exact whenever no shared
    * shingle of a qualifying pair exceeds the cap, and recall-
    * conservative otherwise. Default = no cap (the oracle contract). */
  def exactJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val sh = Relational.fanOut(df).select(col(idCol),
      wordShingles(tokens(col(textCol)), shingleN).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    val inv0 = sh.select(col(idCol), col("n_sh"), explode(col("sh")).as("s"))
    val inv =
      if (maxDocFreq == Int.MaxValue) inv0
      else {
        // hot-shingle list is tiny by construction (only >cap shingles)
        val hot = inv0.groupBy(col("s"))
          .agg(count(lit(1)).as("__df")).filter(col("__df") > maxDocFreq)
          .select(col("s"))
        inv0.join(broadcast(hot), Seq("s"), "left_anti")
      }
    val common = inv.as("a")
      .join(inv.as("b"), col("a.s") === col("b.s") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"),
        col("a.n_sh").as("n1"), col("b.n_sh").as("n2"))
      .agg(count(lit(1)).as("n_common"))
    common
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n1") + col("n2") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  // ---------------- exact-substring (verbatim-span) dedup ----------------

  /** The (id, pos, h) window-fingerprint stream behind
    * [[verbatimSpans]] — native kernel: tokens byte-hashed once,
    * windows chain-mixed, O(T) string work per doc (a slice+concat
    * formulation rebuilds every window string, O(T·minLen) —
    * measured 3.2× slower at minLen=8). */
  private def windowStream(df: DataFrame, idCol: String, textCol: String,
      minLen: Int): DataFrame =
    Relational.fanOut(df)
      .select(col(idCol),
        posexplode(graft.plans.TextExpressions.windowHash64(
          col(textCol), minLen)).as(Seq("__p", "h")))
      .select(col(idCol), (col("__p") + 1).as("pos"), col("h"))

  /** The audit surface for [[verbatimSpans]]' doc-frequency guard: the
    * window fingerprints it DROPPED (doc frequency > `maxDocFreq`),
    * with their frequencies, hottest first — vocabulary-sized output.
    * A license-header boilerplate corpus shows up here, not as a
    * silently missing span. */
  def verbatimHotWindows(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 20, maxDocFreq: Int = 50): DataFrame =
    windowStream(df, idCol, textCol, minLen)
      .groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("doc_freq"))
      .filter(col("doc_freq") > maxDocFreq)
      .orderBy(col("doc_freq").desc, col("h").asc)

  /** All maximal token-aligned verbatim overlaps of ≥ `minLen` tokens
    * between document pairs, as concrete SPANS
    * (id1, id2, a_start, b_start, len_tokens; 1-based token offsets) —
    * the Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better") exact-substring surface. Their suffix array is a
    * single-machine structure; this is the distributed reformulation:
    *
    * 1. every `minLen`-token window becomes one fingerprint row
    *    (id, pos, h) — a doc pair sharing a verbatim run of
    *    T ≥ minLen tokens shares ALL T−minLen+1 window fingerprints
    *    inside it, so window-equality has exact recall on token-aligned
    *    overlaps (no LSH, no probability);
    * 2. a doc-frequency guard drops windows seen in > `maxDocFreq`
    *    docs (boilerplate license headers would otherwise make one
    *    fingerprint's bucket quadratic — the same hot-key discipline as
    *    [[exactJaccardPairs]]); what got dropped is never silent:
    *    [[verbatimHotWindows]] returns the over-cap fingerprints with
    *    their doc frequencies so a caller can audit the guard or raise
    *    the cap;
    * 3. candidates meet ONLY inside equal-fingerprint buckets (never an
    *    all-pairs stage), and matched windows chain into maximal spans
    *    per (pair, diagonal) with the standard islands trick — the
    *    span shuffle is sized by TRUE matches, not by the corpus.
    *
    * Fingerprints come from the native window-hash kernel
    * ([[graft.plans.TextExpressions.windowHash64]]: tokens byte-hashed
    * once, windows chain-mixed — O(T) string work per doc; collision
    * odds ~(windows)²/2⁶⁴ — at 10⁹ windows that is ~0.03 expected
    * false window-matches corpus-wide, and a false SPAN also needs
    * diagonal adjacency). The hash never leaves the engine: the output
    * spans are hash-free positions+lengths, so a SQL oracle replays
    * them by joining the window STRINGS instead. */
  def verbatimSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 20, maxDocFreq: Int = 50): DataFrame =
    verbatimSpansImpl(df, idCol, textCol, minLen, maxDocFreq,
      materialize = true)

  /** `materialize = true` checkpoints the eligible-filtered window
    * stream once, pre-partitioned on the join key — the right shape
    * when the SPANS are the result (q146): the hash kernel runs over
    * the corpus once instead of once per self-join side, and the join
    * reuses the checkpoint's partitioning (r19, guide §2.4/§5).
    * `materialize = false` keeps the whole pipeline visible to the
    * optimizer — the right shape when a CONSUMER prunes it (q148's
    * aggregate-only reads collapse the span columns through the plan;
    * a checkpoint's opaque RDD blocks that pruning — measured 0.30 →
    * 0.86 s when checkpointed). */
  private def verbatimSpansImpl(df: DataFrame, idCol: String,
      textCol: String, minLen: Int, maxDocFreq: Int,
      materialize: Boolean): DataFrame = {
    require(minLen >= 2, s"minLen=$minLen")
    val w = windowStream(df, idCol, textCol, minLen)
    // doc-frequency guard: only fingerprints shared by 2..maxDocFreq
    // docs can seed candidate pairs (df<2 is noise, df>cap is the hot
    // tail); the guard list is per-fingerprint counts — vocabulary-
    // sized, one shuffle
    val eligible = w.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDocFreq)
      .select(col("h"))
    val wfRaw = w.join(eligible, Seq("h"))
    val wf =
      if (materialize) wfRaw.repartition(col("h")).localCheckpoint()
      else wfRaw
    val matches = wf.as("a")
      .join(wf.as("b"),
        col("a.h") === col("b.h") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .distinct() // two docs can repeat a gram internally; (pa,pb) is the unit
    // islands: consecutive matched windows share a diagonal (pa−pb)
    // and increment pa by 1; (pa − row_number) is constant per run
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id1"), col("id2"), col("diag")).orderBy(col("pa"))
    matches
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("__run", col("pa") - row_number().over(win))
      .groupBy(col("id1"), col("id2"), col("diag"), col("__run"))
      .agg(min(col("pa")).as("a_start"), min(col("pb")).as("b_start"),
        (count(lit(1)) + minLen - 1).as("len_tokens"))
      .select(col("id1"), col("id2"),
        col("a_start").cast("long").as("a_start"),
        col("b_start").cast("long").as("b_start"),
        col("len_tokens").cast("long").as("len_tokens"))
  }

  /** Exact-substring dedup COMPLETED — detect AND remove (the second
    * half of Lee et al. 2022: their pipeline cuts one copy of every
    * duplicated span from the corpus; [[verbatimSpans]] is the detect
    * half). Winner rule: for every verbatim overlap, the copy in the
    * LOWEST doc id survives (the [[exactGroups]] min-id discipline);
    * every span's id2-side occurrence is cut from that doc.
    *
    * Output: one row per input doc —
    * (id, n_tokens, tokens_removed, tokens_kept, text_clean), where
    * text_clean is the surviving tokens joined by single spaces
    * (tokenization lowercases and collapses whitespace, so text_clean
    * is canonical-form text, same normalization as [[tokens]]).
    *
    * Scale shape: spans → per-doc interval UNION via the islands trick
    * (running max-end over a per-doc window — work sized by SPAN count,
    * never token count), then ONE corpus-sized left join of docs
    * against their bounded cut lists; the rebuild is a per-row HOF
    * filter (token-sized per-row work, no shuffle). Overlapping spans
    * from different partners never double-count: the interval union is
    * computed before any token is touched. */
  def removeVerbatimSpans(df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 20, maxDocFreq: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize = false: this consumer aggregates the spans away, so
    // the optimizer must keep the whole pipeline visible to prune it
    // (see verbatimSpansImpl)
    val spans = verbatimSpansImpl(df, idCol, textCol, minLen, maxDocFreq,
      materialize = false)
    // the losing (id2-side) occurrence of every span, as [s, e] token
    // intervals (1-based, inclusive)
    val rm = spans.select(col("id2").as(idCol), col("b_start").as("s"),
      (col("b_start") + col("len_tokens") - 1).as("e"))
    // interval union per doc: overlap-or-adjacent runs merge into
    // islands keyed by the running count of new-island starts
    val w = Window.partitionBy(col(idCol)).orderBy(col("s"), col("e"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val cuts = rm
      .withColumn("__pmax", max(col("e")).over(wPrev))
      .withColumn("__new",
        when(col("__pmax").isNull || col("s") > col("__pmax") + 1, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(w))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("__cut"),
        sum(col("e") - col("s") + 1).as("__rm"))
    val emptyCut = array().cast("array<struct<s:bigint,e:bigint>>")
    df.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .join(cuts, Seq(idCol), "left")
      .withColumn("__cut", coalesce(col("__cut"), emptyCut))
      .select(col(idCol),
        size(col("__tk")).cast("long").as("n_tokens"),
        coalesce(col("__rm"), lit(0L)).as("tokens_removed"),
        (size(col("__tk")) - coalesce(col("__rm"), lit(0L))).cast("long").as("tokens_kept"),
        array_join(filter(col("__tk"), (t, i) =>
          !exists(col("__cut"), iv =>
            (i + 1) >= iv.getField("s") && (i + 1) <= iv.getField("e"))), " ")
          .as("text_clean"))
  }

  // ---------------- pair clustering / canonical winners ----------------

  /** Connected components over a dup-pair edge list (id1, id2) via
    * min-label propagation: every node's label converges to the smallest
    * id in its component. Iterative joins — the standard Spark CC shape
    * for the modest diameters dup-clusters have (usually 1-2; star
    * patterns converge in 2 rounds). `maxIter` bounds pathological
    * chains; labels are exact when the driver-checked convergence flag
    * holds. */
  def clusterPairs(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    // Eager materialize at every step: caching alone is NOT enough
    // for iterative dataflows — the LOGICAL plan keeps growing and
    // Catalyst canonicalization goes super-linear after a few rounds.
    // GraftSession.materialize truncates lineage (localCheckpoint by
    // default; reliable checkpoint when the context has a checkpoint
    // dir — see SCALE.md "Lineage truncation").
    val edges = pairs.select(col("id1"), col("id2"))
      .union(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
      .materialized()
    var labels = edges.select(col("id1").as("id"))
      .union(edges.select(col("id2").as("id"))).distinct()
      .withColumn("label", col("id"))
      .materialized()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "id2"), Seq("id2"))
        .select(col("id1").as("id"), col("label"))
      val next = labels.select(col("id"), col("label"))
        .union(viaNeighbor)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .materialized()
      val changed = next.join(labels.withColumnRenamed("label", "old"), Seq("id"))
        .filter(col("label") =!= col("old")).limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    labels // (id, label = min id of component)
  }

  /** End-to-end fuzzy dedup: fuzzy pairs -> clusters -> one row per
    * cluster member with its canonical keeper id. Docs with no dup
    * partner keep themselves. */
  def dedupAssignments(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame = {
    val pairs = fuzzyDupPairs(df, idCol, textCol, threshold = threshold)
    val clustered = clusterPairs(pairs)
    df.select(col(idCol))
      .join(clustered.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("label"), col(idCol)).as("keep_id"))
  }

  // ---------------- SimHash ----------------

  /** 64-bit SimHash fingerprints, one row per doc — native one-pass
    * kernel ([[graft.plans.SimHash64]]): the fingerprint is a pure
    * per-row expression, so fingerprinting needs NO shuffle at all.
    * Docs with zero tokens get fingerprint 0. */
  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Relational.fanOut(df).select(col(idCol),
      graft.plans.TextExpressions.simhash64(col(textCol)).as("fp"))

  /** Dataflow formulation (explode tokens → 64 bit-vote sum aggregates
    * in one groupBy): one shuffle of every token's votes. Kept for the
    * kernel equality spec. */
  def simhashFingerprintsAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = Relational.fanOut(df)
      .select(col(idCol), explode_outer(tokens(col(textCol))).as("__t"))
      .select(col(idCol), when(col("__t").isNotNull, xxhash64(col("__t"))).as("__h"))
    val voteExprs = (0 until 64).map { i =>
      sum(when(col("__h").isNull, lit(0L))
        .when(shiftright(col("__h"), i).bitwiseAND(lit(1L)) === 1L, lit(1L))
        .otherwise(lit(-1L))).as(s"__v$i")
    }
    val votes = tok.groupBy(col(idCol)).agg(voteExprs.head, voteExprs.tail: _*)
    val fp = (0 until 64).map { i =>
      when(col(s"__v$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    votes.select(col(idCol), fp.as("fp"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash block-LSH keys of one fingerprint: one (combo, ck) struct
    * per C(blocks, blocks − maxHamming) combination of blocks, `ck`
    * hashing the fingerprint's bits in those blocks. A constant-size
    * expression: the combos are one literal table walked by `transform`,
    * so the plan does not grow with the combo count (455 at blocks = 15). */
  private[graft] def simhashKeys(fp: Column, maxHamming: Int, blocks: Int): Column = {
    require(blocks > maxHamming, s"need blocks > maxHamming for pigeonhole")
    require(blocks <= 16, s"blocks=$blocks: keys would be too narrow to prune")
    // block i covers bits [i*w, (i+1)*w) (last block takes the remainder),
    // kept as an in-place mask: two fingerprints agree on block i iff
    // their masked bits are equal. Blocks that don't divide 64 can leave
    // trailing blocks empty (e.g. blocks=12 → w=6 → block 11 starts past
    // bit 63); mask 0 makes an empty block trivially agree for every
    // pair, which preserves the pigeonhole recall contract — a mask
    // built from a negative length would instead silently drop true
    // near-dup pairs.
    val w = (64 + blocks - 1) / blocks
    val masks = typedLit((0 until blocks).map { i =>
      val len = math.min(w, 64 - i * w)
      if (len <= 0) 0L
      else (if (len >= 64) -1L else (1L << len) - 1) << (i * w)
    })
    val combos = typedLit(
      (0 until blocks).combinations(blocks - maxHamming).map(_.toSeq).toSeq)
    transform(combos, (combo, ci) => struct(ci.as("combo"),
      xxhash64(transform(combo, i => fp.bitwiseAND(masks(i)))).as("ck")))
  }

  /** SimHash near-dup pairs: block LSH + exact hamming verify.
    *
    * The fingerprint's 64 bits are split into `blocks` segments; a pair
    * with hamming <= maxHamming must agree EXACTLY on at least
    * `blocks - maxHamming` of them (pigeonhole), so docs are keyed by
    * every C(blocks, blocks-maxHamming) combination of that many block
    * values (hashed to one 64-bit key) and only bucket-mates ever meet.
    * Recall is exact; false candidates are filtered by the hamming
    * verify.
    *
    * `blocks` is the SCALE knob (the Manku/Google near-dup detection
    * scheme): at the 4-block default each key carries 16 bits →
    * N/65536 docs per bucket, quadratic-in-bucket verify work — fine to
    * ~1M docs, a candidate explosion at 50M+ (763 docs/bucket → ~10^13
    * pairs). blocks=6 keys on 3-block (~32-bit) combinations: 20 keys
    * per doc instead of 4 (5× shuffle volume) but buckets stay O(1) at
    * 100M+ docs — shuffle scales linearly, verify stays proportional to
    * true near-dups. That trade is the point: more tables, empty
    * buckets. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3,
      blocks: Int = 4): DataFrame =
    simhashPairsFromFingerprints(
      simhashFingerprints(df, idCol, textCol), idCol, maxHamming, blocks)

  /** [[simhashPairs]] from an already-fingerprinted relation
    * (`idCol`, `fp: long`) — the entry point when fingerprints are
    * precomputed/persisted (the usual shape at corpus scale: fingerprint
    * once, pair-join per policy change). */
  def simhashPairsFromFingerprints(
      fp: DataFrame, idCol: String, maxHamming: Int = 3,
      blocks: Int = 4): DataFrame = {
    val fps = fp.select(col(idCol), col("fp"))
    bandedPairs(fps, idCol, simhashKeys(col("fp"), maxHamming, blocks))
      .join(fps.select(col(idCol).as("id1"), col("fp").as("fp1")), "id1")
      .join(fps.select(col(idCol).as("id2"), col("fp").as("fp2")), "id2")
      .select(col("id1"), col("id2"),
        hamming64(col("fp1"), col("fp2")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ---------------- incremental ingest ----------------

  /** Rows of `batch` whose fingerprint never appears in `corpus` — the
    * incremental-ingest shape: each new crawl/snapshot dedupes against
    * the accumulated corpus without re-deduping the corpus itself.
    *
    * The answer is an exact anti-join; the bloom prefilter only
    * reroutes rows. A row the filter proves unseen (bloom filters have
    * no false negatives) bypasses the shuffle entirely; only
    * might-contain rows — true hits plus the fpp tail — pay the
    * anti-join. At 100 TB the corpus dwarfs each batch, so cutting the
    * anti-join's probe side to ~|seen ∩ batch| is the difference
    * between shuffling the batch and shuffling almost nothing. The
    * sketch itself is built distributed (aggregate); only the compact
    * bitmap reaches the driver (sized by `expectedSeen`/`fpp`, the
    * standard production trade for billion-key filters).
    *
    * The fingerprint may be any type — it is hashed to 64 bits
    * internally for the native might_contain probe; false collisions
    * there are removed by the exact join, so the internal hash never
    * affects the answer.
    */
  def incrementalNew(batch: DataFrame, corpus: DataFrame, fpCol: String,
      expectedSeen: Long = 1000000L, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    val seen = corpus.select(col(fpCol))
    // first ingest: an empty corpus has no filter to build (Spark's
    // bloom aggregate yields null on zero rows) and nothing to drop
    if (seen.isEmpty) return batch
    val bf = seen.select(xxhash64(col(fpCol)).as("h"))
      .stat.bloomFilter("h", expectedSeen, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = column(BloomFilterMightContain(
      expression(lit(bytes)),
      expression(xxhash64(col(fpCol)))))
    val definiteNew = batch.filter(!mightContain)
    // alias-qualified condition: batch and corpus may share lineage
    // (e.g. both derived from one table), which would make a bare
    // column-equality condition ambiguous
    val suspects = batch.filter(mightContain).alias("__batch")
      .join(seen.alias("__seen"),
        col(s"__batch.`$fpCol`") === col(s"__seen.`$fpCol`"), "left_anti")
    definiteNew.unionByName(suspects)
  }

  // ---------------- passage-level (CCNet-style) dedup ----------------

  /** Corpus-wide passage dedup in the CCNet style (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): split every document into fixed-size token passages, elect
    * ONE global keeper per distinct passage text (minimum
    * (doc_id, passage_idx) — deterministic, arrival-order-free), drop
    * every other occurrence, and rebuild each document from its
    * surviving passages in order.
    *
    * This is the chunk-granularity complement to [[removeVerbatimSpans]]
    * (which removes arbitrary-offset verbatim runs): CCNet's passage rule
    * is cheaper — no self-join at all — and is what production web-crawl
    * curation runs FIRST, because boilerplate (headers, footers, cookie
    * banners) repeats at passage granularity millions of times.
    *
    * Output: one row per input doc —
    * (idCol, kept_text, n_kept, n_total), where n_total is the doc's
    * passage count and kept_text joins surviving passages with one
    * space ('' when nothing survives).
    *
    * Scale shape (100 TB): the passage stream is corpus-tokens/C rows;
    * keeper election is a groupBy(passage) MIN aggregate — map-side
    * combine means a boilerplate passage repeated 10^7 times
    * contributes ONE row per task to the shuffle, not 10^7 (this is
    * why election is an aggregate and NOT a row_number window, which
    * would move every occurrence of the hottest passage to a single
    * reducer before ranking). The keep test joins occurrences back to
    * the one-row-per-distinct-passage winner table on the same key, so
    * AQE reuses the exchange and splits any residual hot-key skew.
    * Grouping is by passage TEXT, not a 64-bit hash: a passage is at
    * most `chunkTokens` words (~60 bytes), so the shuffle payload is
    * comparable to a hash+verify scheme while keeping the result
    * provably collision-free (the differential oracle replays text
    * equality; a silent xxhash64 collision would be unverifiable).
    */
  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 10): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    val toks = tokens(col(textCol))
    val nChunks = ceil(size(toks).cast("double") / chunkTokens).cast("int")
    val passages = when(size(toks) > 0,
      transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(toks, i * chunkTokens + 1, lit(chunkTokens)), " ")))
      .otherwise(array().cast("array<string>"))
    val occ = df.select(col(idCol), posexplode_outer(passages).as(Seq("cidx", "passage")))
    val occNonEmpty = occ.filter(col("passage").isNotNull)
    // one row per distinct passage: the global keeper (min (doc, idx))
    val winners = occNonEmpty.groupBy(col("passage"))
      .agg(min(struct(col(idCol).as("d"), col("cidx").as("i"))).as("w"))
    val kept = occNonEmpty.join(winners, "passage")
      .filter(col("w.d") === col(idCol) && col("w.i") === col("cidx"))
      .groupBy(col(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("cidx"), col("passage")))),
          s => s("passage")), " ").as("kept_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol), coalesce(nChunks, lit(0)).cast("long").as("n_total"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("kept_text"), lit("")).as("kept_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("n_total"))
  }
}
