package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
    (3L, "completely different text about spark query engines and columnar execution"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today"),   // exact dup of 1
    (5L, "unrelated words entirely disjoint vocabulary nothing shared here at all")
  ).toDF("doc_id", "text")

  test("exactGroups keeps min id and counts dups") {
    val g = Dedup.exactGroups(docs, Seq("text"), "doc_id")
    val m = g.select($"keep_id", $"n_dups").as[(Long, Long)].collect().toMap
    assert(m(1L) == 2L) // docs 1 and 4
    assert(m.size == 4)
  }

  test("minhash LSH finds the near-dup pair and the exact pair, not unrelated") {
    val pairs = Dedup.fuzzyDupPairs(docs, "doc_id", "text", shingleN = 3, threshold = 0.5)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("minhash candidates are a superset-recall of exact jaccard pairs at high threshold") {
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text", shingleN = 3, threshold = 0.8)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val fuzzy = Dedup.fuzzyDupPairs(docs, "doc_id", "text", shingleN = 3, threshold = 0.8)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(fuzzy) || fuzzy.subsetOf(exact)) // tiny corpus: both find the same clusters
    assert(fuzzy.contains((1L, 4L)))
  }

  test("simhash: exact dups at hamming 0; unrelated text far apart") {
    val fp = Dedup.simhashFingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(4L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(5L)) > 10)
  }

  test("simhash 6-block scale path finds the identical pair set as 4-block") {
    // both are pigeonhole-EXACT for hamming<=3, so on any corpus they
    // must agree pair-for-pair; blocks=6 (20 combos of 3 blocks,
    // ~32-bit keys) is the shape whose buckets stay O(1) at 50M+ docs
    val corpus = tables.documents
    def pairs(blocks: Int) =
      Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3, blocks = blocks)
        .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(pairs(6) == pairs(4))
  }

  test("simhash block counts that don't divide 64 keep the pigeonhole contract") {
    // blocks=12,14,15 give the trailing block(s) a PAST-THE-END bit
    // range ((blocks-1)*ceil(64/blocks) >= 64); they must degrade to
    // empty blocks that trivially agree — a wrapped negative shift
    // would silently drop true near-dup pairs. Planted fingerprints:
    // each true pair differs in 3 bits lying in 3 different real
    // blocks at every block count, so it agrees on exactly
    // blocks - 3 blocks only when the empty blocks count as agreeing;
    // the decoys sit at hamming 4 and must fail the verify.
    val rnd = new scala.util.Random(64)
    def flip(fp: Long, bits: Int*) = bits.foldLeft(fp)((x, b) => x ^ (1L << b))
    val (a, b, c, d) = (rnd.nextLong(), rnd.nextLong(), rnd.nextLong(),
      rnd.nextLong())
    val fps = Seq(
      1L -> a, 2L -> flip(a, 10, 30, 50),
      3L -> b, 4L -> flip(b, 3, 27, 61),
      5L -> c, 6L -> flip(c, 7, 44, 58),
      7L -> d, 8L -> flip(d, 12, 33, 47, 62),   // hamming-4 decoy
      9L -> flip(a, 5, 15, 25, 35))             // hamming 4 from id 1
    val truth = (for ((i, x) <- fps; (j, y) <- fps
      if i < j && java.lang.Long.bitCount(x ^ y) <= 3) yield (i, j)).toSet
    assert(truth == Set((1L, 2L), (3L, 4L), (5L, 6L)), s"planted: $truth")
    val fp = fps.toDF("doc_id", "fp")
    for (blocks <- Seq(12, 14, 15)) {
      val got = Dedup.simhashPairsFromFingerprints(fp, "doc_id",
        maxHamming = 3, blocks = blocks)
        .select($"id1", $"id2").as[(Long, Long)].collect().toSet
      assert(got == truth, s"blocks=$blocks")
    }
  }

  test("LSH candidate stage: one keyed self-join, no per-band union") {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Union}
    // the candidate join is the one where exploded keys meet exploded
    // keys; the verify and verdict joins read one keyed side at most
    def keyed(p: LogicalPlan) = p.find(_.isInstanceOf[Generate]).isDefined
    val fp = Seq(1L -> 0L, 2L -> 7L, 3L -> -1L).toDF("doc_id", "fp")
    val emb = tables.embeddings
    val queries = emb.filter($"vec_id" % 250 === 0)
    val cases = Seq(4, 6, 15).map(b => s"simhash blocks=$b" ->
        Dedup.simhashPairsFromFingerprints(fp, "doc_id", maxHamming = 3, blocks = b)) ++
      Seq(
        "cosineDupPairs bands=6" -> Similarity.cosineDupPairs(emb, "vec_id",
          "embedding", tau = 0.9, planes = 8, bands = 6),
        "lshTopK bands=4" -> Similarity.lshTopK(emb, queries, "vec_id",
          "vec_id", "embedding", 5, planes = 6, bands = 4),
        "semDedupLsh bands=4" -> Similarity.semDedupLsh(emb, "vec_id",
          "embedding", k = 8, tau = 0.9, planes = 10, bands = 4))
    for ((name, df) <- cases) {
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collect { case u: Union => u }.isEmpty, s"$name: union in\n$plan")
      val candidateJoins = plan.collect {
        case j: Join if keyed(j.left) && keyed(j.right) => j
      }
      assert(candidateJoins.size == 1, s"$name: ${candidateJoins.size} keyed joins in\n$plan")
    }
  }

  test("native langId kernel equals the HOF argmax formulation on the corpus") {
    val diff = tables.documents
      .select(graft.operators.TextAnalysis.langId($"text").as("native"),
        graft.operators.TextAnalysis.langIdHof($"text").as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(diff == 0)
    // und on evidence-free text; tie broken alphabetically when planted
    val planted = Seq("xyzzy qwerty", "la la").toDF("text")
      .select(graft.operators.TextAnalysis.langId($"text")).as[String].collect().toSeq
    assert(planted == Seq("und", "es")) // "la" is es AND fr; es wins the tie
  }

  test("native ngramStats equals the HOF trigram formulation on the corpus") {
    val toks = graft.operators.Dedup.tokens($"text")
    val tri = when(size(toks) >= 3,
      transform(sequence(lit(0), size(toks) - lit(3)), i => concat_ws(" ",
        element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3))))
      .otherwise(array().cast("array<string>"))
    val diff = tables.documents
      .withColumn("__st", graft.plans.TextExpressions.ngramStats($"text", 3))
      .select(
        element_at($"__st", 1).as("n_native"), element_at($"__st", 2).as("u_native"),
        size(tri).cast("long").as("n_hof"),
        size(array_distinct(tri)).cast("long").as("u_hof"))
      .filter($"n_native" =!= $"n_hof" || $"u_native" =!= $"u_hof").count()
    assert(diff == 0)
  }

  test("contamination flags a doc quoting a benchmark passage; clean docs pass") {
    val bench = "the quick brown fox jumps over the lazy dog tonight"
    val docs = Seq(
      (1L, bench),                                            // benchmark itself
      (2L, s"prefix words here $bench and a suffix tail"),    // quotes 5-grams
      (3L, "completely unrelated text with no shared grams at all here"),
      (4L, "short doc")                                       // < 5 tokens: no 5-grams
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .contamination(docs, "doc_id", "text", isBenchmark = $"doc_id" === 1L, n = 5)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(2L))
    // the quote contains all 6 5-grams of the 10-token benchmark
    assert(got(2L) == 6L)
  }

  test("kernels split on ASCII \\s exactly: U+3000 text matches the HOF/regex side") {
    // U+3000 (ideographic space) is whitespace to Character.isWhitespace
    // but NOT to Java/RE2 \s — the kernels must treat it as a token char
    val docs = Seq((1L, "foo　bar baz"), (2L, "a b c")).toDF("doc_id", "text")
    val native = operators.Dedup.simhashFingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val agg = operators.Dedup.simhashFingerprintsAgg(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(native == agg)
    val lid = docs.select(operators.TextAnalysis.langId($"text").as("n"),
      operators.TextAnalysis.langIdHof($"text").as("h"))
      .filter($"n" =!= $"h").count()
    assert(lid == 0)
    val ng = docs.select(graft.plans.TextExpressions.ngramStats($"text", 2).as("st"),
        size(operators.Dedup.tokens($"text")).as("m"))
      .select(expr("st[0]").as("c"), $"m").as[(Long, Int)].collect()
    // n-gram count must agree with the REGEX token count: m - 1
    // ("foo　bar baz" is 2 regex tokens -> 1 2-gram; 3 Unicode-split
    // tokens -> 2 would expose the divergence)
    ng.foreach { case (c, m) => assert(c == m - 1, s"c=$c m=$m") }
  }

  test("NaN cosine (zero-norm vector) ranks first, like SQL DESC and the window path") {
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)),   // query
      (2L, Seq(0.9, 0.1)),
      (3L, Seq(0.0, 0.0)),   // zero norm -> cosine NaN
      (4L, Seq(0.5, 0.5))
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 1),
      "vec_id", "vec_id", "embedding", k = 2)
      .orderBy($"rn").select($"neighbor_id").as[Long].collect().toSeq
    assert(got.head == 3L, s"NaN-scored neighbor must rank first, got $got")
  }

  test("string ids fall back to the window top-k path (no silent long cast)") {
    val vecs = Seq(
      ("q1", Seq(1.0, 0.0)), ("d1", Seq(0.9, 0.1)), ("d2", Seq(0.0, 1.0))
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === "q1"),
      "vec_id", "vec_id", "embedding", k = 2)
      .orderBy($"rn").select($"neighbor_id").as[String].collect().toSeq
    assert(got == Seq("d1", "d2"))
  }

  test("native SimHash64 is bit-identical to the explode+vote-agg formulation") {
    val docs = tables.documents.select($"doc_id", $"text")
      .unionByName(Seq((90001L, ""), (90002L, "   ")).toDF("doc_id", "text")) // zero-token docs
    val native = operators.Dedup.simhashFingerprints(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val agg = operators.Dedup.simhashFingerprintsAgg(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(native == agg)
    assert(native(90001L) == 0L && native(90002L) == 0L)
  }

  test("native RP-LSH bucket is bit-identical to the HOF formulation") {
    val emb = tables.embeddings
    val diff = emb.select(
        Similarity.rpLshBucket($"embedding", 12).as("native"),
        Similarity.rpLshBucketHof($"embedding", 12).as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(diff == 0)
  }

  test("native cosine kernel is bit-identical to the HOF formulation") {
    val emb = tables.embeddings.limit(200)
    val a = emb.select($"vec_id".as("ida"), Similarity.asDouble($"embedding").as("va"))
    val b = emb.select($"vec_id".as("idb"), Similarity.asDouble($"embedding").as("vb"))
    val pairs = a.join(b, $"ida" < $"idb")
    val diff = pairs
      .select(Similarity.cosine($"va", $"vb").as("hof"),
        Similarity.cosineFast($"va", $"vb").as("native"))
      .filter($"hof" =!= $"native") // bitwise double comparison
      .count()
    assert(diff == 0)
  }

  test("clusterPairs: min-label connected components over edge list") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 23L))
      .toDF("id1", "id2")
    val labels = Dedup.clusterPairs(pairs).as[(Long, Long)].collect().toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(10L) == 10L && labels(11L) == 10L)
    assert(Seq(20L, 21L, 22L, 23L).forall(labels(_) == 20L))
  }

  test("dedupAssignments: every doc gets a keeper; singletons keep themselves") {
    val asg = Dedup.dedupAssignments(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(asg.size == 5)
    assert(asg(5L) == 5L)                 // unrelated doc keeps itself
    assert(asg(1L) == 1L && asg(4L) == 1L) // exact dups share keeper 1
  }

  test("planted near-duplicates: minhash recall >= 0.9 at threshold 0.8") {
    // 150 deterministic base docs from a 40-word vocabulary + 30 planted
    // near-dups (one token replaced) => 30 true pairs with jaccard ~0.9
    val vocab = (0 until 40).map(i => s"w$i")
    val rng = new scala.util.Random(7)
    val base = (0 until 150).map { i =>
      (i.toLong, (0 until 30).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val planted = (0 until 30).map { i =>
      val (srcId, text) = base(i * 5)
      val toks = text.split(" ")
      toks(rng.nextInt(toks.length)) = "zz" // one-token edit
      (1000L + srcId, toks.mkString(" "))
    }
    val corpus = (base ++ planted).toDF("doc_id", "text")
    val expected = (0 until 30).map(i => base(i * 5)._1).map(id => (id, 1000L + id)).toSet
    val found = Dedup.fuzzyDupPairs(corpus, "doc_id", "text", threshold = 0.75)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val recalled = expected.count(found.contains)
    assert(recalled >= 27, s"recall ${recalled}/30 too low; found=${found.size}")
  }

  test("cosine HOF matches a hand computation") {
    val df = Seq((Seq(1.0f, 2.0f, 2.0f), Seq(2.0f, 4.0f, 4.0f))).toDF("a", "b")
    val got = df.select(Similarity.cosine(
      Similarity.asDouble($"a"), Similarity.asDouble($"b"))).as[Double].head()
    assert(math.abs(got - 1.0) < 1e-12) // parallel vectors
  }

  test("brute-force top-k: every neighbor list has k rows, ranked by score") {
    val emb = tables.embeddings
    val res = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" % 250 === 0),
      "vec_id", "vec_id", "embedding", k = 3)
    val byQuery = res.select($"query_id", $"rn", $"score")
      .as[(Long, Long, Double)].collect().groupBy(_._1)
    assert(byQuery.nonEmpty)
    byQuery.values.foreach { rows =>
      assert(rows.length == 3)
      val sorted = rows.sortBy(_._2).map(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a >= b })
    }
  }

  test("LSH top-k recalls a reasonable fraction of brute-force neighbors") {
    val emb = tables.embeddings
    val q = emb.filter($"vec_id" % 250 === 0)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "vec_id", "embedding", 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, q, "vec_id", "vec_id", "embedding", 5, planes = 6)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    // approximate method: just require non-trivial overlap, not equality
    assert(lsh.intersect(brute).nonEmpty)
  }

  /** Deterministic pseudo-random unit-free vector: component (i, j)
    * from a hash, in [-1, 1]. */
  private def fakeVec(id: Long, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      val h = scala.util.hashing.MurmurHash3.productHash((id, j))
      (h.toDouble / Int.MaxValue.toDouble) % 1.0
    }

  private def perturb(v: Array[Double], id: Long, eps: Double): Array[Double] = {
    val noise = fakeVec(id + 1000000L, v.length)
    v.zip(noise).map { case (x, n) => x + eps * n }
  }

  test("planted embedding near-dups: multi-band recall >= 0.9, single band misses more") {
    val dim = 16
    val base = (0L until 200L).map(i => (i, fakeVec(i, dim).toSeq))
    // 30 planted near-dup partners of vectors 0..29, cosine ~0.95-0.98
    val planted = (0L until 30L).map { i =>
      (1000L + i, perturb(fakeVec(i, dim), i, eps = 0.18 + 0.004 * (i % 5)).toSeq)
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val expected = (0L until 30L).map(i => (i, 1000L + i)).toSet

    val multi = Similarity.cosineDupPairs(df, "vec_id", "embedding",
        tau = 0.9, planes = 8, bands = 6)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val recalled = expected.count(multi.contains)
    assert(recalled >= 27, s"multi-band recall $recalled/30 too low")

    // every returned pair really is >= tau (the exact verify stage)
    val verified = Similarity.cosineDupPairs(df, "vec_id", "embedding",
        tau = 0.9, planes = 8, bands = 6)
      .select($"cosine").as[Double].collect()
    assert(verified.forall(_ >= 0.9))

    // one band finds no MORE than the union of six (monotone OR-amplification)
    val single = Similarity.cosineDupPairs(df, "vec_id", "embedding",
        tau = 0.9, planes = 8, bands = 1)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(multi))
  }

  test("exactJaccardPairs maxDocFreq cap: identical under the cap, recall-conservative over it") {
    val uncapped = Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .select($"id1", $"id2", $"jaccard").collect().toSet
    // fixture shingles appear in <= 3 docs: a cap of 10 must change nothing
    val capped = Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.5,
        maxDocFreq = 10)
      .select($"id1", $"id2", $"jaccard").collect().toSet
    assert(capped == uncapped)
    // an aggressive cap only DROPS pairs (overlap can only shrink)
    val tight = Dedup.exactJaccardPairs(docs, "doc_id", "text", threshold = 0.5,
        maxDocFreq = 1)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(tight.subsetOf(uncapped.map(r => (r.getLong(0), r.getLong(1)))))
  }

  test("ivfTopK plan: no window, no count pass — assignment is a pure projection") {
    val emb = tables.embeddings
    val q = emb.filter($"vec_id" % 250 === 0)
    val df = Similarity.ivfTopK(emb, q, "vec_id", "vec_id", "embedding", 5,
      nCentroids = 8, nProbe = 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"cell assignment must not window:\n$plan")
    // the centroid table is inlined: no join against a centroid relation,
    // so the only joins are candidate-scoring (cell) and none broadcast a
    // corpus-sized side
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("incrementalNew equals the exact anti-join (bloom is routing only)") {
    val docs = tables.documents
    val corpus = docs.filter($"doc_id" % 2 === 0)
      .select(md5($"text").as("fp"))
    val batch = docs.select($"doc_id", md5($"text").as("fp"))
    val got = Dedup.incrementalNew(batch, corpus, "fp", expectedSeen = 10000L)
    val want = batch.alias("b").join(corpus.alias("c"),
      $"b.fp" === $"c.fp", "left_anti")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // planted guarantee: every even-id doc's own fingerprint is seen
    assert(got.join(docs.filter($"doc_id" % 2 === 0)
      .select($"doc_id"), Seq("doc_id")).count() == 0)
  }

  test("incrementalNew with a tiny aggressive bloom still exact (fpp stress)") {
    val docs = tables.documents
    val corpus = docs.filter($"doc_id" % 3 === 0).select(md5($"text").as("fp"))
    val batch = docs.select($"doc_id", md5($"text").as("fp"))
    // expectedSeen far below reality → high false-positive rate → most
    // rows take the anti-join path; the answer must not move
    val got = Dedup.incrementalNew(batch, corpus, "fp",
      expectedSeen = 10L, fpp = 0.5)
    val want = batch.alias("b").join(corpus.alias("c"),
      $"b.fp" === $"c.fp", "left_anti")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("normalizeUrl: fragment, utm params, and scheme/host case") {
    import graft.operators.TextAnalysis._
    val cases = Seq(
      ("HTTPS://WWW.Ex.COM/Path/X?utm_source=a&q=1&utm_medium=b#frag",
        "https://www.ex.com/Path/X?q=1"),
      ("http://ex.com/p?utm_campaign=c", "http://ex.com/p"),
      ("http://EX.com/p", "http://ex.com/p"),
      ("https://a.b.ex.com/", "https://a.b.ex.com/"),
      // back-to-back utm params must BOTH go (the pre-round-6 regex
      // consumed the separator and skipped the second one)
      ("http://ex.com/p?utm_a=1&utm_b=2&q=3", "http://ex.com/p?q=3"),
      // a param merely containing "utm_" mid-name is not a tracker
      ("http://ex.com/p?gutm_source=1&q=2", "http://ex.com/p?gutm_source=1&q=2"),
      // digits/underscores in the utm name are still trackers
      ("http://ex.com/p?utm_id_2=x&q=1", "http://ex.com/p?q=1"),
      ("http://ex.com/p?q=1&utm_a=2&utm_b=3", "http://ex.com/p?q=1"))
    val got = cases.toDF("url", "want")
      .select(normalizeUrl($"url").as("got"), $"want")
      .as[(String, String)].collect()
    got.foreach { case (g, w) => assert(g == w, s"got $g want $w") }
    val host = Seq("https://a.b.ex.com/x").toDF("u")
      .select(urlHost(normalizeUrl($"u"))).as[String].collect()(0)
    assert(host == "a.b.ex.com")
    val dom = Seq("a.b.ex.com").toDF("h")
      .select(registeredDomain($"h")).as[String].collect()(0)
    assert(dom == "ex.com")
  }

  test("repStats: hand-computed Gopher signals on genuine multi-line text") {
    // lines: "aa bb" ×2 (5 chars each), "cc" ×1 (2) -> 3 lines, 2
    // distinct; dup chars = 2*5 = 10 of total 12
    // tokens: aa bb aa bb cc -> 2-grams: "aa bb"×2, "bb aa", "bb cc"
    //   -> 4 grams, 3 distinct, max count 2, max c*len = 2*5 = 10
    val text = "aa bb\naa bb\ncc"
    val rs = Seq(text).toDF("t")
      .select(graft.plans.TextExpressions.repStats($"t", 2).as("rs"))
      .as[Seq[Long]].head()
    assert(rs == Seq(4L, 3L, 2L, 10L, 3L, 2L, 10L, 12L))
    // empty and single-token degenerate cases: all zeros except lines
    val rs1 = Seq("solo").toDF("t")
      .select(graft.plans.TextExpressions.repStats($"t", 2).as("rs"))
      .as[Seq[Long]].head()
    assert(rs1 == Seq(0L, 0L, 0L, 0L, 1L, 1L, 0L, 4L))
    // uppercase folds: "AA\naa" is a duplicate line pair post-lowercase
    val rs2 = Seq("AA\naa").toDF("t")
      .select(graft.plans.TextExpressions.repStats($"t", 2).as("rs"))
      .as[Seq[Long]].head()
    assert(rs2(4) == 2L && rs2(5) == 1L && rs2(6) == 4L)
  }

  test("repStats edges: tabs/CR split tokens, unicode lengths are UTF-16 units, null-safe") {
    // \t and \r are token separators like the TokKernel contract;
    // lines split ONLY on \n (a \r\n line keeps a trailing token-less
    // \r that the tokenizer strips but the line string retains)
    val rs = Seq("a\tb\r\na\tb").toDF("t")
      .select(graft.plans.TextExpressions.repStats($"t", 2).as("rs"))
      .as[Seq[Long]].head()
    assert(rs(0) == 3L) // tokens a b a b -> 3 bigrams ("a b","b a","a b")
    assert(rs(1) == 2L)
    assert(rs(4) == 2L) // two \n-lines
    // BMP unicode: char counts are UTF-16 units == codepoints here
    val rs2 = Seq("héllo wörld\nhéllo wörld").toDF("t")
      .select(graft.plans.TextExpressions.repStats($"t", 2).as("rs"))
      .as[Seq[Long]].head()
    assert(rs2(5) == 1L && rs2(7) == 22L) // dup line, 11 chars each
    // null text -> null stats (expression is null-safe)
    val n = Seq((1, null: String)).toDF("i", "t")
      .select(graft.plans.TextExpressions.repStats($"t", 2).as("rs"))
      .filter($"rs".isNull).count()
    assert(n == 1L)
  }

  test("repetitionFeatures fractions agree with raw repStats") {
    val f = graft.operators.TextAnalysis.repetitionFeatures($"t", 2)
    val row = Seq("aa bb\naa bb\ncc").toDF("t").select(f.as("f"))
      .select($"f.dup_ngram_frac", $"f.top_ngram_count", $"f.dup_line_frac",
        $"f.dup_line_char_frac")
      .as[(Double, Long, Double, Double)].head()
    assert(row == ((1.0 / 4.0, 2L, 1.0 / 3.0, 10.0 / 12.0)))
  }

  test("crossDocRepeats: shared 5-grams counted per doc, short docs zeroed") {
    val d = Seq(
      (1L, "a b c d e f"),     // 5-grams: "a b c d e", "b c d e f"
      (2L, "a b c d e x"),     // shares "a b c d e" with doc 1
      (3L, "p q r s t u"),     // no sharing
      (4L, "too short")        // <5 tokens: zero grams
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.crossDocRepeats(d, "doc_id", "text", n = 5)
      .select($"doc_id", $"n_grams", $"n_shared", $"shared_ppm")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2L, 1L, 500000L)))
    assert(out(2L) == ((2L, 1L, 500000L)))
    assert(out(3L) == ((2L, 0L, 0L)))
    assert(out(4L) == ((0L, 0L, 0L)))
  }

  test("quantizeInt8: codes bounded, round-trip error <= range/255, constant vectors zero") {
    val vecs = Seq(
      (1L, Array(-0.5f, 0.25f, 0.75f, 0.0f)),
      (2L, Array(3.0f, 3.0f, 3.0f, 3.0f)), // constant: mx == mn
      (3L, Array(1e-6f, -1e-6f, 0.0f, 5e-7f))
    ).toDF("vec_id", "embedding")
    val out = vecs
      .withColumn("q", Similarity.quantizeInt8($"embedding"))
      .select($"vec_id", $"embedding".cast("array<double>").as("v"),
        $"q.codes".as("codes"), Similarity.dequantizeInt8($"q").as("vhat"),
        ($"q.mx" - $"q.mn").as("range"))
      .as[(Long, Seq[Double], Seq[Int], Seq[Double], Double)].collect()
    out.foreach { case (id, v, codes, vhat, range) =>
      assert(codes.forall(c => c >= 0 && c <= 255), s"id=$id codes=$codes")
      v.zip(vhat).foreach { case (x, xh) =>
        assert(math.abs(x - xh) <= range / 255.0 + 1e-12, s"id=$id $x vs $xh")
      }
      if (id == 2L) assert(codes.forall(_ == 0) && vhat.forall(_ == 3.0))
    }
  }

  test("hashClassifierScore: integer-exact, bounded, and linear in token multiset") {
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha alpha alpha"), // w_sum must be 3 x the single-token weight
      (3L, "alpha"),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id",
        graft.operators.TextAnalysis.hashClassifierScore($"text").as("q"))
      .select($"doc_id", $"q.n_tokens", $"q.w_sum", $"q.score_ppm")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(4L) == ((0L, 0L, 0L)))
    assert(out(2L)._2 == 3L * out(3L)._2, "weights are a pure function of the token")
    out.values.foreach { case (n, ws, ppm) =>
      assert(ppm >= 0L && ppm <= 1000000L)
      assert(ws >= 0L && ws <= n * 996L)
      if (n > 0) assert(ppm == ws * 1000000L / (n * 996L))
    }
  }

  test("semDedup: planted clones pruned, sources and singletons kept, clusters consistent") {
    // one-hot vectors: every cross-pair cosine is EXACTLY 0, so the
    // only >=tau pairs are the planted identical clones — no natural
    // near-dup can sneak into the expected counts
    val base = (0L until 60L).map { i =>
      (i, Array.tabulate(60)(d => if (d == i) 1f else 0f))
    }.toDF("vec_id", "embedding")
    val clones = base.filter($"vec_id" % 20 === 0)
      .withColumn("vec_id", $"vec_id" + 1000L)
    val out = Similarity.semDedup(base.unionAll(clones), "vec_id", "embedding",
      k = 4, tau = 0.9)
    val rows = out.select($"vec_id", $"cluster", $"kept")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows.length == 63)
    val byId = rows.map(r => r._1 -> r).toMap
    // every clone pruned, in the same cluster as its source; source kept
    Seq(0L, 20L, 40L).foreach { src =>
      assert(byId(src + 1000L)._3 == 0L, s"clone of $src must be pruned")
      assert(byId(src + 1000L)._2 == byId(src)._2, s"clone of $src shares its cluster")
      assert(byId(src)._3 == 1L, s"source $src must be kept")
    }
    // nothing else pruned at tau=0.9 on this spread-out synthetic set
    assert(rows.count(_._3 == 0L) == 3)
    // partition invariance: same verdicts at a different partition count
    val out2 = Similarity.semDedup(
      base.unionAll(clones).repartition(7), "vec_id", "embedding", k = 4, tau = 0.9)
    assert(out2.select($"vec_id", $"cluster", $"kept").as[(Long, Long, Long)]
      .collect().toSet == rows.toSet)
  }

  test("verbatimSpans: planted overlaps recovered as exact spans; brute-force parity") {
    // doc 1 and doc 2 share a verbatim 12-token run at different
    // offsets; doc 3 shares a distinct 8-token run with doc 1; doc 4 is
    // disjoint; doc 5 repeats doc 1's run AND its own internal text
    val run12 = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val run8 = (1 to 8).map(i => s"beta$i").mkString(" ")
    val docs = Seq(
      (1L, s"intro one two $run12 tail x $run8"),
      (2L, s"$run12 completely other words here"),
      (3L, s"lead in words $run8 closing remarks"),
      (4L, "nothing shared with anybody at all in this entire document body"),
      (5L, s"prefix $run12 suffix")
    ).toDF("doc_id", "text")
    val spans = Dedup.verbatimSpans(docs, "doc_id", "text", minLen = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // doc1 tokens: intro(1) one(2) two(3) alpha1..12(4..15) tail(16) x(17) beta1..8(18..25)
    assert(spans.contains((1L, 2L, 4L, 1L, 12L)), spans.toString)   // 12-token run
    assert(spans.contains((1L, 3L, 18L, 4L, 8L)), spans.toString)   // 8-token run
    assert(spans.contains((1L, 5L, 4L, 2L, 12L)), spans.toString)
    assert(spans.contains((2L, 5L, 1L, 2L, 12L)), spans.toString)
    assert(!spans.exists(s => s._1 == 4L || s._2 == 4L), "disjoint doc must not pair")
    // every reported span IS a verbatim overlap (precision check
    // against the raw token arrays — the brute-force ground truth)
    val tok = docs.select($"doc_id", Dedup.tokens($"text").as("tk"))
      .as[(Long, Seq[String])].collect().toMap
    spans.foreach { case (id1, id2, a, b, len) =>
      assert(tok(id1).slice(a.toInt - 1, a.toInt - 1 + len.toInt) ==
        tok(id2).slice(b.toInt - 1, b.toInt - 1 + len.toInt), s"span $id1/$id2")
    }
    // maximality: spans on the same diagonal don't touch or overlap
    spans.groupBy(s => (s._1, s._2, s._3 - s._4)).values.foreach { g =>
      val sorted = g.toSeq.sortBy(_._3)
      sorted.sliding(2).foreach {
        case Seq(x, y) => assert(y._3 > x._3 + x._5, s"mergeable spans $x $y")
        case _ =>
      }
    }
  }

  test("removeVerbatimSpans: min-id keeps its copy; interval union; clean rebuild") {
    val run12 = (1 to 12).map(i => s"alpha$i").mkString(" ")
    val run8 = (1 to 8).map(i => s"beta$i").mkString(" ")
    val docs = Seq(
      (1L, s"intro one two $run12 tail x $run8"),
      (2L, s"$run12 completely other words here"),
      (3L, s"lead in words $run8 closing remarks"),
      (4L, "nothing shared with anybody at all in this entire document body"),
      (5L, s"prefix $run12 suffix")
    ).toDF("doc_id", "text")
    val out = Dedup.removeVerbatimSpans(docs, "doc_id", "text", minLen = 8)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size == 5, "one row per input doc")
    // doc 1 is the min id of every pair it joins: loses nothing
    assert(out(1L)._3 == 0L && out(1L)._5.startsWith("intro one two alpha1"))
    // doc 2 loses run12 at positions 1..12
    assert(out(2L) == ((2L, 16L, 12L, 4L, "completely other words here")))
    // doc 3 loses run8 at positions 4..11
    assert(out(3L) == ((3L, 13L, 8L, 5L, "lead in words closing remarks")))
    // doc 4 untouched
    assert(out(4L)._3 == 0L && out(4L)._4 == 11L)
    // doc 5 loses run12 (union of the (1,5) and (2,5) cuts — same interval)
    assert(out(5L) == ((5L, 14L, 12L, 2L, "prefix suffix")))
    // conservation: kept + removed == total; clean text has kept tokens
    out.values.foreach { r =>
      assert(r._3 + r._4 == r._2, r.toString)
      val n = if (r._5.isEmpty) 0 else r._5.split(" ").length
      assert(n == r._4, s"clean-token count: $r")
    }
    // partition invariance
    val out2 = Dedup.removeVerbatimSpans(docs.repartition(7), "doc_id", "text", minLen = 8)
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out2 == out)
  }

  test("removeVerbatimSpans merges OVERLAPPING cuts from different partners") {
    // doc 10 holds c1..c10; doc 8 = c1..c8 and doc 9 = c3..c10 each cut
    // an 8-token span from doc 10 — the [1,8] and [3,10] intervals
    // overlap and must union to [1,10], never double-count to 16
    val c = (1 to 10).map(i => s"c$i")
    val docs = Seq(
      (8L, c.take(8).mkString(" ")),
      (9L, c.drop(2).mkString(" ")),
      (10L, c.mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.removeVerbatimSpans(docs, "doc_id", "text", minLen = 8)
      .as[(Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(10L)._3 == 10L, s"overlap must union: ${out(10L)}")
    assert(out(10L)._4 == 0L && out(10L)._5 == "", "fully-cut doc -> empty clean text")
    assert(out(8L)._3 == 0L && out(9L)._3 == 0L, "min ids keep their copies")
  }

  test("chunkDedup: global keep-first at passage granularity; chunk alignment; empties") {
    val p1 = (1 to 10).map(i => s"w$i").mkString(" ")
    val p2 = (1 to 10).map(i => s"x$i").mkString(" ")
    val p3 = (1 to 10).map(i => s"y$i").mkString(" ")
    val p9 = (1 to 10).map(i => s"z$i").mkString(" ")
    val docs = Seq(
      (1L, s"$p1 $p2"),          // both kept (global first occurrences)
      (2L, s"$p3 $p1"),          // p1 lost to doc 1 idx 0; p3 kept
      (3L, s"$p1 $p1"),          // both occurrences lose -> empty
      (4L, "short doc"),         // sub-chunk doc = one passage
      (5L, ""),                  // no tokens -> zero passages
      (6L, s"$p9 $p9 tail1 tail2") // within-doc dup: first kept, second dropped
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(docs, "doc_id", "text", chunkTokens = 10)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 6, "one row per input doc, empties included")
    assert(out(1L) == ((1L, s"$p1 $p2", 2L, 2L)))
    assert(out(2L) == ((2L, p3, 1L, 2L)))
    assert(out(3L) == ((3L, "", 0L, 2L)))
    assert(out(4L) == ((4L, "short doc", 1L, 1L)))
    assert(out(5L) == ((5L, "", 0L, 0L)))
    // doc 6 tokenizes to 22 tokens -> passages [z1..z10][z1..z10][tail1 tail2];
    // the second z-passage loses to the first WITHIN the same doc
    assert(out(6L) == ((6L, s"$p9 tail1 tail2", 2L, 3L)))
    // partition invariance: keeper election is min-(doc,idx), not arrival order
    val out2 = Dedup.chunkDedup(docs.repartition(7), "doc_id", "text", chunkTokens = 10)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out2 == out)
  }

  test("chunkDedup: conservation and idempotence on the real corpus") {
    val docs = tables.documents
    val out = Dedup.chunkDedup(docs, "doc_id", "text", chunkTokens = 10).cache()
    assert(out.count() == docs.count(), "row-preserving")
    // kept <= total everywhere; at least one doc actually loses a passage
    assert(out.filter($"n_kept" > $"n_total").isEmpty)
    assert(out.filter($"n_kept" < $"n_total").count() > 0, "dedup must bite on the corpus")
    // surviving passages are globally unique -> a second pass removes nothing
    val again = Dedup.chunkDedup(
      out.select($"doc_id", $"kept_text".as("text")), "doc_id", "text", chunkTokens = 10)
    // NOTE idempotence is on passage CONTENT: re-chunking a shortened doc can
    // re-align chunk boundaries, so compare total kept tokens, which must not grow
    val t1 = out.select(sum(size(Dedup.tokens($"kept_text")))).as[Long].head()
    val t2 = again.select(sum(size(Dedup.tokens($"kept_text")))).as[Long].head()
    assert(t2 <= t1, s"second pass must not add tokens ($t1 -> $t2)")
    out.unpersist()
  }

  test("bpeEncode: merge laws, rank precedence, trainer-segmentation parity") {
    import graft.operators.TextAnalysis
    def enc(text: String, merges: Seq[(String, String)]): Seq[String] =
      Seq(Tuple1(text)).toDF("t")
        .select(graft.plans.TextExpressions.bpeEncode($"t", merges).as("e"))
        .as[Seq[String]].head()
    // mergeAdjacent law: left-to-right non-overlapping
    assert(enc("aaaa", Seq(("a", "a"))) == Seq("aa", "aa"))
    assert(enc("aaaa", Seq(("a", "a"), ("aa", "aa"))) == Seq("aaaa"))
    assert(enc("aaa", Seq(("a", "a"))) == Seq("aa", "a"))
    // rank precedence: the LOWEST-ranked pair merges first
    assert(enc("abc", Seq(("a", "b"), ("b", "c"))) == Seq("ab", "c"))
    assert(enc("abc", Seq(("b", "c"), ("a", "b"))) == Seq("a", "bc"))
    // multiple words, lowercasing, whitespace runs
    assert(enc("AB  ab\tab", Seq(("a", "b"))) == Seq("ab", "ab", "ab"))
    assert(enc("", Seq(("a", "b"))) == Seq.empty)
    // parity with the TRAINER's segmentation: encoding any corpus word
    // under the trained merge list must reproduce the final training
    // vocab's symbols (greedy-by-rank == sequential merge application —
    // the classic BPE apply/train equivalence, here cross-checked
    // against the independent Spark-HOF trainer dataflow)
    val docs = tables.documents
    val (merges, finalVocab) = TextAnalysis.bpeTrain(docs, "text", nMerges = 12)
    val trained = finalVocab.select($"syms").as[Seq[String]].collect()
      .map(s => s.mkString("") -> s).toMap
    val words = docs.select(explode(Dedup.tokens($"text")).as("w")).distinct()
    val encoded = words
      .select($"w", TextAnalysis.bpeEncode($"w", merges).as("e"))
      .as[(String, Seq[String])].collect()
    assert(encoded.nonEmpty)
    encoded.foreach { case (w, e) =>
      assert(e == trained(w), s"word '$w': encode=$e trained=${trained(w)}")
    }
  }

  test("mergeAdjacent: left-to-right non-overlapping merge semantics") {
    val df = Seq(
      Seq("a", "a", "a", "a"), Seq("a", "a", "a"),
      Seq("a", "b", "a", "b"), Seq("x", "a", "b", "y"), Seq("b", "a")
    ).toDF("syms")
    val out = df.select(
      graft.operators.TextAnalysis.mergeAdjacent($"syms", "a", "a").as("aa"),
      graft.operators.TextAnalysis.mergeAdjacent($"syms", "a", "b").as("ab"))
      .as[(Seq[String], Seq[String])].collect()
    assert(out(0)._1 == Seq("aa", "aa"))       // aaaa -> aa aa
    assert(out(1)._1 == Seq("aa", "a"))        // aaa  -> aa a
    assert(out(2)._2 == Seq("ab", "ab"))       // abab -> ab ab
    assert(out(3)._2 == Seq("x", "ab", "y"))
    assert(out(4)._2 == Seq("b", "a"))         // (b,a) is not (a,b)
  }

  test("bpeTrain merge sequence equals a single-node reference trainer") {
    import graft.operators.TextAnalysis
    val docs = tables.documents
    // --- reference: plain Scala BPE with the same (count desc, (l, r)
    //     lexicographic) tie rule and >=2 count floor ---
    val corpusToks = docs.select(explode(Dedup.tokens($"text")).as("t"))
      .as[String].collect()
    var vocab: Vector[(Vector[String], Long)] = corpusToks
      .groupBy(identity).view.mapValues(_.length.toLong).toVector
      .map { case (t, f) => (t.map(_.toString).toVector, f) }
    def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toVector
    }
    val nMerges = 12
    val ref = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var stop = false
    for (_ <- 0 until nMerges if !stop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      val eligible = counts.filter(_._2 >= 2)
      if (eligible.isEmpty) stop = true
      else {
        val best = eligible.minBy { case ((a, b), c) => (-c, a, b) }
        ref += ((best._1._1, best._1._2, best._2))
        vocab = vocab.map { case (s, f) => (applyMerge(s, best._1._1, best._1._2), f) }
      }
    }
    // --- engine ---
    val (merges, finalVocab) = TextAnalysis.bpeTrain(docs, "text", nMerges)
    assert(merges.map(m => (m.left, m.right, m.count)) == ref.toSeq,
      s"engine=$merges ref=$ref")
    // per-iteration inputs are the checkpointed VOCAB, never the corpus
    val tree = finalVocab.queryExecution.executedPlan.toString
    assert(tree.contains("ExistingRDD"), tree.take(1000))
    assert(!tree.contains("BatchScan") && !tree.contains("FileScan"),
      s"iteration must not rescan the corpus:\n${tree.take(1000)}")
    // final vocab rows still carry every distinct token's frequency
    assert(finalVocab.agg(sum($"freq")).as[Long].head() == corpusToks.length)
    // the incremental trainer (zero per-merge jobs) must agree with
    // BOTH, merges and final vocab, at minFreq = 1
    val (mInc, vInc, receipt) =
      TextAnalysis.bpeTrainIncremental(docs, "text", nMerges)
    assert(mInc.map(m => (m.left, m.right, m.count)) == ref.toSeq,
      s"incremental=$mInc ref=$ref")
    assert(receipt.droppedTypes == 0L && receipt.droppedMass == 0L)
    val a = finalVocab.select($"syms", $"freq").as[(Seq[String], Long)]
      .collect().sortBy(_.toString).toSeq
    val b = vInc.select($"syms", $"freq").as[(Seq[String], Long)]
      .collect().sortBy(_.toString).toSeq
    assert(a == b, "incremental trainer's final vocab diverged")
  }

  test("BPE non-BMP parity: surrogate pairs stay whole; ties break by code point") {
    import graft.operators.TextAnalysis
    // 😀 (U+1F600, a surrogate PAIR in UTF-16) vs ﬃ (U+FB03, a BMP
    // char whose UTF-16 unit 0xFB03 sorts ABOVE the surrogate range):
    // a count tie between pairs led by these two symbols separates
    // UTF-16 String.compareTo ordering (😀 first) from the
    // code-point/UTF-8-binary ordering Spark's orderBy uses (ﬃ
    // first). The incremental trainer must match the per-job one.
    val docs = Seq("😀a 😀a ﬃb ﬃb").toDF("text")
    val (mJob, _) = TextAnalysis.bpeTrain(docs, "text", nMerges = 2)
    val (mInc, _, _) = TextAnalysis.bpeTrainIncremental(docs, "text", nMerges = 2)
    assert(mJob.map(m => (m.left, m.right, m.count)) ==
      mInc.map(m => (m.left, m.right, m.count)),
      s"non-BMP divergence: job=$mJob inc=$mInc")
    assert(mJob.head.left == "ﬃ",
      s"the tie must break by code-point order, got ${mJob.head}")
    // the emoji is ONE symbol (never a halved surrogate) and merges
    assert(mJob.map(m => (m.left, m.right)).contains(("😀", "a")))
    // encode agrees: the trained merge applies and round-trips
    val enc = docs.sparkSession.range(1)
      .select(TextAnalysis.bpeEncode(lit("😀a"), mInc).as("syms"))
      .select(concat_ws("", $"syms").as("w"), size($"syms").as("n"))
      .as[(String, Int)].head()
    assert(enc == ("😀a", 1),
      s"encode must apply the non-BMP merge losslessly, got $enc")
  }

  test("byte-level BPE: 256-symbol alphabet, non-ASCII losslessness, mode persists") {
    import graft.operators.TextAnalysis
    // é is 2 UTF-8 bytes, 😀 is 4: byte mode must keep every symbol in
    // 0..255 and still round-trip the original text exactly
    val docs = Seq("éé éé 😀x 😀x aa aa").toDF("text")
    val (m, _, _) = TextAnalysis.bpeTrainIncremental(docs, "text",
      nMerges = 6, byteLevel = true)
    assert(m.nonEmpty)
    assert(m.forall(x => (x.left + x.right).forall(_ <= 0xFF.toChar)),
      s"byte-mode symbols escaped the byte alphabet: $m")
    val bad = docs
      .select(explode(TextAnalysis.tokens($"text")).as("w")).distinct()
      .filter(TextAnalysis.bpeDecodeBytes(
        TextAnalysis.bpeEncode($"w", m, byteLevel = true)) =!= $"w")
      .count()
    assert(bad == 0L, "byte-mode encode must round-trip non-ASCII losslessly")
    // per-job trainer parity in byte mode
    val (mJob, _) = TextAnalysis.bpeTrain(docs, "text", nMerges = 6,
      byteLevel = true)
    assert(mJob.map(x => (x.left, x.right, x.count)) ==
      m.map(x => (x.left, x.right, x.count)))
    // the saved model carries its alphabet mode
    val tmp = java.nio.file.Files.createTempDirectory("bpe-byte").toString
    TextAnalysis.saveBpe(spark, s"$tmp/m", m, byteLevel = true)
    assert(TextAnalysis.loadBpeWithMode(spark, s"$tmp/m") == ((m, true)))
    TextAnalysis.saveBpe(spark, s"$tmp/c", m)
    assert(TextAnalysis.loadBpeWithMode(spark, s"$tmp/c")._2 == false)
  }

  test("saveBpe/loadBpe: ranked round trip; rank gaps refuse to encode") {
    import graft.operators.TextAnalysis
    val docs = Seq("aa bb aa bb aa", "aa bb cc aa").toDF("text")
    val (m, _, _) = TextAnalysis.bpeTrainIncremental(docs, "text", nMerges = 4)
    assert(m.nonEmpty)
    val tmp = java.nio.file.Files.createTempDirectory("bpe-save").toString
    TextAnalysis.saveBpe(spark, s"$tmp/m", m)
    assert(TextAnalysis.loadBpe(spark, s"$tmp/m") == m)
    // a torn table (missing rank) is a DIFFERENT tokenizer — refuse
    spark.read.parquet(s"$tmp/m").filter($"rank" =!= 0)
      .write.parquet(s"$tmp/torn")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.loadBpe(spark, s"$tmp/torn")
    }
    assert(e.getMessage.contains("contiguous"))
  }

  test("bpeTrainIncremental: minFreq prune is receipted; maxWordTypes refuses") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      "aa bb aa bb cc", "aa bb dd", "rare1 rare2 aa"
    ).toDF("text")
    val (_, _, r) = TextAnalysis.bpeTrainIncremental(docs, "text",
      nMerges = 4, minFreq = 2L)
    // dropped: cc, dd, rare1, rare2 (freq 1 each)
    assert(r.droppedTypes == 4L && r.droppedMass == 4L && r.retainedTypes == 2L)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bpeTrainIncremental(docs, "text", nMerges = 1,
        maxWordTypes = 3)
    }
    assert(e.getMessage.contains("word types"))
  }

  private def oneHot63 = {
    val base = (0L until 60L).map { i =>
      (i, Array.tabulate(60)(d => if (d == i) 1f else 0f))
    }.toDF("vec_id", "embedding")
    base.unionAll(base.filter($"vec_id" % 20 === 0)
      .withColumn("vec_id", $"vec_id" + 1000L))
  }

  test("semDedup broadcast-centroid path equals the literal path verdict-for-verdict") {
    // same k, two dataflows: literal inlining (budget ∞) vs broadcast
    // table + typed argmin (budget 1). One-hot vectors make every
    // cross cosine EXACTLY 0.0 — so this also pins the tie rule
    // (lowest cid) and the -0.0/0.0 normalization across both paths.
    val df = oneHot63
    def run(budget: Int) = Similarity
      .semDedup(df, "vec_id", "embedding", k = 4, tau = 0.9,
        literalBudgetDoubles = budget)
      .select($"vec_id", $"cluster", $"kept")
      .as[(Long, Long, Long)].collect().toSet
    assert(run(Int.MaxValue) == run(1))
  }

  test("ivfTopK broadcast-centroid path equals the literal path") {
    val corpus = oneHot63
    val queries = corpus.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding")
    def run(budget: Int) = Similarity
      .ivfTopK(corpus, queries, "vec_id", "qid", "embedding",
        k = 3, nCentroids = 8, nProbe = 8, literalBudgetDoubles = budget)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(run(Int.MaxValue) == run(1))
  }

  test("semDedupLsh equals exact semDedup on clone-planted data; never prunes extra") {
    val df = oneHot63
    def verdicts(f: => org.apache.spark.sql.DataFrame) =
      f.select($"vec_id", $"cluster", $"kept").as[(Long, Long, Long)].collect().toSet
    val exact = verdicts(Similarity.semDedup(df, "vec_id", "embedding", k = 4, tau = 0.9))
    val lsh = verdicts(Similarity.semDedupLsh(df, "vec_id", "embedding",
      k = 4, tau = 0.9, planes = 10, bands = 4))
    // identical vectors collide in every band -> recall 1 on clones;
    // nothing else reaches tau on one-hots, so the sets are equal
    assert(lsh == exact)
    // the prune-conservative law: LSH may only KEEP more, never prune
    // more — check on the documents-derived embeddings too
    val e = tables.embeddings
    def prunedSet(f: => org.apache.spark.sql.DataFrame) =
      f.filter($"kept" === 0).select($"vec_id").as[Long].collect().toSet
    val pExact = prunedSet(Similarity.semDedup(e, "vec_id", "embedding", k = 8, tau = 0.6))
    val pLsh = prunedSet(Similarity.semDedupLsh(e, "vec_id", "embedding",
      k = 8, tau = 0.6, planes = 6, bands = 2)) // deliberately weak LSH
    assert(pLsh.subsetOf(pExact), s"LSH pruned extra: ${pLsh -- pExact}")
  }

  test("semDedup contracts: null vectors excluded on BOTH paths; empty input degrades") {
    val withNull = oneHot63.unionAll(
      Seq((9999L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    def ids(budget: Int) = Similarity
      .semDedup(withNull, "vec_id", "embedding", k = 4, tau = 0.9,
        literalBudgetDoubles = budget)
      .select($"vec_id").as[Long].collect().toSet
    val lit_ = ids(Int.MaxValue)
    val bc = ids(1)
    // a null embedding has no cosine to anything: excluded from the
    // verdict on the literal AND broadcast paths (they used to differ)
    assert(lit_ == bc, s"paths diverge: ${lit_ -- bc} vs ${bc -- lit_}")
    assert(!lit_.contains(9999L))
    assert(lit_.size == 63)
    // empty input: degenerate empty result, not a head()-crash
    assert(Similarity.semDedup(withNull.limit(0), "vec_id", "embedding", k = 4)
      .count() == 0)
  }

  test("verbatimHotWindows reports exactly what the doc-frequency guard drops") {
    // the shared 8-gram runs of docs 1/2/4 have doc frequency 3
    val hot = Dedup.verbatimHotWindows(docs, "doc_id", "text",
      minLen = 8, maxDocFreq = 2)
      .as[(Long, Long)].collect()
    assert(hot.nonEmpty && hot.forall(_._2 == 3))
    // ... and with the cap at 2 those windows seed no spans, while the
    // default cap keeps them
    val capped = Dedup.verbatimSpans(docs, "doc_id", "text", minLen = 8, maxDocFreq = 2)
    val open = Dedup.verbatimSpans(docs, "doc_id", "text", minLen = 8, maxDocFreq = 50)
    assert(capped.count() < open.count())
    assert(open.count() > 0)
  }

  test("kMeansFit: recovers planted blobs; spherical objective non-increasing") {
    // 3 blobs hugging axes 0/1/2 of a dim-4 space with deterministic
    // jitter — cosine separation is unambiguous
    val pts = (0 until 30).map { j =>
      val blob = j % 3
      (j.toLong, Array.tabulate(4)(d =>
        (if (d == blob) 10f else 0f) + ((j * 7 + d * 3) % 5) * 0.1f))
    }.toDF("id", "v")
    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.assignByCentroidTable(pts, "id", "v", cents)
        .join(cents, $"cluster" === $"cid")
        .select(sum(lit(1.0) - Similarity.cosineFast($"__v", $"cv")))
        .as[Double].head()
    val init = Similarity.kMeansFit(pts, "v", k = 3, iters = 0)
    val fitted = Similarity.kMeansFit(pts, "v", k = 3, iters = 4)
    assert(objective(fitted) <= objective(init) + 1e-9)
    // fitted centroids separate the blobs exactly: one cluster per blob
    val asg = Similarity.assignByCentroidTable(pts, "id", "v", fitted)
      .select($"id", $"cluster").as[(Long, Long)].collect()
    val byBlob = asg.groupBy(_._1 % 3).view.mapValues(_.map(_._2).toSet).toMap
    byBlob.values.foreach(s => assert(s.size == 1, s"blob split across $s"))
    assert(byBlob.values.flatten.toSet.size == 3, "blobs must not share a cluster")
  }

  test("ivfTopKWithCentroids: fitted centroids never lose to hash-sampled at equal nProbe") {
    // 8 tight blobs; queries = every vector. With nProbe=1 the cell
    // router IS the recall: fitted centroids sit at blob centers, a
    // hash-sampled set is blob MEMBERS and can leave blobs
    // unrepresented (their residents get routed to a foreign cell
    // where their true neighbors don't live).
    val pts = (0 until 160).map { j =>
      val blob = j % 8
      (j.toLong, Array.tabulate(10)(d =>
        (if (d == blob) 10f else 0f) + ((j * 13 + d * 3) % 7) * 0.05f))
    }.toDF("vec_id", "embedding")
    val truth = Similarity.bruteForceTopK(pts, pts, "vec_id", "vec_id", "embedding", k = 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    def recall(got: Set[(Long, Long)]): Double =
      (truth intersect got).size.toDouble / truth.size
    val fitted = Similarity.kMeansFit(pts, "embedding", k = 8, iters = 3, init = "parallel")
    val rFit = recall(Similarity.ivfTopKWithCentroids(
        pts, pts, "vec_id", "vec_id", "embedding", k = 3, centroids = fitted, nProbe = 1)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet)
    val rHash = recall(Similarity.ivfTopK(
        pts, pts, "vec_id", "vec_id", "embedding", k = 3, nCentroids = 8, nProbe = 1)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet)
    assert(rFit >= rHash, s"fitted recall $rFit < sampled recall $rHash")
    assert(rFit > 0.99, s"fitted centroids on clean blobs must route perfectly, got $rFit")
    // explicit-centroid path == default path when given the SAME rule:
    // the hash-sampled table fed back through ivfTopKWithCentroids
    val sampled = pts
      .select($"vec_id".cast("long").as("cid"),
        $"embedding".cast("array<double>").as("cv"))
      .orderBy(xxhash64($"cid").asc, $"cid".asc).limit(8)
    val viaExplicit = Similarity.ivfTopKWithCentroids(
        pts, pts, "vec_id", "vec_id", "embedding", k = 3, centroids = sampled, nProbe = 1)
      .as[(Long, Long, Double, Long)].collect().toSet
    val viaDefault = Similarity.ivfTopK(
        pts, pts, "vec_id", "vec_id", "embedding", k = 3, nCentroids = 8, nProbe = 1)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(viaExplicit == viaDefault)
  }

  test("ivfTopKWithCentroids recall floor at sf0.1 (r9 pin: measured, not guessed)") {
    // VERDICT r8 #9: a spec-pinned recall bound on REAL data at the
    // driver's bench SF, so an operator regression (routing, fit, or
    // probe selection) trips a test instead of silently degrading
    // quality. RecallProbe r9 (a probe main deleted after commit
    // 71395f2, which still holds it) measured, at sf0.1 (2000 vectors, 20
    // queries = vec_id % 100 == 0), fitted 16 centroids / nProbe 8:
    //   topK=256 -> recall 0.674   (pin >= 0.65)
    //   topK=5   -> recall 0.830   (pin >= 0.80)
    // (A 256-CENTROID config at this corpus size measured 0.36 — an
    // undersized operating point: 8 vectors/cell with 8/256 cells
    // probed; documented in that probe, deliberately not pinned.)
    // Every stage is deterministic (md5/xxhash sampling, kernel
    // argmax), so the floors hold exactly, not probabilistically.
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val qs = emb.filter($"vec_id" % 100 === 0)
    val cents = Similarity.kMeansFit(emb, "embedding", k = 16, iters = 3,
      init = "parallel")
    for ((topK, floor) <- Seq(256 -> 0.65, 5 -> 0.80)) {
      val truth = Similarity.bruteForceTopK(
          emb, qs, "vec_id", "vec_id", "embedding", topK)
        .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
      val found = Similarity.ivfTopKWithCentroids(
          emb, qs, "vec_id", "vec_id", "embedding", topK,
          centroids = cents, nProbe = 8)
        .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
      val recall = (truth intersect found).size.toDouble / truth.size
      assert(recall >= floor, f"topK=$topK recall $recall%.3f below pinned $floor")
    }
  }

  test("kMeans|| init: recovers blobs, deterministic, never worse than hash init") {
    // 8 well-separated axis blobs in dim-10; k=8 with init='parallel'
    // (the auto threshold would pick hash at this k — force it)
    val pts = (0 until 240).map { j =>
      val blob = j % 8
      (j.toLong, Array.tabulate(10)(d =>
        (if (d == blob) 10f else 0f) + ((j * 11 + d * 5) % 7) * 0.05f))
    }.toDF("id", "v")
    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.assignByCentroidTable(pts, "id", "v", cents)
        .join(cents, $"cluster" === $"cid")
        .select(sum(lit(1.0) - Similarity.cosineFast($"__v", $"cv")))
        .as[Double].head()
    def fit(init: String, df: org.apache.spark.sql.DataFrame) =
      Similarity.kMeansFit(df, "v", k = 8, iters = 3, init = init)
    val par = fit("parallel", pts)
    assert(par.count() == 8)
    assert(objective(par) <= objective(fit("hash", pts)) + 1e-9,
      "parallel init must not end worse than hash init after equal Lloyd work")
    // every blob lands in its own cluster under the parallel-init fit
    val asg = Similarity.assignByCentroidTable(pts, "id", "v", par)
      .select($"id", $"cluster").as[(Long, Long)].collect()
    val byBlob = asg.groupBy(_._1 % 8).view.mapValues(_.map(_._2).toSet).toMap
    byBlob.values.foreach(s => assert(s.size == 1, s"blob split across $s"))
    assert(byBlob.values.flatten.toSet.size == 8, "blobs must not share a cluster")
    // determinism: same centroids at a different partitioning
    val par2 = fit("parallel", pts.repartition(7))
    val c1 = par.orderBy($"cid").as[(Long, Seq[Double])].collect().toSeq
    val c2 = par2.orderBy($"cid").as[(Long, Seq[Double])].collect().toSeq
    assert(c1 == c2, "kMeans|| init must be partition-invariant")
  }

  test("PQ lossless codebooks recover the exact dot: bit-for-bit at m=1, ulps at m=2") {
    // nCodes >= distinct subvectors and iters=0 keeps every subvector
    // AS a centroid; encode then recovers each subvector exactly
    // (L2 distance 0). At m=1 the single-subspace LUT dot IS the
    // sequential dot — identical doubles. At m>1 the total is a
    // grouped sum ((Σ sub0) + (Σ sub1)) vs the sequential fold, so
    // equality holds to grouped-summation ulps, not bits.
    val pts = (0 until 24).map { j =>
      (j.toLong, Array.tabulate(8)(d => ((j * 7 + d * 3) % 11) - 5f))
    }.toDF("vec_id", "embedding")
    def scores(m: Int) = {
      val pq = Similarity.pqTrain(pts, "embedding", m = m, nCodes = 64, iters = 0)
      pts.select($"vec_id", Similarity.unitize($"embedding").as("nv"))
        .withColumn("codes", graft.plans.PqExpressions.pqEncode($"nv", pq))
        .crossJoin(pts.limit(3).select(
          $"vec_id".as("qid"), Similarity.unitize($"embedding").as("nq")))
        .withColumn("lut", graft.plans.PqExpressions.pqLut($"nq", pq))
        .select($"qid", $"vec_id",
          graft.plans.PqExpressions.pqAdc($"codes", $"lut", pq).as("s_adc"),
          Similarity.dot($"nq", $"nv").as("s_exact"))
        .as[(Long, Long, Double, Double)].collect()
    }
    scores(1).foreach { case (q, v, sAdc, sExact) =>
      assert(sAdc == sExact, s"m=1 ($q,$v): adc $sAdc != exact $sExact")
    }
    scores(2).foreach { case (q, v, sAdc, sExact) =>
      assert(math.abs(sAdc - sExact) <= 1e-12 * math.max(1.0, math.abs(sExact)),
        s"m=2 ($q,$v): adc $sAdc vs exact $sExact beyond grouped-sum ulps")
    }
  }

  test("pqAdcQuery is BIT-identical to pqLut+pqAdc at every m") {
    // round 18: the serve path scores from the query vector directly
    // (the join must not carry the LUT per candidate row) — the
    // replacement accumulates each subspace dot and the cross-subspace
    // sum in the LUT path's exact order, so the scores are the same
    // doubles, not just close ones.
    val pts = (0 until 24).map { j =>
      (j.toLong, Array.tabulate(8)(d => ((j * 7 + d * 3) % 11) - 5f))
    }.toDF("vec_id", "embedding")
    for (m <- Seq(1, 2, 4)) {
      val pq = Similarity.pqTrain(pts, "embedding", m = m, nCodes = 16, iters = 1)
      val both = pts.select($"vec_id", Similarity.unitize($"embedding").as("nv"))
        .withColumn("codes", graft.plans.PqExpressions.pqEncode($"nv", pq))
        .crossJoin(pts.limit(3).select(
          $"vec_id".as("qid"), Similarity.unitize($"embedding").as("nq")))
        .withColumn("lut", graft.plans.PqExpressions.pqLut($"nq", pq))
        .select($"qid", $"vec_id",
          graft.plans.PqExpressions.pqAdc($"codes", $"lut", pq).as("via_lut"),
          graft.plans.PqExpressions.pqAdcQuery($"codes", $"nq", pq).as("direct"))
        .as[(Long, Long, Double, Double)].collect()
      both.foreach { case (q, v, viaLut, direct) =>
        assert(viaLut == direct,
          s"m=$m ($q,$v): direct $direct != via-lut $viaLut (must be bit-identical)")
      }
    }
  }

  test("pqTrain/pqEncode are partition-invariant; ragged subspaces warn and stay in range") {
    // raw subspace 1 is constant, so after full-vector unitization its
    // subvectors collapse to one value PER DISTINCT NORM — 5 distinct
    // raw prefixes -> 5 distinct subvectors < nCodes=8 (ragged)
    val pts = (0 until 40).map { j =>
      (j.toLong, Array.tabulate(8)(d =>
        if (d >= 4) 1.0f else ((j * 5 + d) % 9) - 4f))
    }.toDF("vec_id", "embedding")
    val pq1 = Similarity.pqTrain(pts, "embedding", m = 2, nCodes = 8, iters = 2)
    val pq2 = Similarity.pqTrain(pts.repartition(7), "embedding", m = 2, nCodes = 8, iters = 2)
    assert(pq1.codes.map(_.map(_.toSeq).toSeq).toSeq ==
           pq2.codes.map(_.map(_.toSeq).toSeq).toSeq,
      "pqTrain must be partition-invariant")
    assert(pq1.codes(1).length == 5, "collapsed subspace must yield the ragged 5-entry codebook")
    val enc1 = pts.select($"vec_id",
        graft.plans.PqExpressions.pqEncode(Similarity.unitize($"embedding"), pq1).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    val enc2 = pts.repartition(5).select($"vec_id",
        graft.plans.PqExpressions.pqEncode(Similarity.unitize($"embedding"), pq1).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(enc1 == enc2, "pqEncode must be partition-invariant")
    enc1.values.foreach { cs =>
      assert(cs.length == 2)
      assert(cs(0) >= 0 && cs(0) < pq1.codes(0).length)
      assert(cs(1) >= 0 && cs(1) < pq1.codes(1).length,
        "codes must stay inside the ragged codebook")
    }
  }

  test("topCosArgMaxToSet: multi-probe routing matches the literal sort-slice rule") {
    // the kernel must reproduce ivfCore's literal topCells ordering:
    // score desc, candidate index asc on ties (incl. NaN -> last)
    val cands: Seq[Seq[Double]] = Seq(
      Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 1.0), Seq(1.0, 0.0), Seq(0.0, 0.0))
    val pts = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.5f, 0.5f)), (3L, Array(0.0f, 2.0f)))
      .toDF("id", "v")
    val got = pts.select($"id",
        graft.plans.PqExpressions.topCosArgMaxToSet($"v", cands, 3).as("cells"))
      .as[(Long, Seq[Long])].collect().toMap
    // id 1: cos=1 with cands 0 and 3 (tie -> 0 before 3), then 2
    assert(got(1L) == Seq(0L, 3L, 2L))
    // id 2: cos=1 with 2; cands 0,1,3 at cos=.707 (tie -> 0 then 1)
    assert(got(2L) == Seq(2L, 0L, 1L))
    // id 3: best 1, then 2, then 0/3 tie -> 0
    assert(got(3L) == Seq(1L, 2L, 0L))
  }

  test("ivfPqTopK: blob corpus routes and scores into full recall; code payload is m ints") {
    val pts = (0 until 160).map { j =>
      val blob = j % 8
      (j.toLong, Array.tabulate(16)(d =>
        (if (d == blob * 2) 10f else 0f) + ((j * 13 + d * 3) % 7) * 0.05f))
    }.toDF("vec_id", "embedding")
    val truth = Similarity.bruteForceTopK(pts, pts, "vec_id", "vec_id", "embedding", k = 3)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val cents = Similarity.kMeansFit(pts, "embedding", k = 8, iters = 3, init = "parallel")
    val pq = Similarity.pqTrain(pts, "embedding", m = 8, nCodes = 32, iters = 2)
    val found = Similarity.ivfPqTopK(
        pts, pts, "vec_id", "vec_id", "embedding", k = 3,
        centroids = cents, pq = pq, nProbe = 2)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (truth intersect found).size.toDouble / truth.size
    assert(recall >= 0.9, s"blob-corpus IVF-PQ recall $recall below 0.9")
  }
}
