package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.GraftSession
import graft.functions.PigFunctions
import graft.operators.{Dedup, Similarity, TextAnalysis, TrainingPipeline}

class EngineSpec extends SparkSpec {
  import spark.implicits._

  test("GraftSession alias environment: register / rebind / describe / explain / store") {
    val gs = new GraftSession(spark)
    gs.register("A", tables.region)
    gs.register("B", gs("A").filter($"r_regionkey" > 1))
    assert(gs.aliases == Seq("A", "B"))
    assert(gs.describe("A").contains("r_name"))
    assert(gs.explain("B").contains("Physical Plan"))
    gs.register("B", gs("A").limit(1)) // rebinding, like Pig
    assert(gs.dump("B").length == 1)
    val out = Files.createTempDirectory("gs-store").toString + "/r"
    gs.store("A", out)
    assert(spark.read.parquet(out).count() == tables.region.count())
  }

  test("multiStore writes all sinks from one persisted scan") {
    // a Pig script with three STOREs over one LOAD: the shared-scan
    // multi-STORE path (PigCompiler.sharedScanAliases) persists `E`
    // once and serves all three sinks from it
    val tmp = Files.createTempDirectory("multistore").toString
    graft.pig.PigScript.run(spark,
      s"""E = LOAD '$sf/events.parquet' USING parquet;
          CLICKS = FILTER E BY event_type == 'click';
          ERRORS = FILTER E BY event_type == 'error';
          G = GROUP E BY event_type;
          COUNTS = FOREACH G GENERATE group AS event_type, COUNT(E) AS n;
          STORE CLICKS INTO '$tmp/clicks' USING parquet;
          STORE ERRORS INTO '$tmp/errors' USING parquet;
          STORE COUNTS INTO '$tmp/counts' USING parquet;""",
      executeStores = true)
    val clicks = spark.read.parquet(s"$tmp/clicks").count()
    val errors = spark.read.parquet(s"$tmp/errors").count()
    val counts = spark.read.parquet(s"$tmp/counts")
    assert(clicks > 0 && errors > 0)
    assert(counts.filter($"event_type" === "click").select($"n")
      .as[Long].head() == clicks)
  }

  test("GraftExtensions exposes native kernels as SQL functions (REGISTER/DEFINE analogue)") {
    graft.plans.GraftExtensions.registerInto(spark)
    val lang = spark.sql("SELECT lang_id('der und das ist nicht') AS l")
      .as[String].head()
    assert(lang == "de")
    val st = spark.sql("SELECT ngram_stats('a b a b a', 3) AS s")
      .selectExpr("s[0]", "s[1]").as[(Long, Long)].head()
    assert(st == ((3L, 2L))) // 'a b a','b a b','a b a' -> 3 total, 2 distinct
    val cos = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").as[Double].head()
    assert(cos == 1.0)
    // the SQL form is the same Expression class as the Column API
    val viaCol = tables.documents.limit(50)
      .select(graft.operators.TextAnalysis.langId($"text").as("l"))
    val viaSql = tables.documents.limit(50)
      .selectExpr("lang_id(text) AS l")
    assert(viaCol.collect().toSeq == viaSql.collect().toSeq)
    // round 6: repetition kernel and bignum kernels from plain SQL
    val rep = spark.sql("SELECT rep_stats('x y\ny x\nx y', 2) AS r")
      .selectExpr("r[4]", "r[5]").as[(Long, Long)].head()
    assert(rep == ((3L, 2L))) // 3 lines, 2 distinct
    val big = spark.sql(
      "SELECT bignum_mul('123456789012345678901234567890', '10') AS p").as[String].head()
    assert(big == "1234567890123456789012345678900")
    val keysOrdered = spark.sql(
      "SELECT bignum_sort_key('-2') < bignum_sort_key('-1.5') AS o").as[Boolean].head()
    assert(keysOrdered)
  }

  test("round-6 operator surface: every operator produces sane output") {
    val docs = tables.documents.limit(200)
    val embs = tables.embeddings.limit(200)
    assert(docs.withColumn("repetition", TextAnalysis.repetitionFeatures($"text", 2))
      .select($"repetition.n_ngrams").as[Long].head() >= 0)
    assert(docs.withColumn("cls", TextAnalysis.hashClassifierScore($"text"))
      .select($"cls.score_ppm").as[Long].collect().forall(p => p >= 0 && p <= 1000000))
    assert(TextAnalysis.crossDocRepeats(docs, "doc_id", "text").count() == 200)
    assert(TextAnalysis.bpePairCounts(docs, "text", topK = 5).count() == 5)
    val idx = TextAnalysis.invertedIndex(docs, "doc_id", "text", k = 3)
    assert(idx.count() > 0 &&
      idx.select(size(split($"postings", ",")) <= 3).as[Boolean].collect().forall(identity))
    assert(Similarity.semDedup(embs, "vec_id", "embedding", k = 4).count() == 200)
    assert(embs.withColumn("q8", Similarity.quantizeInt8($"embedding"))
      .select($"q8.codes").count() == 200)
  }

  test("round-7 operator surface: every operator produces sane output") {
    val docs = tables.documents.limit(100)
    val embs = tables.embeddings.limit(100)
    assert(Similarity.semDedupLsh(embs, "vec_id", "embedding", k = 4).count() == 100)
    val cents = Similarity.kMeansFit(embs, "embedding", k = 4, iters = 2)
    assert(cents.count() == 4)
    val asg = Similarity.assignByCentroidTable(embs, "vec_id", "embedding", cents)
    assert(asg.select($"cluster").distinct().count() <= 4 && asg.count() == 100)
    // every span pairs two distinct docs in id order and covers at
    // least one whole minLen window (`count() >= 0` would be vacuous)
    val spans = Dedup.verbatimSpans(docs, "doc_id", "text", minLen = 8)
    assert(spans.filter($"id1" >= $"id2" || $"len_tokens" < 8).isEmpty)
    val (merges, vocab, _) = TextAnalysis.bpeTrainIncremental(docs, "text", nMerges = 3)
    assert(merges.length == 3 && vocab.count() > 0)
  }

  test("round-8 operator surface: every operator produces sane output") {
    val docs = tables.documents.limit(100)
    assert(Dedup.removeVerbatimSpans(docs, "doc_id", "text", minLen = 8)
      .count() == 100)
    val (merges, _, _) = TextAnalysis.bpeTrainIncremental(docs, "text", nMerges = 3)
    val enc = docs.withColumn("bpe", TextAnalysis.bpeEncode($"text", merges))
    assert(enc.filter(size($"bpe") > 0).count() == 100)
    assert(TextAnalysis.heavyHitters(docs, "text", minCount = 50L, capacity = 1024)
      .count() > 0)
    val tb = TrainingPipeline.tokenBudgetSample(docs, "lang", "doc_id", "text",
      Map("en" -> 200L), defaultBudget = 100L)
    assert(tb.count() > 0)
    val embs = tables.embeddings.limit(100)
    // minCount=2 3-grams are non-empty on the 100-doc fixture (the
    // r8 `>= 0` form was vacuous — count can never be negative)
    assert(TextAnalysis.hotNgrams(docs, "text", n = 3, minCount = 2L).count() > 0)
    val cents = Similarity.kMeansFit(embs, "embedding", k = 4, iters = 1)
    assert(Similarity.ivfTopKWithCentroids(embs, embs.limit(5), "vec_id", "vec_id",
      "embedding", k = 3, centroids = cents).count() > 0)
    val pq = Similarity.pqTrain(embs, "embedding", m = 8, nCodes = 16, iters = 1)
    assert(Similarity.ivfPqTopK(embs, embs.limit(5), "vec_id", "vec_id",
      "embedding", k = 3, centroids = cents, pq = pq, nProbe = 2,
      refine = 2).count() > 0)
    val iw = TrainingPipeline.importanceWeights(docs, docs.limit(10), "doc_id", "text")
    assert(iw.count() == 100 && iw.filter($"iw" > 0).count() > 0)
  }

  test("GraftSession.sql queries registered aliases (PigServer entry point)") {
    val gs = new GraftSession(spark)
    gs.register("r", tables.region).register("n", tables.nation)
    val got = gs.sql(
      "SELECT r_name, count(*) AS n FROM r JOIN n ON r_regionkey = n_regionkey GROUP BY r_name")
    assert(got.count() == tables.region.count())
    assert(got.agg(sum($"n")).as[Long].head() == tables.nation.count())
  }

  test("GraftSession.registerVersioned: SQL over lakehouse tables with time travel") {
    import graft.operators.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("gs-vt").toString + "/t"
    VersionedTable.commit(spark, dir,
      spark.range(100).select($"id".as("k"), ($"id" * 2).as("v")),
      -1L, "w")
    VersionedTable.merge(spark, dir,
      spark.range(10).select($"id".as("k"), lit(-1L).as("v")),
      Seq("k"), 0L, "w")
    val gs = new GraftSession(spark)
    gs.registerVersioned("cur", dir)
      .registerVersioned("old", dir, version = 0L)
    val got = gs.sql(
      """SELECT (SELECT sum(v) FROM cur) AS cur_sum,
                (SELECT sum(v) FROM old) AS old_sum""").head()
    assert(got.getLong(1) == 9900L, "v0 = sum 2k over 0..99")
    assert(got.getLong(0) == 9900L - (0 until 10).map(_ * 2).sum - 10)
    // a "latest" registration PINS its snapshot: a commit after the
    // registration must not shift the already-registered alias
    VersionedTable.merge(spark, dir,
      Seq((0L, 1000000L)).toDF("k", "v"), Seq("k"), 1L, "w")
    assert(gs.sql("SELECT sum(v) FROM cur").as[Long].head() ==
      got.getLong(0), "registered alias is snapshot-isolated")
    // both-pinned refusal
    intercept[IllegalArgumentException] {
      gs.registerVersioned("bad", dir, version = 0L,
        asOf = Some(new java.sql.Timestamp(0L)))
    }
  }

  test("SQL DML over versioned tables: INSERT / DELETE / MERGE route to the CAS") {
    import graft.operators.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("gs-dml").toString + "/t"
    VersionedTable.commit(spark, dir,
      spark.range(100).select($"id".as("k"), ($"id" * 2).as("v")),
      -1L, "w", clusterBy = Seq("k"), clusterFiles = 4)
    val gs = new GraftSession(spark)
    gs.registerVersioned("t", dir)
    // MERGE with star shorthand: updates + inserts, keyed from ON
    gs.register("chg",
      spark.range(5).select($"id".as("k"), lit(-7L).as("v"))
        .union(spark.range(900, 903).select($"id".as("k"), lit(1L).as("v"))))
    val m = gs.sql("""MERGE INTO t USING chg AS s ON t.k = s.k
                      WHEN MATCHED THEN UPDATE SET *
                      WHEN NOT MATCHED THEN INSERT *""").head()
    assert(m.getString(0) == "merge" && m.getLong(2) == 1L)
    // the latest-tracking alias advanced: the SELECT sees the write
    assert(gs.sql("SELECT count(*) FROM t WHERE v = -7").as[Long].head() == 5)
    assert(gs.sql("SELECT count(*) FROM t").as[Long].head() == 103)
    // DELETE routes to deleteWhere (DV mask, rows receipt)
    val d = gs.sql("DELETE FROM t WHERE k >= 900").head()
    assert(d.getLong(2) == 2L && d.getLong(3) == 3L, s"got $d")
    assert(gs.sql("SELECT count(*) FROM t").as[Long].head() == 100)
    // INSERT INTO with a SELECT source: positional alignment + cast
    gs.sql("INSERT INTO t SELECT k + 1000, 5 FROM chg WHERE k < 2")
    assert(gs.sql("SELECT sum(v) FROM t WHERE k >= 1000").as[Long].head() == 10)
    // INSERT INTO ... VALUES
    gs.sql("INSERT INTO t VALUES (5000, 9), (5001, 9)")
    assert(gs.sql("SELECT count(*) FROM t WHERE v = 9").as[Long].head() == 2)
    assert(VersionedTable.latestVersion(spark, dir) == 4L)
    // UPDATE routes to the file-granular rewrite (multi-SET with a
    // function-call comma; no-match update commits nothing)
    val u = gs.sql(
      "UPDATE t SET v = greatest(v, 100), k = k WHERE k IN (5000, 5001)")
      .head()
    assert(u.getString(0) == "update" && u.getLong(2) == 5L, s"got $u")
    assert(gs.sql("SELECT sum(v) FROM t WHERE k >= 5000").as[Long].head()
      == 200L)
    val noop = gs.sql("UPDATE t SET v = 0 WHERE k = -12345").head()
    assert(noop.getLong(2) == -1L, s"no-match UPDATE must not commit: $noop")
    assert(VersionedTable.latestVersion(spark, dir) == 5L)
    // MERGE with the matched-DELETE clause: a matched source row
    // satisfying the condition DROPS the target row; a satisfying
    // UNMATCHED source row is a no-op (never inserted)
    gs.register("chg2",
      Seq((0L, -9L), (1L, -9L), (777777L, -9L)).toDF("k", "v"))
    val m2 = gs.sql("""MERGE INTO t USING chg2 AS s ON t.k = s.k
                       WHEN MATCHED AND v < 0 THEN DELETE
                       WHEN MATCHED THEN UPDATE SET *
                       WHEN NOT MATCHED THEN INSERT *""").head()
    assert(m2.getString(0) == "merge" && m2.getLong(2) == 6L, s"got $m2")
    assert(gs.sql("SELECT count(*) FROM t").as[Long].head() == 102)
    assert(gs.sql("SELECT count(*) FROM t WHERE k IN (0, 1, 777777)")
      .as[Long].head() == 0, "matched delete + unmatched no-op")
    // DML on a plain (non-versioned) alias refuses loudly
    val e = intercept[IllegalArgumentException] {
      gs.sql("DELETE FROM chg WHERE k = 0")
    }
    assert(e.getMessage.contains("read-only"))
    // snapshot-isolation write: a session whose binding is STALE
    // (another writer moved the table) conflicts instead of clobbering
    val stale = new GraftSession(spark)
    stale.registerVersioned("t", dir, version = 1L)
    intercept[graft.operators.VersionedTable.CommitConflict] {
      stale.sql("DELETE FROM t WHERE k = 0")
    }
    // unsupported MERGE shapes fall through with a loud refusal, not
    // a silent Spark parse of a table that doesn't exist there
    intercept[IllegalArgumentException] {
      gs.sql("""MERGE INTO t USING chg AS s ON t.k = s.k + 1
                WHEN MATCHED THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *""")
    }
  }

  test("SQL DDL over versioned tables: ALTER TABLE rename/add/drop") {
    import graft.operators.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("gs-ddl").toString + "/t"
    VersionedTable.commit(spark, dir,
      spark.range(10).select($"id".as("k"), ($"id" * 2).as("v")), -1L, "w")
    val gs = new GraftSession(spark)
    gs.registerVersioned("t", dir)
    val r1 = gs.sql("ALTER TABLE t RENAME COLUMN v TO val").head()
    assert(r1.getString(0) == "rename" && r1.getLong(2) == 1L)
    assert(gs.sql("SELECT sum(val) FROM t").as[Long].head() == 90L)
    gs.sql("ALTER TABLE t ADD COLUMNS (w DOUBLE, tag STRING)")
    assert(gs.sql("SELECT count(*) FROM t WHERE w IS NULL")
      .as[Long].head() == 10L)
    gs.sql("ALTER TABLE t DROP COLUMN tag")
    assert(!gs("t").columns.contains("tag") &&
      gs("t").columns.contains("w"))
    assert(VersionedTable.latestVersion(spark, dir) == 3L,
      "three metadata-only migrations must stack three versions")
    // re-adding the dropped name refuses through SQL too (tombstone)
    val e = intercept[IllegalArgumentException] {
      gs.sql("ALTER TABLE t ADD COLUMN (tag STRING)")
    }
    assert(e.getMessage.contains("DROPPED"), e.getMessage)
    // ALTER on a plain alias refuses loudly
    gs.register("p", spark.range(1).toDF("x"))
    intercept[IllegalArgumentException] {
      gs.sql("ALTER TABLE p RENAME COLUMN x TO y")
    }
    // DESCRIBE HISTORY: the audit surface, newest first
    val h = gs.sql("DESCRIBE HISTORY t")
    assert(h.columns.contains("writer") &&
      h.select($"version").as[Long].collect().toSeq == Seq(3L, 2L, 1L, 0L))
  }

  test("SQL DML grammar edges: case, semicolons, embedded newlines") {
    import graft.operators.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("gs-gram").toString + "/t"
    VersionedTable.commit(spark, dir,
      spark.range(20).select($"id".as("k"), $"id".as("v")), -1L, "w")
    val gs = new GraftSession(spark)
    gs.registerVersioned("t", dir)
    gs.sql("insert into t\n  select k + 100, 0 from t where k < 3 ;")
    assert(gs.sql("SELECT count(*) FROM t").as[Long].head() == 23)
    gs.sql("delete from t where k >= 100;")
    assert(gs.sql("select count(*) from t").as[Long].head() == 20)
    gs.sql("update t set v = v + 1\nwhere k = 0;")
    assert(gs.sql("SELECT v FROM t WHERE k = 0").as[Long].head() == 1)
    gs.sql("alter table t rename column v to w;")
    assert(gs("t").columns.contains("w"))
    // a SELECT whose text merely CONTAINS dml-ish words passes through
    assert(gs.sql(
      "SELECT count(*) FROM t WHERE 'delete from x' = 'delete from x'")
      .as[Long].head() == 20)
  }

  test("runScript: a multi-statement migration runs in order against the lakehouse") {
    import graft.operators.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("gs-script").toString + "/t"
    VersionedTable.commit(spark, dir,
      spark.range(50).select($"id".as("k"), ($"id" * 2).as("v")), -1L, "w")
    val gs = new GraftSession(spark)
    gs.registerVersioned("t", dir)
    val results = gs.runScript(
      """ALTER TABLE t RENAME COLUMN v TO amount;
         UPDATE t SET amount = amount + 1 WHERE k < 5;
         DELETE FROM t WHERE k >= 40;
         INSERT INTO t VALUES (1000, 7), (1001, 7);
         SELECT count(*) AS n, sum(amount) AS s FROM t""")
    assert(results.length == 5)
    // the statements committed in order: 4 versions stacked, and the
    // final SELECT (planned AFTER the writes) sees all of them
    assert(VersionedTable.latestVersion(spark, dir) == 4L)
    val last = results.last.head()
    assert(last.getLong(0) == 42L, s"got $last")
    assert(last.getLong(1) ==
      (0L until 40L).map(_ * 2).sum + 5 + 14, s"got $last")
    // a semicolon inside a string literal never splits
    val r2 = gs.runScript("SELECT count(*) FROM t WHERE 'a;b' = 'a;b'")
    assert(r2.length == 1 && r2.head.as[Long].head() == 42L)
    // a failing mid-script statement stops there; prior commits stay
    intercept[IllegalArgumentException] {
      gs.runScript(
        """DELETE FROM t WHERE k = 1000;
           ALTER TABLE t RENAME COLUMN nope TO x;
           DELETE FROM t WHERE k = 1001""")
    }
    assert(VersionedTable.latestVersion(spark, dir) == 5L &&
      gs.sql("SELECT count(*) FROM t").as[Long].head() == 41L,
      "the completed first statement stays; the third never ran")
  }

  test("cogroupInner drops keys with an empty bag for that input") {
    val a = Seq((1, "x")).toDF("k", "va")
    val b = Seq((1, 10), (2, 20)).toDF("k", "vb")
    val all = graft.operators.Relational.cogroup(Seq("k"), ("a", a, Seq("k")), ("b", b, Seq("k")))
    val inner = graft.operators.Relational.cogroupInner(Seq("k"), Set("a"),
      ("a", a, Seq("k")), ("b", b, Seq("k")))
    assert(all.count() == 2 && inner.count() == 1)
    assert(inner.select($"k").as[Int].head() == 1)
  }

  test("map builtins: TOMAP / lookup / KEYSET / VALUELIST / VALUESET") {
    val df = Seq(1).toDF("x").select(
      map(lit("a"), lit(1), lit("b"), lit(2), lit("c"), lit(2)).as("m"))
    assert(df.select(element_at($"m", "b")).as[Int].head() == 2)
    assert(df.select(PigFunctions.keySet($"m")).as[Seq[String]].head().sorted == Seq("a", "b", "c"))
    assert(df.select(PigFunctions.valueList($"m")).as[Seq[Int]].head().sorted == Seq(1, 2, 2))
    assert(df.select(PigFunctions.valueSet($"m")).as[Seq[Int]].head().sorted == Seq(1, 2))
  }

  test("bag builtins: BagToString / SUBTRACT / IsEmpty / SIZE") {
    val df = Seq((Seq("a", "b", "c"), Seq("b"))).toDF("b1", "b2")
    assert(df.select(PigFunctions.bagToString($"b1", "_")).as[String].head() == "a_b_c")
    assert(df.select(PigFunctions.bagSubtract($"b1", $"b2")).as[Seq[String]].head() == Seq("a", "c"))
    assert(df.select(PigFunctions.isEmptyBag($"b2")).as[Boolean].head() == false)
    assert(df.select(PigFunctions.sizeOf($"b1")).as[Int].head() == 3)
  }

  test("SQL routing probes: shadowing aliases, DML-words in strings, comments, multi-line MERGE") {
    import graft.operators.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("gs-probe").toString + "/t"
    VersionedTable.commit(spark, dir,
      spark.range(20).select($"id".as("k"), $"id".as("v")), -1L, "w")
    val gs = new GraftSession(spark)
    gs.registerVersioned("t", dir)
    // 1. an alias SHADOWING a DML keyword reads fine (keyword routing
    //    looks at the statement's leading token, never at table names)
    gs.register("delete", spark.range(3).toDF("x"))
    assert(gs.sql("SELECT count(*) FROM delete").as[Long].head() == 3L)
    // 2. a WHERE containing the word MERGE routes as a DELETE and the
    //    predicate evaluates untouched
    val d = gs.sql(
      "DELETE FROM t WHERE k = 5 AND 'MERGE INTO x' = 'MERGE INTO x'")
    assert(d.head().getLong(3) == 1L, "one row deleted")
    // 3. double-quoted string literals carrying DML words pass through
    assert(gs.sql(
      """SELECT count(*) FROM t WHERE "UPDATE t SET" = "UPDATE t SET"""")
      .as[Long].head() == 19L)
    // 4. multi-line MERGE with an inline subquery source
    val m = gs.sql(
      """MERGE INTO t AS tgt
        |USING (SELECT 100 AS k, 9 AS v) AS src
        |  ON tgt.k = src.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(m.head().getString(0) == "merge")
    assert(gs.sql("SELECT v FROM t WHERE k = 100").as[Long].head() == 9L)
    // 5. comments with semicolons are inert in scripts (line + block)
    val rs = gs.runScript(
      """-- setup; not a statement boundary
        |INSERT INTO t SELECT k + 200, 0 FROM t WHERE 'a;b' = 'a;b' AND k < 2;
        |/* block comment; also inert */
        |SELECT count(*) FROM t WHERE k >= 200""".stripMargin)
    assert(rs.length == 2 && rs.last.as[Long].head() == 2L)
    // 6. lifecycle statements route + refuse by grammar
    val dir2 = java.nio.file.Files.createTempDirectory("gs-probe2")
      .toString + "/t2"
    val rs2 = gs.runScript(
      s"""CREATE TABLE u LOCATION '$dir2'
         |  USING ('cluster=k', 'files=4') AS SELECT k, v FROM t;
         |OPTIMIZE u;
         |VACUUM u;
         |SELECT count(*) FROM u""".stripMargin)
    assert(rs2.head.head().getString(0) == "create_table")
    assert(rs2(1).head().getString(0) == "optimize")
    assert(rs2(2).head().getString(0) == "vacuum")
    assert(rs2.last.as[Long].head() ==
      gs.sql("SELECT count(*) FROM t").as[Long].head())
    assert(VersionedTable.clusterColsOf(spark, dir2,
      VersionedTable.latestVersion(spark, dir2)) == Seq("k"),
      "CREATE TABLE USING must persist the clustering declaration")
    intercept[IllegalArgumentException] { gs.sql("DELETE FROM t") }
    intercept[IllegalArgumentException] { gs.sql("UPDATE t SET v = 1") }
    intercept[IllegalArgumentException] { gs.sql("MERGE INTO t USING x") }
    intercept[IllegalArgumentException] { gs.sql("VACUUM t RETAIN VERSIONS") }
    intercept[IllegalArgumentException] { gs.sql("ALTER TABLE t SET X") }
  }

  test("SQL branching: CREATE BRANCH / branch DML via its alias / FAST FORWARD / DROP BRANCH") {
    import graft.operators.VersionedTable
    val dir = java.nio.file.Files.createTempDirectory("gs-branch").toString + "/t"
    VersionedTable.commit(spark, dir,
      spark.range(40).select($"id".as("k"), $"id".as("v")), -1L, "w",
      clusterBy = Seq("k"), clusterFiles = 4)
    val gs = new GraftSession(spark)
    gs.registerVersioned("t", dir)
    val rs = gs.runScript(
      """CREATE BRANCH dev ON t AS tdev;
        |DELETE FROM tdev WHERE k < 10;
        |INSERT INTO tdev SELECT k + 100, -1 FROM tdev WHERE k < 12;
        |SELECT count(*) FROM tdev;
        |SELECT count(*) FROM t""".stripMargin)
    assert(rs.head.head().getString(0) == "create_branch")
    // branch world: 40 - 10 deleted + 2 inserts (k=10,11 survive < 12)
    assert(rs(3).head().getLong(0) == 32L)
    // mainline untouched through the branch's DML
    assert(rs(4).head().getLong(0) == 40L)
    val ff = gs.sql("FAST FORWARD t FROM dev").head()
    assert(ff.getString(0) == "fast_forward" && ff.getLong(2) == 1L)
    assert(gs.sql("SELECT count(*) FROM t").as[Long].head() == 32L)
    // nothing more to land: receipt keeps the current version
    assert(gs.sql("FAST FORWARD t FROM dev").head().getLong(2) == 1L)
    // base reports the DIFF ANCHOR, which advanced to the landed tip
    assert(gs.sql("SHOW BRANCHES ON t")
      .as[(String, Long, Long)].collect().toSeq == Seq(("dev", 2L, 2L)))
    gs.sql("DROP BRANCH dev ON t")
    assert(VersionedTable.branches(spark, dir).isEmpty)
    assert(gs.sql("SHOW BRANCHES ON t").count() == 0L)
    // OPTIMIZE ZORDER BY: a re-layout commit that persists the
    // declaration and keeps the content bit-identical
    val oz = gs.sql("OPTIMIZE t ZORDER BY (v, k)").head()
    assert(oz.getString(0) == "optimize_zorder")
    assert(VersionedTable.clusterColsOf(spark, dir,
      VersionedTable.latestVersion(spark, dir)) == Seq("v", "k"))
    assert(VersionedTable.clusterModeOf(spark, dir,
      VersionedTable.latestVersion(spark, dir)) == "zorder")
    assert(gs.sql("SELECT count(*) FROM t").as[Long].head() == 32L)
    // grammar refusals stay loud; plain Spark DROP VIEW still works
    intercept[IllegalArgumentException] { gs.sql("FAST FORWARD t") }
    gs.register("tmpv", spark.range(1).toDF("x"))
    gs.sql("SELECT * FROM tmpv") // materialize the temp view binding
    gs.sql("DROP VIEW IF EXISTS tmpv")
  }
}
