package graft

import org.apache.spark.sql.functions._

import graft.pig.{PigCompiler, PigParser, PigPreprocessor, PigScript}

/** The Pig Latin front-end: parser, preprocessor (params + macros),
  * compiler semantics, and end-to-end equality of every bundled .pig
  * query against its hand-written DataFrame twin. The DuckDB hash check
  * runs driver-side (CORRECTNESS_r03); these specs pin the semantics
  * that the oracle can't see (plan shape, combiner path, error cases).
  */
class PigScriptSpec extends SparkSpec {

  private def pigDf(res: String) =
    PigScript.queryResource(spark, res, Map("DIR" -> sf))

  // ---------------- parser ----------------

  test("parser: statement set round-trips; errors carry position") {
    val stmts = PigParser.parseScript(
      """a = LOAD 'x' USING PigStorage(',') AS (k:int, v:chararray);
         b = FILTER a BY k > 3 AND v matches 'ab.*';
         c = FOREACH b GENERATE k, UPPER(v) AS vu, (k > 5 ? 'hi' : 'lo') AS tier;
         d = GROUP c BY (k, vu);
         e = FOREACH d GENERATE FLATTEN(group), COUNT_STAR(c) AS n;
         f = ORDER e BY n DESC, k ASC;
         g = LIMIT f 10;
         STORE g INTO 'out' USING PigStorage('\t');""")
    assert(stmts.length == 8)
    val err = intercept[IllegalArgumentException] {
      PigParser.parseScript("a = FILTER BY ;")
    }
    assert(err.getMessage.contains("line 1"))
  }

  test("preprocessor: params, %default, macro expansion with hygiene") {
    val out = PigPreprocessor(
      """%default P '0.5';
         DEFINE m(R, n) RETURNS T { t = LIMIT $R $n; $T = DISTINCT t; };
         a = LOAD '$DIR/x';
         b = m(a, 7);
         c = SAMPLE b $P;""",
      Map("DIR" -> "/data"))
    assert(out.contains("LOAD '/data/x'"))
    assert(out.contains("= LIMIT a 7"))
    assert(out.contains("b = DISTINCT"))
    assert(out.contains("SAMPLE b 0.5"))
    assert(!out.toLowerCase.contains("define"))
    // macro-local alias `t` must be renamed (hygiene)
    assert(!out.linesIterator.exists(_.trim.startsWith("t =")))
  }

  test("param precedence: %default < param file < CLI < %declare") {
    val fileParams = PigPreprocessor.parseParamFile(
      "# a comment\nA=file_a\nB='file_b'\nC=file_c\n")
    val out = PigPreprocessor(
      """%default A 'def_a';
         %default D 'def_d';
         %declare C 'decl_c';
         x = LOAD '/$A/$B/$C/$D';""",
      Map("B" -> "cli_b", "C" -> "cli_c"), fileParams)
    assert(out.contains("'/file_a/cli_b/decl_c/def_d'"))
  }

  test("PigScript.run reads -param_file files") {
    val f = java.nio.file.Files.createTempFile("graft_params", ".txt")
    java.nio.file.Files.writeString(f, s"DIR=$sf\n")
    val r = PigScript.run(spark,
      "L = LOAD '$DIR/nation.parquet' USING parquet;",
      paramFiles = Seq(f.toString))
    assert(r("L").count() == tables.nation.count())
  }

  test("\\$ escapes a literal dollar through substitution; DIFF/SUBTRACT bags work") {
    val out = PigPreprocessor("""b = FILTER a BY v matches 'x\$y';""",
      Map("y" -> "SHOULD_NOT_APPEAR"))
    assert(out.contains("'x$y'"), out)
    val df = PigScript.query(spark,
      """N = LOAD '$DIR/nation.parquet' USING parquet;
         G = GROUP N ALL;
         D = FOREACH G GENERATE SIZE(DIFF(N.n_nationkey, N.n_nationkey)) AS n_diff,
             SIZE(SUBTRACT(N.n_nationkey, N.n_nationkey)) AS n_sub;""",
      Map("DIR" -> sf))
    val r = df.head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
  }

  test("macro: prefix-named params don't corrupt longer refs") {
    val out = PigPreprocessor(
      """DEFINE m(p, prio) RETURNS T { f = FILTER $p BY pr > $prio; $T = LIMIT f 3; };
         a = LOAD 'x';
         b = m(a, 5);""", Map.empty)
    assert(out.contains("BY pr > 5"), s"$$prio corrupted by $$p: $out")
    assert(out.contains("FILTER a BY"))
  }

  test("macro hygiene: column sharing a local alias's name is not renamed") {
    val out = PigPreprocessor(
      """DEFINE m(R) RETURNS T { t = FILTER $R BY t > 5; $T = LIMIT t 3; };
         b = m(a);""", Map.empty)
    // the COLUMN t in the predicate survives; the ALIAS t is renamed
    assert(out.contains("BY t > 5"), s"column ref was renamed: $out")
    assert("""LIMIT __m\d+_t 3""".r.findFirstIn(out).isDefined,
      s"alias operand not renamed: $out")
    assert(!out.linesIterator.exists(_.trim.startsWith("t =")),
      s"alias lhs not renamed: $out")
  }

  // ---------------- compiler semantics ----------------

  test("algebraic FOREACH-on-GROUP compiles to relational agg (no collect_list)") {
    val df = PigScript.query(spark,
      """L = LOAD '$DIR/lineitem.parquet' USING parquet;
         G = GROUP L BY l_returnflag;
         A = FOREACH G GENERATE group AS l_returnflag, COUNT_STAR(L) AS n,
             SUM(L.l_quantity) AS sq;""",
      Map("DIR" -> sf))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_list"), "combiner path must not build bags")
    val expect = tables.lineitem.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sq"))
    assert(df.orderBy("l_returnflag").collect().toSeq ==
      expect.orderBy("l_returnflag").collect().toSeq)
  }

  test("non-algebraic FOREACH materializes bags (structural use)") {
    val df = PigScript.query(spark,
      """L = LOAD '$DIR/lineitem.parquet' USING parquet;
         G = GROUP L BY l_orderkey;
         A = FOREACH G GENERATE group AS l_orderkey, FLATTEN(L.l_linenumber) AS ln;""",
      Map("DIR" -> sf))
    assert(df.count() == tables.lineitem.count())
  }

  test("join qualifies columns alias::col and suffix resolution works") {
    val r = PigScript.run(spark,
      """N = LOAD '$DIR/nation.parquet' USING parquet;
         R = LOAD '$DIR/region.parquet' USING parquet;
         J = JOIN N BY n_regionkey, R BY r_regionkey;""",
      Map("DIR" -> sf))
    val j = r("J")
    assert(j.columns.contains("N::n_name") && j.columns.contains("R::r_name"))
    // unqualified refs still resolve through the :: suffix
    val p = PigScript.query(spark,
      """N = LOAD '$DIR/nation.parquet' USING parquet;
         R = LOAD '$DIR/region.parquet' USING parquet;
         J = JOIN N BY n_regionkey, R BY r_regionkey;
         P = FOREACH J GENERATE n_name, r_name;""",
      Map("DIR" -> sf))
    assert(p.columns.toSeq == Seq("n_name", "r_name"))
    assert(p.count() == tables.nation.count())
  }

  test("replicated join broadcasts the small side") {
    val df = PigScript.query(spark,
      """L = LOAD '$DIR/lineitem.parquet' USING parquet;
         S = LOAD '$DIR/supplier.parquet' USING parquet;
         J = JOIN L BY l_suppkey, S BY s_suppkey USING 'replicated';""",
      Map("DIR" -> sf))
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"), s"expected BHJ in:\n$phys")
  }

  test("PigStorage with a multi-char delimiter round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("graft_multidelim")
    val f = dir.resolve("rows.txt")
    java.nio.file.Files.writeString(f, "1||alpha\n2||beta\n3||ga||mma\n")
    val df = PigScript.query(spark,
      s"""L = LOAD '$f' USING PigStorage('||') AS (k:int, v:chararray);
          B = FILTER L BY k >= 2;""")
    val rows = df.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    // the 3rd line has an extra delimiter: Pig keeps the first fields
    assert(rows == Set(2 -> "beta", 3 -> "ga"))
  }

  test("lazy-typed LOAD: positional refs + cast-at-use (bad cells -> null)") {
    val p = java.nio.file.Files.createTempFile("graft-lazy", ".csv")
    java.nio.file.Files.write(p, "1,aa,10\n2,bb,x\n3,cc,30\n".getBytes)
    val df = PigScript.query(spark,
      s"""N = LOAD '${p}' USING PigStorage(',');
          P = FOREACH N GENERATE (int)$$0 AS k, $$1 AS v, (int)$$2 AS n;
          F = FILTER P BY n is not null;""")
    val rows = df.orderBy("k").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 3)) // 'x' cast -> null, filtered
  }

  test("SPLIT registers branches incl. OTHERWISE; partition is exact") {
    val r = PigScript.run(spark,
      """O = LOAD '$DIR/orders.parquet' USING parquet;
         SPLIT O INTO hi IF o_totalprice > 100000.0, lo OTHERWISE;""",
      Map("DIR" -> sf))
    val total = tables.orders.count()
    assert(r("hi").count() + r("lo").count() == total)
    assert(r("hi").filter(col("o_totalprice") <= 100000.0).count() == 0)
  }

  test("STREAM THROUGH pipes rows via the shell") {
    val df = PigScript.query(spark,
      """N = LOAD '$DIR/nation.parquet' USING parquet;
         P = FOREACH N GENERATE n_name;
         S = STREAM P THROUGH `tr a-z A-Z` AS (name_uc:chararray);""",
      Map("DIR" -> sf))
    val names = df.collect().map(_.getString(0)).toSet
    assert(names.contains("CANADA") || names.exists(_.forall(c => !c.isLower)))
    assert(df.count() == tables.nation.count())
  }

  test("DEFINE cmd + SHIP distributes the script; STREAM THROUGH name resolves it") {
    val scriptFile = java.nio.file.Files.createTempFile("graft-ship", ".sh")
    java.nio.file.Files.write(scriptFile,
      "#!/bin/sh\ntr a-z A-Z\n".getBytes)
    scriptFile.toFile.setExecutable(true)
    val df = PigScript.query(spark,
      s"""DEFINE upcase `sh ${scriptFile.getFileName}` SHIP('$scriptFile');
          N = LOAD '$$DIR/nation.parquet' USING parquet;
          P = FOREACH N GENERATE n_name;
          S = STREAM P THROUGH upcase AS (name_uc:chararray);""",
      Map("DIR" -> sf))
    val names = df.collect().map(_.getString(0))
    assert(names.length == tables.nation.count())
    assert(names.forall(n => n == n.toUpperCase))
  }

  test("runInto registers script aliases in a GraftSession for SQL/DESCRIBE") {
    val session = new graft.core.GraftSession(spark)
    PigScript.runInto(session,
      """O = LOAD '$DIR/orders.parquet' USING parquet;
         U = FILTER O BY o_orderpriority == '1-URGENT';""",
      Map("DIR" -> sf))
    assert(session.aliases.contains("U"))
    assert(session.describe("U").contains("o_orderkey"))
    val viaSql = session.sql("SELECT count(*) AS n FROM U").collect()(0).getLong(0)
    assert(viaSql == tables.orders.filter(col("o_orderpriority") === "1-URGENT").count())
  }

  test("ILLUSTRATE statement parses; session walks the pipeline with samples") {
    val session = new graft.core.GraftSession(spark)
    PigScript.runInto(session,
      """O = LOAD '$DIR/orders.parquet' USING parquet;
         U = FILTER O BY o_orderpriority == '1-URGENT';
         T = LIMIT U 3;
         ILLUSTRATE T;""",
      Map("DIR" -> sf))
    val out = session.illustrate("T", n = 2)
    // every pipeline step appears, in order, with schema and examples
    val idx = Seq("O:", "U:", "T:").map(out.indexOf)
    assert(idx.forall(_ >= 0) && idx == idx.sorted, out)
    assert(out.contains("o_orderpriority:string"), out)
    assert(out.contains("'1-URGENT'"), out)
    intercept[NoSuchElementException](session.illustrate("missing"))
  }

  test("ASSERT passes silently when the predicate holds, fails the job when not") {
    val ok = PigScript.query(spark,
      """N = LOAD '$DIR/nation.parquet' USING parquet;
         ASSERT N BY n_nationkey >= 0, 'keys are non-negative';
         P = FOREACH N GENERATE n_name;""",
      Map("DIR" -> sf))
    assert(ok.count() == tables.nation.count())
    val boom = intercept[Exception] {
      PigScript.query(spark,
        """N = LOAD '$DIR/nation.parquet' USING parquet;
           ASSERT N BY n_nationkey > 5, 'planted failure';
           P = FOREACH N GENERATE n_name;""",
        Map("DIR" -> sf)).count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(boom).exists(c =>
      Option(c.getMessage).exists(_.contains("planted failure"))))
  }

  test("JOIN USING 'merge' plans a sort-merge join; EXPLAIN statement parses") {
    val df = PigScript.query(spark,
      """O = LOAD '$DIR/orders.parquet' USING parquet;
         C = LOAD '$DIR/customer.parquet' USING parquet;
         J = JOIN O BY o_custkey, C BY c_custkey USING 'merge';
         EXPLAIN J;
         G = FOREACH (GROUP J ALL) GENERATE COUNT(J) AS n;""",
      Map("DIR" -> sf))
    // the MERGE hint must survive compilation: with broadcast thresholds
    // active the un-hinted plan would pick BHJ, so SMJ proves the hint
    val plan = PigScript.query(spark,
      """O = LOAD '$DIR/orders.parquet' USING parquet;
         C = LOAD '$DIR/customer.parquet' USING parquet;
         J = JOIN O BY o_custkey, C BY c_custkey USING 'merge';""",
      Map("DIR" -> sf)).queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"))
    assert(df.collect()(0).getLong(0) ==
      tables.orders.join(tables.customer,
        col("o_custkey") === col("c_custkey")).count())
  }

  test("JOIN USING 'skewed' forces the shuffle-join shape AQE can skew-split") {
    // nation is tiny — the un-hinted plan broadcasts it, so SMJ in the
    // executed plan proves the skewed hint forced the shuffle shape
    val j = PigScript.query(spark,
      """C = LOAD '$DIR/customer.parquet' USING parquet;
         N = LOAD '$DIR/nation.parquet' USING parquet;
         J = JOIN C BY c_nationkey, N BY n_nationkey USING 'skewed';""",
      Map("DIR" -> sf))
    assert(j.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(j.count() ==
      tables.customer.join(tables.nation,
        col("c_nationkey") === col("n_nationkey")).count())
  }

  test("TOP builtin picks the n largest by the given field") {
    val df = PigScript.query(spark,
      """O = LOAD '$DIR/orders.parquet' USING parquet;
         P = FOREACH O GENERATE o_custkey AS ck, o_orderkey, o_totalprice;
         G = GROUP P BY ck;
         T = FOREACH G GENERATE group AS g_ck, TOP(2, 2, P) AS top2;
         R = FOREACH T GENERATE g_ck, FLATTEN(top2.o_totalprice) AS price;""",
      Map("DIR" -> sf))
    val got = df.groupBy(col("g_ck")).agg(min(col("price")).as("m")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc)
    val want = tables.orders
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
      .groupBy(col("o_custkey")).agg(min(col("o_totalprice")).as("m")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want)
  }

  test("SET default_parallel / spark.* apply to the session; MR-era keys are ignored") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val df = PigScript.query(spark,
        """SET default_parallel 7;
           SET spark.sql.autoBroadcastJoinThreshold 1048576;
           SET job.name 'legacy-mr-prop';
           O = LOAD '$DIR/orders.parquet' USING parquet;
           G = FOREACH (GROUP O ALL) GENERATE COUNT(O) AS n;""",
        Map("DIR" -> sf))
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
      assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "1048576")
      assert(df.collect()(0).getLong(0) == tables.orders.count())
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("RANK BY is competition rank; RANK without BY is a sequence") {
    val ranked = PigScript.query(spark,
      """C = LOAD '$DIR/customer.parquet' USING parquet;
         R = RANK C BY c_acctbal DESC;""",
      Map("DIR" -> sf))
    assert(ranked.columns.head == "rank_C")
    assert(ranked.filter(col("rank_C") === 1).count() >= 1)
    val seq = PigScript.query(spark,
      """N = LOAD '$DIR/nation.parquet' USING parquet;
         R = RANK N;""",
      Map("DIR" -> sf))
    assert(seq.select(col("rank_N")).collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to tables.nation.count()).toSeq)
  }

  test("nested FOREACH, FILTER-only: filtered relational agg, no bags") {
    val df = PigScript.query(spark,
      """L = LOAD '$DIR/lineitem.parquet' USING parquet;
         G = GROUP L BY l_orderkey;
         A = FOREACH G {
           big = FILTER L BY l_quantity > 25.0;
           huge = FILTER big BY l_quantity > 45.0;
           GENERATE group AS l_orderkey, COUNT_STAR(L) AS n,
                    COUNT_STAR(big) AS n_big, COUNT_STAR(huge) AS n_huge;
         };""",
      Map("DIR" -> sf))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_list"), "filter-only nested block must stay bag-free")
    val expect = tables.lineitem.groupBy(col("l_orderkey")).agg(
      count(lit(1)).as("n"),
      count(when(col("l_quantity") > 25.0, lit(1))).as("n_big"),
      count(when(col("l_quantity") > 25.0 && col("l_quantity") > 45.0, lit(1))).as("n_huge"))
    assert(df.orderBy("l_orderkey").collect().toSeq ==
      expect.orderBy("l_orderkey").collect().toSeq)
  }

  test("nested ORDER/LIMIT bag is PRUNED to the referenced fields") {
    // round 18: the bag path used to collect_list(struct(<all 11
    // lineitem columns>)) — nothing prunes through a collect buffer,
    // so the nested top-k shuffled whole rows per element. The pruned
    // materialization must reach the SCAN: ReadSchema carries only the
    // group key + the one referenced field.
    val df = PigScript.query(spark,
      """L = LOAD '$DIR/lineitem.parquet' USING parquet;
         G = GROUP L BY l_suppkey;
         A = FOREACH G {
           s = ORDER L BY l_extendedprice DESC;
           t = LIMIT s 2;
           GENERATE group AS l_suppkey, FLATTEN(t.l_extendedprice) AS price;
         };""",
      Map("DIR" -> sf))
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains(
      "ReadSchema: struct<l_suppkey:bigint,l_extendedprice:double>"),
      s"bag pruning must reach the scan:\n${formatted.take(3000)}")
    // results unchanged vs the window top-k twin (multiset — ties
    // among equal prices are value-identical either way)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_suppkey")).orderBy(col("l_extendedprice").desc)
    val expect = tables.lineitem
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("l_suppkey"), col("l_extendedprice").as("price"))
    assert(df.orderBy("l_suppkey", "price").collect().toSeq ==
      expect.orderBy("l_suppkey", "price").collect().toSeq)
    // a whole-bag GENERATE must refuse pruning: every field survives
    // to the scan (o_orderpriority is referenced nowhere explicitly)
    val whole = PigScript.query(spark,
      """O = LOAD '$DIR/orders.parquet' USING parquet;
         G = GROUP O BY o_custkey;
         A = FOREACH G {
           s = ORDER O BY o_totalprice DESC;
           t = LIMIT s 1;
           GENERATE group AS gk, FLATTEN(t);
         };""",
      Map("DIR" -> sf))
    val wholePlan = whole.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(wholePlan.contains("o_orderpriority"),
      s"whole-tuple FLATTEN must keep every field:\n${wholePlan.take(3000)}")
  }

  test("plain COUNT over a pruned bag keeps Pig's first-field-null rule") {
    // Pig COUNT(bag) skips tuples whose FIRST field is null. The bag
    // pruner must therefore keep the child's first column (in first
    // position) whenever a plain COUNT references the bag — otherwise
    // pruning would count nulls of some OTHER field. Regression spec
    // for the round-18 carve-out that treated COUNT as length-only.
    val dir = java.nio.file.Files.createTempDirectory("graft_count_null_")
    val data = spark.createDataFrame(Seq(
      (Option.empty[Long], 1L, 10.0), // first field NULL: COUNT skips it
      (Some(1L), 1L, 30.0),
      (Some(2L), 1L, 20.0),
      (Some(3L), 2L, 5.0),
      (Option.empty[Long], 2L, 50.0)
    )).toDF("first_f", "k", "v")
    data.write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = PigScript.query(spark,
      """T = LOAD '$DIR/t.parquet' USING parquet;
         G = GROUP T BY k;
         A = FOREACH G {
           s = ORDER T BY v DESC;
           t = LIMIT s 2;
           GENERATE group AS k, COUNT(t) AS n;
         };""",
      Map("DIR" -> dir.toString))
    // the pruner fires (only first_f + v needed of 3 columns) ...
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("collect_list"), plan.take(2000))
    // k=1: top-2 by v = (30.0, first=1), (20.0, first=2) -> COUNT 2
    // k=2: top-2 by v = (50.0, first=NULL), (5.0, first=3) -> COUNT 1
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (2L, 1L)), got)
  }

  test("nested FOREACH with ORDER/LIMIT/DISTINCT runs on bag HOFs") {
    val df = PigScript.query(spark,
      """O = LOAD '$DIR/orders.parquet' USING parquet;
         G = GROUP O BY o_custkey;
         A = FOREACH G {
           d = DISTINCT O;
           s = ORDER d BY o_totalprice DESC;
           t = LIMIT s 2;
           GENERATE group AS o_custkey, COUNT_STAR(t) AS n_top;
         };""",
      Map("DIR" -> sf))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = tables.orders.groupBy("o_custkey").count()
      .collect().map(r => r.getLong(0) -> math.min(r.getLong(1), 2L)).toMap
    assert(got == expect)
  }

  test("inline-relation FOREACH (GROUP ...) stays on the combiner path") {
    val df = pigDf("/pig/q98_inline_foreach.pig")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_list"),
      "inline FOREACH-on-GROUP must compile to a bag-free aggregate")
    val expect = tables.lineitem.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"), sum("l_quantity").as("sum_qty"))
    assert(df.orderBy("l_returnflag").collect().toSeq ==
      expect.orderBy("l_returnflag").collect().toSeq)
    // the inline op can be any relational op, not just GROUP
    val flt = PigScript.query(spark,
      """O = LOAD '$DIR/orders.parquet' USING parquet;
         A = FOREACH (FILTER O BY o_totalprice > 100000.0)
             GENERATE o_orderkey, o_totalprice;""",
      Map("DIR" -> sf))
    assert(flt.count() ==
      tables.orders.filter(col("o_totalprice") > 100000.0).count())
    // inline relation + nested block compose (algebraic path)
    val nested = PigScript.query(spark,
      """O = LOAD '$DIR/orders.parquet' USING parquet;
         A = FOREACH (GROUP O BY o_custkey) {
           big = FILTER O BY o_totalprice > 100000.0;
           GENERATE group AS o_custkey, COUNT_STAR(big) AS n_big;
         };""",
      Map("DIR" -> sf))
    assert(!nested.queryExecution.optimizedPlan.toString.contains("collect_list"))
    val twin = tables.orders.groupBy("o_custkey")
      .agg(count(when(col("o_totalprice") > 100000.0, lit(1))).as("n_big"))
    assert(nested.orderBy("o_custkey").collect().toSeq ==
      twin.orderBy("o_custkey").collect().toSeq)
  }

  test("nested inner FOREACH projection: algebraic path, no bags") {
    val df = pigDf("/pig/q99_nested_foreach.pig")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("collect_list"),
      "inner-FOREACH projection must be absorbed by the combiner path")
    val dq = col("l_quantity") * 2.0
    val expect = tables.lineitem.groupBy(col("l_suppkey")).agg(
      sum(dq).as("sum_dqty"),
      count(when(dq > 60.0, lit(1))).as("n_big"),
      max(when(dq > 60.0, dq)).as("max_big"))
    assert(df.orderBy("l_suppkey").collect().toSeq ==
      expect.orderBy("l_suppkey").collect().toSeq)
  }

  test("nested inner FOREACH + projection shorthand on the bag (HOF) path") {
    // ORDER in the pipeline forces materialized bags; the inner FOREACH
    // then runs as a per-element transform() and `q = O.field;` is the
    // single-field projection shorthand
    val df = PigScript.query(spark,
      """O = LOAD '$DIR/orders.parquet' USING parquet;
         G = GROUP O BY o_custkey;
         A = FOREACH G {
           s = ORDER O BY o_totalprice DESC;
           t = LIMIT s 3;
           p = FOREACH t GENERATE o_totalprice * 0.5 AS half;
           q = p.half;
           GENERATE group AS o_custkey, SUM(q.half) AS sum_half;
         };""",
      Map("DIR" -> sf))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
    val expect = tables.orders
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .groupBy("o_custkey").agg(sum(col("o_totalprice") * 0.5).as("sum_half"))
    val got = df.collect().map(r => r.getLong(0) -> math.round(r.getDouble(1) * 100)).toMap
    val exp = expect.collect().map(r => r.getLong(0) -> math.round(r.getDouble(1) * 100)).toMap
    assert(got == exp)
  }

  test("scalar alias: one-row relation field as a per-row scalar") {
    val df = pigDf("/pig/q102_scalar_alias.pig")
    // the scalar binds via a broadcast (nested-loop) join of one row —
    // never a shuffle
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    val avgQty = tables.lineitem.agg(avg("l_quantity")).head().getDouble(0)
    val expect = tables.lineitem.filter(col("l_quantity") > avgQty * 1.5)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") / avgQty).as("qty_ratio"))
    assert(df.orderBy("l_orderkey", "l_linenumber").collect().toSeq ==
      expect.orderBy("l_orderkey", "l_linenumber").collect().toSeq)
    // the reference's runtime error on a multi-row scalar
    val boom = intercept[Exception] {
      PigScript.query(spark,
        """L = LOAD '$DIR/nation.parquet' USING parquet;
           B = FOREACH L GENERATE n_name, L.n_nationkey AS k;""",
        Map("DIR" -> sf)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(boom).exists(m => m != null && m.contains("more than one row")),
      boom.toString)
  }

  test("range projection a..b / ..b / a.. / $i..$j expands schema columns") {
    val q = (gen: String) => PigScript.query(spark,
      s"""N = LOAD '$$DIR/nation.parquet' USING parquet;
          B = FOREACH N GENERATE $gen;""", Map("DIR" -> sf))
    // nation schema: n_nationkey, n_name, n_regionkey
    assert(q("n_nationkey..n_name").columns.toSeq == Seq("n_nationkey", "n_name"))
    assert(q("..n_name").columns.toSeq == Seq("n_nationkey", "n_name"))
    assert(q("n_name..").columns.toSeq == Seq("n_name", "n_regionkey"))
    assert(q("$1..$2").columns.toSeq == Seq("n_name", "n_regionkey"))
    assert(q("n_nationkey, n_name..").columns.length == 3)
    // values survive the expansion
    val full = q("n_nationkey..n_regionkey").orderBy("n_nationkey").collect().toSeq
    assert(full == tables.nation.orderBy("n_nationkey").collect().toSeq)
    intercept[IllegalArgumentException](q("n_regionkey..n_name").collect())
  }

  test("CASE expression: searched + simple forms, bag-free in the agg path") {
    val df = pigDf("/pig/q103_case.pig")
    assert(!df.queryExecution.optimizedPlan.toString.contains("collect_list"))
    val bucket = when(col("o_totalprice") > 200000.0, "big")
      .when(col("o_totalprice") > 100000.0, "mid").otherwise("small")
    val status = when(col("o_orderstatus") === "F", "done")
      .when(col("o_orderstatus") === "O", "open").otherwise("other")
    val expect = tables.orders
      .select(bucket.as("bucket"), status.as("status_word"))
      .groupBy("bucket", "status_word").agg(count(lit(1)).as("n"))
      .withColumn("freq", when(col("n") > 100, "common").otherwise("rare"))
    assert(df.orderBy("bucket", "status_word").collect().toSeq ==
      expect.orderBy("bucket", "status_word").collect().toSeq)
    // no ELSE -> null, like Pig/SQL
    val nul = PigScript.query(spark,
      """N = LOAD '$DIR/nation.parquet' USING parquet;
         B = FOREACH N GENERATE (CASE WHEN n_nationkey < 0 THEN 'x' END) AS c;""",
      Map("DIR" -> sf))
    assert(nul.filter(col("c").isNotNull).count() == 0)
  }

  test("PARALLEL clause parses and is ignored (AQE owns parallelism)") {
    val df = PigScript.query(spark,
      """L = LOAD '$DIR/lineitem.parquet' USING parquet;
         G = GROUP L BY l_returnflag PARALLEL 16;
         A = FOREACH G GENERATE group AS l_returnflag, COUNT_STAR(L) AS n PARALLEL 4;""",
      Map("DIR" -> sf))
    assert(df.count() == tables.lineitem.select("l_returnflag").distinct().count())
  }

  test("PARTITION BY parses and is ignored") {
    val df = PigScript.query(spark,
      """L = LOAD '$DIR/lineitem.parquet' USING parquet;
         G = GROUP L BY l_returnflag
             PARTITION BY org.example.MyPartitioner PARALLEL 8;
         A = FOREACH G GENERATE group AS l_returnflag, COUNT_STAR(L) AS n;
         D = DISTINCT A PARTITION BY org.example.MyPartitioner;""",
      Map("DIR" -> sf))
    assert(df.count() == tables.lineitem.select("l_returnflag").distinct().count())
  }

  test("GROUP USING 'collected' on unclustered input is a loud refusal") {
    // Pig fails the job when the loader is not a CollectableLoadFunc;
    // the Spark-native contract is the same — a path-based parquet
    // scan has no bucketing metadata, so the hint must refuse, not
    // silently shuffle
    val e = intercept[IllegalArgumentException] {
      PigScript.query(spark,
        """L = LOAD '$DIR/lineitem.parquet' USING parquet;
           G = GROUP L BY l_returnflag USING 'collected';
           A = FOREACH G GENERATE group, COUNT_STAR(L) AS n;""",
        Map("DIR" -> sf))
    }
    assert(e.getMessage.contains("clustered"), e.getMessage)
  }

  test("GROUP USING 'collected' over a bucketed table: honored, zero Exchange") {
    spark.sql("DROP TABLE IF EXISTS pg_bucketed_li")
    tables.lineitem.select(col("l_orderkey"), col("l_linenumber"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("pg_bucketed_li")
    val df = PigScript.query(spark,
      """L = LOAD 'pg_bucketed_li' USING hcatloader;
         G = GROUP L BY l_orderkey USING 'collected';
         A = FOREACH G GENERATE group AS l_orderkey, COUNT_STAR(L) AS n;""",
      Map.empty)
    assert(df.count() == tables.lineitem.select("l_orderkey").distinct().count())
    // the map-side-group contract delivered: no shuffle anywhere in
    // the aggregate — the bucketed scan already clusters the key
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"collected group still shuffles:\n$plan")
    // 'merge' (sorted input) rides the same contract
    val dfm = PigScript.query(spark,
      """L = LOAD 'pg_bucketed_li' USING hcatloader;
         G = GROUP L BY l_orderkey USING 'merge';
         A = FOREACH G GENERATE group AS l_orderkey, COUNT_STAR(L) AS n;""",
      Map.empty)
    assert(!dfm.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"))
  }

  test("GROUP USING an unknown group type is a parse error") {
    val e = intercept[IllegalArgumentException] {
      PigScript.query(spark,
        """L = LOAD '$DIR/lineitem.parquet' USING parquet;
           G = GROUP L BY l_returnflag USING 'regular';""",
        Map("DIR" -> sf))
    }
    assert(e.getMessage.toLowerCase.contains("parse error"))
  }

  test("ORDER USING a reverse comparator flips the order") {
    import spark.implicits._
    val df = PigScript.query(spark,
      """O = LOAD '$DIR/orders.parquet' USING parquet;
         S = ORDER O BY o_orderkey USING org.example.ReverseComparator;
         T = LIMIT S 5;
         R = FOREACH T GENERATE o_orderkey;""",
      Map("DIR" -> sf))
    val got = df.as[Long].collect().toSeq
    val want = tables.orders.select(col("o_orderkey")).as[Long]
      .collect().sorted.reverse.take(5).toSeq
    assert(got.sorted == want.sorted)
  }

  test("ORDER USING a case-insensitive comparator folds string keys") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_ci_").toString
    Seq(("b", 1), ("A", 2), ("a", 3), ("B", 4), ("C", 5))
      .toDF("name", "v").write.parquet(s"$t/x.parquet")
    val df = PigScript.query(spark,
      s"""X = LOAD '$t/x.parquet' USING parquet;
          S = ORDER X BY name USING org.example.CaseInsensitiveComparator;
          R = FOREACH S GENERATE name;""")
    // lower(name) first, raw name as tiebreak: A a B b C
    assert(df.as[String].collect().toSeq == Seq("A", "a", "B", "b", "C"))
  }

  test("ORDER USING an arbitrary comparator class is refused loudly") {
    val e = intercept[IllegalArgumentException] {
      PigScript.query(spark,
        """O = LOAD '$DIR/orders.parquet' USING parquet;
           S = ORDER O BY o_orderkey USING org.example.MyComparator;""",
        Map("DIR" -> sf))
    }
    assert(e.getMessage.contains("unsupported comparator"))
  }

  test("DEFINE alias resolves an ORDER comparator") {
    import spark.implicits._
    val df = PigScript.query(spark,
      """DEFINE rev org.example.ReverseComparator();
         O = LOAD '$DIR/orders.parquet' USING parquet;
         S = ORDER O BY o_orderkey DESC USING rev;
         T = LIMIT S 3;
         R = FOREACH T GENERATE o_orderkey;""",
      Map("DIR" -> sf))
    // reverse of DESC = ASC: the three smallest keys
    val want = tables.orders.select(col("o_orderkey")).as[Long]
      .collect().sorted.take(3).toSeq
    assert(df.as[Long].collect().toSeq.sorted == want)
  }

  test("IMPORT inlines a macro file") {
    val f = java.nio.file.Files.createTempFile("graft_macros", ".pig")
    java.nio.file.Files.writeString(f,
      "DEFINE top_n(R, n) RETURNS T { s = ORDER $R BY o_totalprice DESC; $T = LIMIT s $n; };\n")
    val df = PigScript.query(spark,
      s"""IMPORT '$f';
          O = LOAD '$$DIR/orders.parquet' USING parquet;
          B = top_n(O, 5);""",
      Map("DIR" -> sf))
    assert(df.count() == 5)
    val got = df.select(col("o_totalprice")).collect().map(_.getDouble(0)).sorted.reverse
    val expect = tables.orders.orderBy(col("o_totalprice").desc).limit(5)
      .select("o_totalprice").collect().map(_.getDouble(0)).sorted.reverse
    assert(got.toSeq == expect.toSeq)
  }

  test("CUBE statement matches DataFrame cube; ROLLUP matches rollup") {
    val pigCube = pigDf("/pig/q96_cube.pig")
    val dfCube = tables.lineitem.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
    assert(pigCube.orderBy(asc_nulls_first("l_returnflag"),
        asc_nulls_first("l_linestatus")).collect().toSeq ==
      dfCube.orderBy(asc_nulls_first("l_returnflag"),
        asc_nulls_first("l_linestatus")).collect().toSeq)
    assert(pigDf("/pig/q97_rollup.pig").count() ==
      tables.orders.rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1))).count())
  }

  // ---------------- bundled queries vs DataFrame twins ----------------

  test("q77 pig == q01-style DataFrame result") {
    val pig = pigDf("/pig/q77_scan_filter.pig")
    val df = tables.lineitem
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
              col("l_shipdate") < lit("1997-02-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    assert(pig.orderBy("l_orderkey", "l_linenumber").collect().toSeq ==
      df.orderBy("l_orderkey", "l_linenumber").collect().toSeq)
  }

  test("q78 pig group/agg == DataFrame twin") {
    val pig = pigDf("/pig/q78_group_agg.pig")
    val df = tables.lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("count_order"), sum("l_quantity").as("sum_qty"),
        min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"))
    assert(pig.orderBy("l_returnflag", "l_linestatus").collect().toSeq ==
      df.orderBy("l_returnflag", "l_linestatus").collect().toSeq)
  }

  test("q86 pig cogroup counts == SQL twin") {
    val pig = pigDf("/pig/q86_cogroup.pig")
    val c = tables.customer.groupBy(col("c_custkey").as("k")).agg(count(lit(1)).as("nc"))
    val o = tables.orders.groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("no"))
    val expect = c.join(o, Seq("k"), "full_outer")
      .select(col("k"), coalesce(col("nc"), lit(0L)).as("n_cust"),
        coalesce(col("no"), lit(0L)).as("n_orders"))
    assert(pig.orderBy("c_custkey").collect().toSeq ==
      expect.orderBy("k").collect().toSeq)
  }

  test("error corpus: malformed scripts fail fast with position/context") {
    def err(script: String): String =
      intercept[IllegalArgumentException] {
        PigScript.query(spark, script, Map("DIR" -> sf))
      }.getMessage
    val load = "L = LOAD '$DIR/nation.parquet' USING parquet;\n"

    // parse errors carry line/col
    assert(err("a = FILTER BY x;").contains("line 1"))
    assert(err(load + "b = FOREACH L GENERATE ;").contains("line 2"))
    // unknown alias / column; ambiguity after a join
    assert(err("b = FILTER nope BY x > 1;").contains("unknown alias 'nope'"))
    locally { // compile/plan-build errors name the alias and its line
      val m = err(load + "B = FILTER L BY nope > 1;")
      assert(m.contains("unknown column 'nope'") && m.contains("in 'B' (line 2)"), m)
    }
    assert(err(load + "M = L;\nJ = JOIN L BY n_nationkey, M BY n_nationkey;\n" +
      "B = FOREACH J GENERATE n_name;").contains("ambiguous column 'n_name'"))
    // schema/arity violations
    assert(err("L = LOAD '$DIR/nation.parquet' USING parquet AS " +
      "(a,b,c,d,e,f,g,h,i,j);\nB = FOREACH L GENERATE a;")
      .contains("AS clause names 10 fields"))
    assert(err(load + "G = GROUP L BY n_regionkey;\n" +
      "A = FOREACH G GENERATE FLATTEN(group) AS (a, b), COUNT_STAR(L) AS n;")
      .contains("FLATTEN(group) AS arity 2 != 1"))
    // unknown function
    assert(err(load + "B = FOREACH L GENERATE NOSUCH(n_name);")
      .contains("unknown function NOSUCH"))
    // nested pipeline misuse
    assert(err(load + "G = GROUP L BY n_regionkey;\nA = FOREACH G {\n" +
      "  x = FILTER missing BY n_nationkey > 1;\n" +
      "  GENERATE group, COUNT_STAR(x) AS n;\n};")
      .contains("not the bag or an earlier nested alias"))
    assert(err(load + "G = GROUP L BY n_regionkey;\nA = FOREACH G {\n" +
      "  x = DISTINCT group;\n  GENERATE group, FLATTEN(x);\n};")
      .contains("over non-bag"))
    assert(err(load + "G = GROUP L BY n_regionkey;\nA = FOREACH G {\n" +
      "  p = FOREACH L GENERATE n_name AS nm;\n" +
      "  GENERATE group, SUM(p.nope) AS s;\n};")
      .contains("projected bag has no field 'nope'"))
    // macro / parameter errors
    assert(err("DEFINE m(a, b) RETURNS T { $T = LIMIT $a $b; };\nx = m(1);")
      .contains("macro m: expected 2 args, got 1"))
    assert(err("a = LOAD '$NOPE/x';").contains("undefined parameter $NOPE"))
    // operator-specific constraints
    assert(err(load + "S = STREAM L THROUGH nosuch AS (x);")
      .contains("no such DEFINEd command"))
    assert(err(load + "R = RANK L BY n_nationkey ASC, n_regionkey DESC;")
      .contains("uniform sort direction"))
    // round-5 surface: special loaders and the MAPREDUCE bridge
    assert(err("X = LOAD '$DIR/x' USING XMLLoader(); STORE X INTO 'o';")
      .contains("XMLLoader needs a tag argument"))
    assert(err("X = LOAD '$DIR/x' USING HBaseStorage(); STORE X INTO 'o';")
      .contains("HBaseStorage needs a column list"))
    locally { // job succeeded but produced no output → the LOAD fails
      val e = intercept[Throwable] {
        PigScript.query(spark, load +
          "R = MAPREDUCE 'true' STORE L INTO '/tmp/graft_mr_err/in' " +
          "LOAD '/tmp/graft_mr_err/nonexistent' AS (x:int);\nSTORE R INTO 'o';",
          Map("DIR" -> sf)).count()
      }
      assert(e.getMessage.contains("nonexistent"), e.getMessage)
    }
    // MAPREDUCE grammar: missing STORE clause is a parse error with position
    assert(err(load + "R = MAPREDUCE 'x' LOAD '/tmp/y' AS (a:int);")
      .contains("line 2"))
  }

  test("all bundled pig queries run and return rows at sf0.001") {
    val resources = Seq(
      "/pig/q77_scan_filter.pig", "/pig/q78_group_agg.pig",
      "/pig/q79_join_group.pig", "/pig/q80_join_replicated.pig",
      "/pig/q81_left_join.pig", "/pig/q82_union_distinct.pig",
      "/pig/q83_order_limit.pig", "/pig/q84_flatten_tokenize.pig",
      "/pig/q85_split.pig", "/pig/q86_cogroup.pig", "/pig/q87_rank.pig",
      "/pig/q89_macro.pig", "/pig/q90_cross.pig",
      "/pig/q91_cogroup_semi.pig", "/pig/q92_scalar_funcs.pig",
      "/pig/q93_dates.pig")
    resources.foreach { r =>
      val n = pigDf(r).count()
      assert(n > 0, s"$r returned no rows")
    }
    // q88 needs its CSV fixture: exercised via SparkEntry
    val q88 = SparkEntry.queries("q88_pig_csv_lazy")(spark, sf)
    assert(q88.count() > 0)
    assert(q88.columns.toSeq == Seq("n_nationkey", "n_name_uc", "n_regionkey"))
  }

  test("fixed costs per script: LOAD plans with no job, a repeated pass compiles no class") {
    // parquet LOADs take their schema from the footer on the driver
    val l03 = PigParser.parseScript(PigPreprocessor(
      PigScript.resource("/pigmix/l03.pig"), Map("DIR" -> sf)))
    val loadJobs = jobsStarted(PigCompiler.compile(spark, l03))
    // the codegen cache holds every class one pass of the PigMix
    // stories generates, so the next pass compiles none again
    val stories = SparkEntry.queries.keys.filter(_.contains("_pigmix_")).toSeq.sorted
    assert(stories.size == 21)
    def pass(): Unit = stories.foreach(q => SparkEntry.queries(q)(spark, sf).collect())
    val compiled = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    pass()
    val before = compiled.getCount
    pass()
    val recompiled = compiled.getCount - before
    assert((loadJobs, recompiled) == ((0, 0)))
  }

  test("MAPREDUCE: external job bridges STORE -> LOAD") {
    val tmp = java.nio.file.Files.createTempDirectory("pig_mr").toString
    val df = graft.pig.PigScript.query(spark,
      s"""N = LOAD '$sf/nation.parquet' USING parquet;
          P = FOREACH N GENERATE n_nationkey, n_name;
          R = MAPREDUCE 'sort $tmp/in/part-* > $tmp/out.tsv'
              STORE P INTO '$tmp/in' USING PigStorage()
              LOAD '$tmp/out.tsv' USING PigStorage()
              AS (nk:int, name:chararray);
          STORE R INTO 'out';""")
    assert(df.count() == 25)
    assert(df.columns.toSeq == Seq("nk", "name"))
  }

  test("MAPREDUCE: failing job surfaces exit code and output") {
    val tmp = java.nio.file.Files.createTempDirectory("pig_mr_f").toString
    val e = intercept[IllegalArgumentException] {
      graft.pig.PigScript.query(spark,
        s"""N = LOAD '$sf/nation.parquet' USING parquet;
            R = MAPREDUCE 'false' STORE N INTO '$tmp/in' USING PigStorage()
                LOAD '$tmp/out' AS (x:int);
            STORE R INTO 'out';""").count()
    }
    assert(e.getMessage.contains("MAPREDUCE job failed"))
  }

  // ---------------- nested FOREACH FLATTEN ----------------

  test("nested FLATTEN: sub-bags expand per element, tuples in place, errors loud") {
    val tmp = java.nio.file.Files.createTempDirectory("pig_nflat").toString
    spark.sql(
      """SELECT id % 2 AS k,
                CASE WHEN id % 3 = 0 THEN
                       array(named_struct('a', id, 'b', id*2),
                             named_struct('a', id+10, 'b', 0L))
                     WHEN id % 3 = 1 THEN array(named_struct('a', -id, 'b', 1L))
                     WHEN id = 5 THEN CAST(NULL AS ARRAY<STRUCT<a:BIGINT,b:BIGINT>>)
                     ELSE array() END AS items,
                named_struct('x', id, 'y', CAST(id AS STRING)) AS tup
         FROM range(6)""").write.parquet(s"$tmp/in")
    // bag-of-structs FLATTEN with a scalar rider: each sub-element
    // pairs with its outer element's fields; null/empty sub-bags
    // contribute nothing (Pig inner-join FLATTEN)
    val a = graft.pig.PigScript.query(spark,
      s"""L = LOAD '$tmp/in' USING parquet;
          G = GROUP L BY k;
          A = FOREACH G {
            w = FOREACH L GENERATE k AS src, FLATTEN(items);
            GENERATE group AS k, COUNT_STAR(w) AS n, SUM(w.a) AS sum_a;
          };""")
    val exp = spark.read.parquet(s"$tmp/in")
      .select(col("k"), explode(col("items")).as("e"))
      .groupBy("k").agg(count(lit(1)).as("n"), sum(col("e.a")).as("sum_a"))
    assert(a.exceptAll(exp).isEmpty && exp.exceptAll(a).isEmpty,
      s"got ${a.collect().mkString}, want ${exp.collect().mkString}")
    // tuple FLATTEN expands in place — one element per input element
    val t2 = graft.pig.PigScript.query(spark,
      s"""L = LOAD '$tmp/in' USING parquet;
          G = GROUP L BY k;
          A = FOREACH G {
            t = FOREACH L GENERATE FLATTEN(tup) AS (x, y);
            GENERATE group AS k, COUNT_STAR(t) AS n, MAX(t.x) AS max_x;
          };""")
    val expT = spark.read.parquet(s"$tmp/in")
      .groupBy("k").agg(count(lit(1)).as("n"), max(col("tup.x")).as("max_x"))
    assert(t2.exceptAll(expT).isEmpty && expT.exceptAll(t2).isEmpty)
    // loud, positioned errors for the unsupported corners
    val e1 = intercept[IllegalArgumentException] {
      graft.pig.PigScript.query(spark,
        s"""L = LOAD '$tmp/in' USING parquet;
            G = GROUP L BY k;
            A = FOREACH G {
              w = FOREACH L GENERATE FLATTEN(items), FLATTEN(items);
              GENERATE group, COUNT_STAR(w) AS n;
            };""").collect()
    }
    assert(e1.getMessage.contains("multiple FLATTENs"), e1.getMessage)
    // FLATTEN of a COMPUTED expression (the former refusal) now
    // compiles: the per-element HOF is analyzed against the frame
    // schema for its type (round 13) — two tokens per input element
    val computed = graft.pig.PigScript.query(spark,
      s"""L = LOAD '$tmp/in' USING parquet;
          G = GROUP L BY k;
          A = FOREACH G {
            w = FOREACH L GENERATE FLATTEN(TOKENIZE('a b')) AS word;
            GENERATE group AS k, COUNT_STAR(w) AS n;
          };""")
    val expC = spark.read.parquet(s"$tmp/in")
      .groupBy("k").agg((count(lit(1)) * 2).as("n"))
    assert(computed.exceptAll(expC).isEmpty && expC.exceptAll(computed).isEmpty)
    // ...and an expression that does NOT analyze to a bag still
    // refuses with a positioned, actionable error
    val e2 = intercept[IllegalArgumentException] {
      graft.pig.PigScript.query(spark,
        s"""L = LOAD '$tmp/in' USING parquet;
            G = GROUP L BY k;
            A = FOREACH G {
              w = FOREACH L GENERATE FLATTEN(k + 1) AS word;
              GENERATE group, COUNT_STAR(w) AS n;
            };""").collect()
    }
    assert(e2.getMessage.contains("bag or tuple field") &&
      e2.getMessage.contains("line 3"), e2.getMessage)
  }

  // ---------------- multi-STORE shared scan (MultiQueryOptimizer) ----------------

  // ---------------- round-13 hardening sweep (PigMix variants) ----------------

  test("nested ORDER: multi-key, USING comparator, DEFINE alias, loud refusal") {
    import spark.implicits._
    // multi-key with mixed directions: qty DESC then price ASC tiebreak
    val multi = PigScript.query(spark,
      """L = LOAD '$DIR/lineitem.parquet' USING parquet;
         G = GROUP L BY l_suppkey;
         A = FOREACH G {
           s = ORDER L BY l_quantity DESC, l_extendedprice ASC;
           t = LIMIT s 1;
           GENERATE group AS sk, FLATTEN(t.l_extendedprice) AS price;
         };""", Map("DIR" -> sf))
    val want = tables.lineitem
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("l_suppkey")
          .orderBy(col("l_quantity").desc, col("l_extendedprice").asc)))
      .filter(col("rn") === 1)
      .select(col("l_suppkey").as("sk"), col("l_extendedprice").as("price"))
    assert(multi.orderBy("sk").collect().toSeq ==
      want.orderBy("sk").collect().toSeq)
    // reverse comparator via a DEFINE alias: reverse-of-DESC = the 2
    // smallest prices per supplier
    val rev = PigScript.query(spark,
      """DEFINE rev org.example.ReverseComparator();
         L = LOAD '$DIR/lineitem.parquet' USING parquet;
         G = GROUP L BY l_suppkey;
         A = FOREACH G {
           s = ORDER L BY l_extendedprice DESC USING rev;
           t = LIMIT s 2;
           GENERATE group AS sk, FLATTEN(t.l_extendedprice) AS price;
         };""", Map("DIR" -> sf))
    val wantRev = tables.lineitem
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("l_suppkey")
          .orderBy(col("l_extendedprice").asc)))
      .filter(col("rn") <= 2)
      .groupBy(col("l_suppkey")).agg(sum("l_extendedprice"))
      .as[(Long, Double)].collect().toMap
    val gotRev = rev.groupBy(col("sk")).agg(sum("price"))
      .as[(Long, Double)].collect().toMap
    assert(gotRev.keySet == wantRev.keySet &&
      gotRev.forall { case (k, v) => math.abs(v - wantRev(k)) < 1e-6 })
    // an arbitrary comparator refuses with the same diagnostic as the
    // top level — never a silent reorder
    val e = intercept[IllegalArgumentException] {
      PigScript.query(spark,
        """L = LOAD '$DIR/lineitem.parquet' USING parquet;
           G = GROUP L BY l_suppkey;
           A = FOREACH G {
             s = ORDER L BY l_extendedprice USING org.example.MyComparator;
             GENERATE group, COUNT_STAR(s);
           };""", Map("DIR" -> sf))
    }
    assert(e.getMessage.contains("unsupported comparator"))
  }

  test("nested FLATTEN of a computed expression, then DISTINCT") {
    import spark.implicits._
    val df = PigScript.query(spark,
      """D = LOAD '$DIR/documents.parquet' USING parquet;
         G = GROUP D BY lang;
         A = FOREACH G {
           toks = FOREACH D GENERATE FLATTEN(TOKENIZE(text)) AS tok;
           d = DISTINCT toks;
           GENERATE group AS lang, COUNT_STAR(d) AS n;
         };""", Map("DIR" -> sf))
    val want = tables.documents
      .select(col("lang"), explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("lang").agg(countDistinct("tok").as("n"))
      .as[(String, Long)].collect().toMap
    assert(df.as[(String, Long)].collect().toMap == want)
  }

  test("macro-wrapped replicated join keeps the broadcast hint through expansion") {
    val df = PigScript.query(spark,
      """DEFINE smalljoin(big, small) RETURNS J {
           $J = JOIN $big BY l_partkey, $small BY p_partkey USING 'replicated';
         };
         L = LOAD '$DIR/lineitem.parquet' USING parquet;
         P = LOAD '$DIR/part.parquet' USING parquet;
         S = FILTER P BY p_size < 5;
         J = smalljoin(L, S);
         A = FOREACH J GENERATE l_orderkey, p_brand;""",
      Map("DIR" -> sf))
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"), s"expected BHJ in:\n$phys")
    assert(df.count() == tables.lineitem.join(
      tables.part.filter(col("p_size") < 5),
      col("l_partkey") === col("p_partkey")).count())
  }

  test("self-join of one alias qualifies both sides; keywords are case-insensitive") {
    // Pig proper refuses a self-join of one alias (load twice); we
    // support it as a strict superset with alias::col qualification
    val selfJ = PigScript.query(spark,
      """O = LOAD '$DIR/orders.parquet' USING parquet;
         J = JOIN O BY o_custkey, O BY o_custkey;""", Map("DIR" -> sf))
    val perCust = tables.orders.groupBy("o_custkey").count()
      .select(sum(col("count") * col("count")))
      .collect()(0).getLong(0)
    assert(selfJ.count() == perCust, "self-join = sum of squared group sizes")
    assert(selfJ.columns.count(_ == "O::o_custkey") == 2)
    // lowercase keywords parse (Pig keywords are case-insensitive)
    val lc = PigScript.query(spark,
      """o = load '$DIR/orders.parquet' using parquet;
         f = filter o by o_totalprice > 100.0;
         a = foreach f generate o_orderkey;""", Map("DIR" -> sf))
    assert(lc.count() ==
      tables.orders.filter(col("o_totalprice") > 100.0).count())
  }

  test("macro calling a macro expands transitively with hygiene intact") {
    import spark.implicits._
    val df = PigScript.query(spark,
      """DEFINE pick(R, n) RETURNS T { s = ORDER $R BY o_totalprice DESC; $T = LIMIT s $n; };
         DEFINE topkeys(R) RETURNS K { t = pick($R, 3); $K = FOREACH t GENERATE o_orderkey; };
         O = LOAD '$DIR/orders.parquet' USING parquet;
         A = topkeys(O);""", Map("DIR" -> sf))
    val want = tables.orders.orderBy(col("o_totalprice").desc).limit(3)
      .select("o_orderkey").as[Long].collect().toSet
    assert(df.as[Long].collect().toSet == want)
  }

  test("VersionedStorage: STORE commits atomically, LOAD time-travels by version and timestamp") {
    import graft.operators.VersionedTable
    val tmp = java.nio.file.Files.createTempDirectory("pig_vstore").toString
    val vt = s"$tmp/t"
    // STORE → an atomic versioned commit (v0 creates the table), the
    // optional argument declaring the clustering
    graft.pig.PigScript.run(spark,
      s"""O = LOAD '$sf/orders.parquet' USING parquet;
          A = FOREACH O GENERATE o_orderkey AS k, o_totalprice AS price;
          STORE A INTO '$vt' USING VersionedStorage('k');""",
      executeStores = true)
    assert(VersionedTable.latestVersion(spark, vt) == 0L)
    assert(VersionedTable.clusterColsOf(spark, vt, 0L) == Seq("k"))
    val n = tables.orders.count()
    assert(VersionedTable.read(spark, vt).count() == n)
    // a second STORE versions up (same schema — commits as v1)
    graft.pig.PigScript.run(spark,
      s"""O = LOAD '$sf/orders.parquet' USING parquet;
          A = FOREACH O GENERATE o_orderkey AS k, o_totalprice + 1.0 AS price;
          STORE A INTO '$vt' USING VersionedStorage;""",
      executeStores = true)
    assert(VersionedTable.latestVersion(spark, vt) == 1L)
    // LOAD latest / VERSION AS OF / TIMESTAMP AS OF through the script
    val latest = graft.pig.PigScript.query(spark,
      s"""T = LOAD '$vt' USING VersionedStorage;
          A = FOREACH T GENERATE k, price;""")
    val v0 = graft.pig.PigScript.query(spark,
      s"""T = LOAD '$vt' USING VersionedStorage('0');
          A = FOREACH T GENERATE k, price;""")
    assert(latest.agg(sum(col("price"))).head.getDouble(0) >
      v0.agg(sum(col("price"))).head.getDouble(0) + n - 1)
    // re-pin the in-manifest commit instants (ts= is authoritative for
    // as-of since round 14; mtimes are only the legacy fallback): the
    // commits above already happened, so rewrite their ts= lines
    val base = 1700000000000L
    Seq(0L -> base, 1L -> (base + 60000)).foreach { case (v, ms) =>
      val p = java.nio.file.Paths.get(s"$vt/_log/$v.manifest")
      val body = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .linesIterator.map(l => if (l.startsWith("ts=")) s"ts=$ms" else l)
        .mkString("\n") + "\n"
      java.nio.file.Files.write(p, body.getBytes("UTF-8"))
    }
    // render the instant in the JVM's own zone so Timestamp.valueOf
    // inverts it exactly regardless of the container's TZ
    val tsStr = new java.sql.Timestamp(base + 30000).toString
    val asOf = graft.pig.PigScript.query(spark,
      s"""T = LOAD '$vt' USING VersionedStorage('$tsStr');
          A = FOREACH T GENERATE k, price;""")
    assert(asOf.exceptAll(v0).isEmpty && v0.exceptAll(asOf).isEmpty,
      "timestamp between the commits must read exactly v0")
    // schema drift through the script path refuses like the API commit
    val e = intercept[IllegalArgumentException] {
      graft.pig.PigScript.run(spark,
        s"""O = LOAD '$sf/orders.parquet' USING parquet;
            A = FOREACH O GENERATE o_orderkey AS k;
            STORE A INTO '$vt' USING VersionedStorage;""",
        executeStores = true)
    }
    assert(e.getMessage.contains("allowSchemaChange"), e.getMessage)
    assert(VersionedTable.latestVersion(spark, vt) == 1L, "table untouched")
  }

  test("VersionedStorage declarations: cluster/mode/feed/expect from the script") {
    import graft.operators.VersionedTable
    val vt = java.nio.file.Files.createTempDirectory("pig_vdecl")
      .toString + "/t"
    graft.pig.PigScript.run(spark,
      s"""O = LOAD '$sf/orders.parquet' USING parquet;
          A = FOREACH O GENERATE o_orderkey AS k, o_custkey AS c,
                                 o_totalprice AS price;
          STORE A INTO '$vt' USING VersionedStorage('cluster=k,c',
            'mode=zorder', 'feed=k', 'expect.price_pos=price >= 0');""",
      executeStores = true)
    assert(VersionedTable.clusterColsOf(spark, vt, 0L) == Seq("k", "c"))
    assert(VersionedTable.clusterModeOf(spark, vt, 0L) == "zorder")
    assert(VersionedTable.feedKeysOf(spark, vt, 0L) == Seq("k"))
    assert(VersionedTable.tableExpectations(spark, vt, 0L) ==
      Map("price_pos" -> "price >= 0"))
    // the feed materialized with the commit (CDC with zero Scala)
    assert(spark.read.parquet(s"$vt/_changes/v0").count() ==
      tables.orders.count())
    // a violating STORE refuses through the script path
    intercept[graft.operators.VersionedTable.ExpectationViolation] {
      graft.pig.PigScript.run(spark,
        s"""O = LOAD '$sf/orders.parquet' USING parquet;
            A = FOREACH O GENERATE o_orderkey AS k, o_custkey AS c,
                                   (0.0 - o_totalprice) AS price;
            STORE A INTO '$vt' USING VersionedStorage;""",
        executeStores = true)
    }
    assert(VersionedTable.latestVersion(spark, vt) == 0L)
  }

  test("branch refs flow through the script front-end: LOAD/STORE 'table@branch'") {
    import graft.operators.VersionedTable
    val vt = java.nio.file.Files.createTempDirectory("pig_branch")
      .toString + "/t"
    // mainline table from a script
    graft.pig.PigScript.run(spark,
      s"""O = LOAD '$sf/orders.parquet' USING parquet;
          A = FOREACH O GENERATE o_orderkey AS k, o_totalprice AS price;
          STORE A INTO '$vt' USING VersionedStorage('cluster=k');""",
      executeStores = true)
    VersionedTable.createBranch(spark, vt, "dev")
    // a script STORE against the branch REF commits to the branch only
    graft.pig.PigScript.run(spark,
      s"""B = LOAD '$vt@dev' USING VersionedStorage;
          C = FILTER B BY k % 2 == 0;
          STORE C INTO '$vt@dev' USING VersionedStorage;""",
      executeStores = true)
    val nAll = tables.orders.count()
    val nEven = tables.orders
      .filter(org.apache.spark.sql.functions.col("o_orderkey") % 2 === 0)
      .count()
    // branch world halved; mainline untouched
    assert(VersionedTable.read(spark,
      VersionedTable.branchRef(vt, "dev")).count() == nEven)
    assert(VersionedTable.read(spark, vt).count() == nAll)
    // a script LOAD of the branch ref reads the branch world
    val got = graft.pig.PigScript.query(spark,
      s"""B = LOAD '$vt@dev' USING VersionedStorage;
          G = GROUP B ALL;
          R = FOREACH G GENERATE COUNT(B) AS n;""")
    assert(got.head().getLong(0) == nEven)
    // the landing brings the branch's snapshot rewrite to mainline
    VersionedTable.fastForward(spark, vt, "dev", "merger")
    assert(VersionedTable.read(spark, vt).count() == nEven)
  }

  test("lakehouse script grammar probes: macros, params, SPLIT multi-STORE, self-append, ISO as-of") {
    // r13 next-round #10: probe the versioned-storage grammar corners
    // a migrated script actually hits — time-travel LOAD inside a
    // macro body, version via %declare parameter, SPLIT fan-out into
    // two versioned sinks, LOAD-v0-STORE-back self-append, ISO-8601
    // 'T' timestamps, and a bogus STORE argument refusing loudly.
    import graft.operators.VersionedTable
    val tmp = java.nio.file.Files.createTempDirectory("pig_vprobe").toString
    val vt = s"$tmp/t"
    val base = 1710000000000L
    spark.conf.set("graft.commit.clockMs", base.toString)
    graft.pig.PigScript.run(spark,
      s"""O = LOAD '$sf/orders.parquet' USING parquet;
          A = FOREACH O GENERATE o_orderkey AS k, o_totalprice AS price;
          STORE A INTO '$vt' USING VersionedStorage('k');""",
      executeStores = true)
    spark.conf.set("graft.commit.clockMs", (base + 60000).toString)
    graft.pig.PigScript.run(spark,
      s"""O = LOAD '$sf/orders.parquet' USING parquet;
          A = FOREACH O GENERATE o_orderkey AS k,
                                 (o_totalprice + 5.0) AS price;
          STORE A INTO '$vt' USING VersionedStorage;""",
      executeStores = true)
    spark.conf.unset("graft.commit.clockMs")
    val n = tables.orders.count()
    val kSum = tables.orders.agg(sum(col("o_orderkey"))).head.getLong(0)
    // probe 1: time-travel LOAD inside a MACRO body, version as a
    // macro argument
    val m1 = graft.pig.PigScript.query(spark,
      s"""DEFINE oldcount(v) RETURNS S {
            t = LOAD '$vt' USING VersionedStorage('$$v');
            g = GROUP t ALL;
            $$S = FOREACH g GENERATE COUNT(t) AS c, SUM(t.k) AS ks; };
          R = oldcount(0);""")
    assert((m1.head.getLong(0), m1.head.getLong(1)) == ((n, kSum)),
      "macro-wrapped time travel must read v0 exactly")
    // probe 2: version via %declare parameter substitution
    val m2 = graft.pig.PigScript.query(spark,
      s"""%declare V '1';
          T = LOAD '$vt' USING VersionedStorage('$$V');
          G = GROUP T ALL;
          R = FOREACH G GENERATE COUNT(T) AS c;""")
    assert(m2.head.getLong(0) == n)
    // probe 3: SPLIT fan-out into TWO versioned sinks, each with its
    // own declarations
    val lo = s"$tmp/lo"; val hi = s"$tmp/hi"
    graft.pig.PigScript.run(spark,
      s"""T = LOAD '$vt' USING VersionedStorage;
          SPLIT T INTO L IF k % 2 == 0, H OTHERWISE;
          STORE L INTO '$lo' USING VersionedStorage('cluster=k');
          STORE H INTO '$hi' USING VersionedStorage('cluster=k');""",
      executeStores = true)
    assert(VersionedTable.clusterColsOf(spark, lo, 0L) == Seq("k"))
    assert(VersionedTable.read(spark, lo).count() +
      VersionedTable.read(spark, hi).count() == n,
      "the SPLIT branches must partition the versioned read exactly")
    assert(VersionedTable.read(spark, hi)
      .filter(col("k") % 2 === 0).count() == 0L)
    // probe 4: LOAD v0 → transform → STORE back into the SAME table
    graft.pig.PigScript.run(spark,
      s"""T = LOAD '$vt' USING VersionedStorage('0');
          A = FOREACH T GENERATE k, (price * 2.0) AS price;
          STORE A INTO '$vt' USING VersionedStorage;""",
      executeStores = true)
    assert(VersionedTable.latestVersion(spark, vt) == 2L,
      "a self-append must stack a new version, not clobber")
    // probe 5: ISO-8601 'T' timestamp between the pinned commits
    val iso = new java.sql.Timestamp(base + 30000).toString
      .replaceFirst(" ", "T").takeWhile(_ != '.')
    val m5 = graft.pig.PigScript.query(spark,
      s"""T = LOAD '$vt' USING VersionedStorage('$iso');
          G = GROUP T ALL;
          R = FOREACH G GENERATE SUM(T.k) AS ks;""")
    assert(m5.head.getLong(0) == kSum,
      "ISO-'T' as-of between the commits must read v0")
    // probe 6: a bogus STORE argument refuses loudly (a version number
    // is a LOAD concept; on STORE it parses as a clustering column
    // that does not exist)
    val e = intercept[IllegalArgumentException] {
      graft.pig.PigScript.run(spark,
        s"""T = LOAD '$vt' USING VersionedStorage;
            STORE T INTO '$tmp/bogus' USING VersionedStorage('0');""",
        executeStores = true)
    }
    assert(e.getMessage.contains("clusterBy"), e.getMessage)
  }

  test("VersionedStorage declarations: malformed forms refuse loudly") {
    val vt = java.nio.file.Files.createTempDirectory("pig_vbad")
      .toString + "/t"
    def store(args: String): Unit = graft.pig.PigScript.run(spark,
      s"""O = LOAD '$sf/region.parquet' USING parquet;
          STORE O INTO '$vt' USING VersionedStorage($args);""",
      executeStores = true)
    // unknown declaration key (a typo'd 'clustre=' silently ignored
    // would ship a script that THINKS it declared clustering)
    val e1 = intercept[IllegalArgumentException] { store("'clustre=k'") }
    assert(e1.getMessage.contains("unknown declaration"), e1.getMessage)
    // bad mode value
    val e2 = intercept[IllegalArgumentException] {
      store("'cluster=r_regionkey', 'mode=hilbert'")
    }
    assert(e2.getMessage.contains("'range' or 'zorder'"), e2.getMessage)
    // mode without clustering to shape
    val e3 = intercept[IllegalArgumentException] { store("'mode=zorder'") }
    assert(e3.getMessage.contains("need cluster="), e3.getMessage)
    // bare argument only allowed in first position
    val e4 = intercept[IllegalArgumentException] {
      store("'feed=r_regionkey', 'r_name'")
    }
    assert(e4.getMessage.contains("bare argument"), e4.getMessage)
    // expectation with no body
    val e5 = intercept[IllegalArgumentException] { store("'expect.x='") }
    assert(e5.getMessage.contains("boolean SQL body"), e5.getMessage)
    // nothing committed by any refused STORE
    assert(graft.operators.VersionedTable
      .latestVersion(spark, vt) == -1L)
  }

  test("shared-scan policy picks the deepest shared alias per sink pair") {
    import graft.pig.PigAst._
    def parse(s: String) = PigParser.parseScript(s)
    // two sinks over one filtered lineage → the filter is the split point
    assert(PigCompiler.sharedScanAliases(parse(
      """a = LOAD 'x' USING parquet;
         f = FILTER a BY $0 > 3;
         b = DISTINCT f; c = LIMIT f 5;
         STORE b INTO 'o1'; STORE c INTO 'o2';""")) == Set("f"))
    // SPLIT fan-out with both branches stored → cache the unsplit input
    assert(PigCompiler.sharedScanAliases(parse(
      """a = LOAD 'x' USING parquet;
         SPLIT a INTO p IF $0 > 0, q OTHERWISE;
         STORE p INTO 'o1'; STORE q INTO 'o2';""")) == Set("a"))
    // one sink → nothing cached; rebound alias → policy disabled
    assert(PigCompiler.sharedScanAliases(parse(
      """a = LOAD 'x' USING parquet; STORE a INTO 'o';""")).isEmpty)
    assert(PigCompiler.sharedScanAliases(parse(
      """a = LOAD 'x' USING parquet;
         b = DISTINCT a; a = LIMIT b 5;
         STORE a INTO 'o1'; STORE b INTO 'o2';""")).isEmpty)
  }

  test("multi-STORE script executes with ONE scan of the shared lineage") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val tmp = java.nio.file.Files.createTempDirectory("pig_mqo").toString
    spark.range(50000)
      .select(col("id").as("k"), (col("id") % 97).as("v"))
      .write.parquet(s"$tmp/in")
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val lis = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(lis)
    try {
      graft.pig.PigScript.run(spark,
        s"""L = LOAD '$tmp/in' USING parquet;
            F = FILTER L BY v < 50;
            HI = FILTER F BY k >= 25000;
            LO = FILTER F BY k < 25000;
            STORE HI INTO '$tmp/hi' USING parquet;
            STORE LO INTO '$tmp/lo' USING parquet;""",
        executeStores = true)
      // listener delivery is async — wait for both write plans
      val deadline = System.nanoTime() + 30e9.toLong
      while (plans.size() < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      val writes = plans.asScala.filter(_.contains(s"$tmp/hi")) ++
        plans.asScala.filter(_.contains(s"$tmp/lo"))
      assert(writes.size == 2, s"expected 2 write plans, got:\n$plans")
      // the shared prefix is served from the cache: both sink plans
      // read InMemoryTableScan; only the cache FILL scans the parquet
      assert(writes.forall(_.contains("InMemoryTableScan")),
        s"both sinks must read the shared cache:\n${writes.mkString("\n---\n")}")
      // and the outputs are exactly the uncached semantics
      val hi = spark.read.parquet(s"$tmp/hi")
      val lo = spark.read.parquet(s"$tmp/lo")
      assert(hi.count() + lo.count() ==
        spark.read.parquet(s"$tmp/in").filter(col("v") < 50).count())
      assert(hi.filter(col("k") < 25000).isEmpty && lo.filter(col("k") >= 25000).isEmpty)
      // the cache is RELEASED once the sinks ran (no leaked entries)
      assert(spark.sharedState.cacheManager.isEmpty,
        "shared-scan cache must be released after the last sink")
    } finally spark.listenerManager.unregister(lis)
  }
}
