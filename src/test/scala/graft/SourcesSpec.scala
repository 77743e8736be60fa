package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** §2.1 source/sink coverage: every Load/StoreFunc class the reference
  * ships maps to a built-in Spark format — prove the round trips. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base = Files.createTempDirectory("sources").toString
  private lazy val orig = tables.orders
    .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")

  private def roundTrip(format: String, opts: Map[String, String] = Map.empty): Unit = {
    val path = s"$base/$format"
    orig.write.format(format).options(opts).mode("overwrite").save(path)
    val back = spark.read.format(format).options(opts)
      .schema(orig.schema).load(path)
    assert(back.count() == orig.count())
    assert(back.exceptAll(orig).count() == 0, s"$format round trip diverged")
  }

  test("parquet round trip (primary format / BinStorage interchange)") { roundTrip("parquet") }
  test("parquet footer schema == Spark's inferred schema, with no job; other inputs fall back") {
    import graft.sources.ParquetFooter
    import scala.util.Try
    // a Spark-written directory: several part files beside _SUCCESS and
    // .crc files, with decimal, timestamp, array, struct and map columns
    val rich = s"$base/footer_rich"
    spark.range(0, 40, 1, 3).selectExpr("id",
      "cast(id / 7 as decimal(12, 3)) as dec", "timestamp_seconds(id * 86400) as ts",
      "array(id, id + 1) as arr", "named_struct('a', id, 'b', cast(id as string)) as st",
      "map(cast(id as string), id) as m").write.mode("overwrite").parquet(rich)
    val written = new java.io.File(rich).list().toSeq
    assert(written.contains("_SUCCESS") && written.exists(_.endsWith(".crc")), written)
    // two writes with different columns: the first data file in path
    // order decides, as in Spark's inference without mergeSchema
    val mixed = s"$base/footer_mixed"
    spark.range(0, 5).selectExpr("id").write.mode("overwrite").parquet(mixed)
    spark.range(5, 9).selectExpr("id", "id * 2 as twice").write.mode("append").parquet(mixed)
    val footerRead = Seq(
      "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").map(t => s"$sf/$t.parquet") :+ rich :+ mixed
    footerRead.foreach { p =>
      var got: org.apache.spark.sql.types.StructType = null
      assert(jobsStarted { got = ParquetFooter.read(spark, p).schema } == 0, p)
      assert(got == spark.read.parquet(p).schema, p)
    }

    // fallback inputs: the helper answers None and the read behaves
    // exactly as Spark's inference does (same schema, or same exception)
    val partitioned = s"$base/footer_by_k"
    spark.range(0, 10).selectExpr("id", "id % 2 as k")
      .write.partitionBy("k").mode("overwrite").parquet(partitioned)
    val sink = s"$base/footer_sink"
    spark.readStream.schema(spark.read.parquet(rich).schema).parquet(rich)
      .writeStream.format("parquet").option("checkpointLocation", s"$base/footer_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start(sink)
      .awaitTermination()
    assert(new java.io.File(s"$sink/_spark_metadata").isDirectory)
    val empty = Files.createTempDirectory("footer_empty").toString
    def outcome(f: => org.apache.spark.sql.DataFrame) =
      Try(f.schema).toEither.left.map(_.getClass)
    def fallsBack(p: String): Unit = {
      assert(ParquetFooter.schema(spark, p).isEmpty, p)
      assert(outcome(ParquetFooter.read(spark, p)) == outcome(spark.read.parquet(p)), p)
    }
    Seq(partitioned, sink, empty, s"$rich/part-*").foreach(fallsBack)
    assert(outcome(spark.read.parquet(empty)).isLeft)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      fallsBack(mixed)
      assert(ParquetFooter.read(spark, mixed).columns.toSeq == Seq("id", "twice"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("orc round trip (OrcStorage)") { roundTrip("orc") }
  test("avro round trip (AvroStorage) — explicit provider class") {
    // spark-sql ships AvroFileFormat itself; only the spark-avro module's
    // META-INF service registration (which makes the bare name "avro"
    // resolvable) is absent in this image. The explicit provider class is
    // the documented fallback — same format, same files.
    roundTrip(graft.pig.PigCompiler.AvroFormat)
  }
  test("json round trip (JsonLoader/JsonStorage)") { roundTrip("json") }
  test("csv round trip with delimiter (PigStorage)") {
    roundTrip("csv", Map("delimiter" -> "|", "header" -> "false"))
  }

  test("partitioned write prunes partitions at read (PartitionFilters)") {
    val path = s"$base/docs_by_lang"
    tables.documents.write.partitionBy("lang").mode("overwrite").parquet(path)
    val df = spark.read.parquet(path).filter($"lang" === "en").select($"doc_id")
    val n = df.count()
    assert(n > 0 && n < tables.documents.count())
    val plan = df.queryExecution.executedPlan.toString
    // the lang predicate must prune directories, not filter rows post-scan
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"no partition pruning in plan:\n$plan")
  }

  test("bucketed tables co-locate the join: no shuffle exchange on the keys") {
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    tables.lineitem.select($"l_orderkey", $"l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    tables.orders.select($"o_orderkey", $"o_orderstatus")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders"), $"l_orderkey" === $"o_orderkey")
    val n = joined.count()
    assert(n == tables.lineitem.count()) // FK totality in the fixture
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    // both sides pre-bucketed on the key -> SMJ with zero repartitioning;
    // at 100 TB this is the shuffle you design away
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
  }

  test("DSv2 connector: schema inference, projection + predicate pushdown (LoadFunc surface)") {
    val df = spark.read.format("graft.sources.SyntheticDocs")
      .option("rows", 1000).option("partitions", 4).load()
    assert(df.schema.fieldNames.toSeq == Seq("doc_id", "lang", "text"))
    assert(df.count() == 1000)
    // predicate pushdown: the doc_id range narrows the GENERATED range
    val filtered = df.filter($"doc_id" >= 900 && $"doc_id" < 950).select($"doc_id", $"lang")
    assert(filtered.count() == 50)
    val plan = filtered.queryExecution.executedPlan.toString
    // scan description proves the source saw the narrowed range and the
    // pruned column set (the filter/projection did not run post-scan)
    assert(plan.contains("range=[900,950)"), s"filter not pushed:\n$plan")
    assert(plan.contains("cols=doc_id,lang"), s"columns not pruned:\n$plan")
    // determinism: same ids -> same content on every read
    val a = df.filter($"doc_id" === 123).select($"text").as[String].head()
    val b = spark.read.format("graft.sources.SyntheticDocs").option("rows", 1000).load()
      .filter($"doc_id" === 123).select($"text").as[String].head()
    assert(a == b && a.nonEmpty)
  }

  test("delimited text with positional columns (schema-less PigStorage load)") {
    val path = s"$base/pigstorage"
    orig.write.option("delimiter", "\t").mode("overwrite").csv(path)
    val pos = spark.read.option("delimiter", "\t").csv(path) // _c0, _c1, ... all strings
    assert(pos.columns.toSeq == Seq("_c0", "_c1", "_c2", "_c3"))
    // lazy typing: cast at use site (SURVEY §1.3)
    assert(pos.select(sum($"_c0".cast("long"))).as[Long].head() ==
      orig.select(sum($"o_orderkey")).as[Long].head())
  }

  // The story fixture cache (graft.Fixtures): one case per guarantee.
  // Each case gets a fresh data dir holding one source table `t` (a
  // directory of parquet files) and a counting build that copies it.
  private val fixtureCases: Seq[(String, (String, () => Int, () => String) => Unit)] = Seq(
    "appending one parquet file to the source rebuilds the fixture" -> {
      (data, builds, fixture) =>
        assert(spark.read.parquet(fixture()).count() == 10 && builds() == 1)
        assert(spark.read.parquet(fixture()).count() == 10 && builds() == 1) // warm
        spark.range(10, 15).coalesce(1).write.mode("append").parquet(s"$data/t.parquet")
        assert(spark.read.parquet(fixture()).count() == 15 && builds() == 2)
    },
    "a fixture without its marker, or with a stale one, is rebuilt" -> {
      (data, builds, fixture) =>
        val root = new java.io.File(fixture()).getParent
        Files.delete(java.nio.file.Paths.get(root, Fixtures.Marker))
        fixture()
        assert(builds() == 2)
        Files.writeString(java.nio.file.Paths.get(root, Fixtures.Marker), "t.parquet files=0 bytes=0\n")
        assert(spark.read.parquet(fixture()).count() == 10 && builds() == 3)
    },
    "a fixture built by other code is rebuilt" -> {
      (_, builds, fixture) =>
        val marker = java.nio.file.Paths.get(
          new java.io.File(fixture()).getParent, Fixtures.Marker)
        val done = Files.readString(marker)
        assert(done.startsWith("code=") && builds() == 1, done)
        Files.writeString(marker, done.replaceFirst("code=[0-9a-f]+", "code=0"))
        assert(spark.read.parquet(fixture()).count() == 10 && builds() == 2)
        assert(Files.readString(marker) == done)
    },
    "three threads asking for one fixture build it once and all see it whole" -> {
      (_, builds, fixture) =>
        import scala.concurrent.{Await, Future, ExecutionContext}
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try {
          val seen = Await.result(Future.sequence((1 to 3).map(_ => Future {
            val f = fixture()
            new java.io.File(f).list().count(_.endsWith(".parquet")) ->
              spark.read.parquet(f).count()
          })), scala.concurrent.duration.Duration(120, "s"))
          assert(builds() == 1)
          assert(seen.forall(_ == (3 -> 10L)), seen)
        } finally pool.shutdown()
    },
    "the cache is keyed by the data dir's absolute path, not its name" -> {
      (data, _, _) =>
        val twin = Files.createTempDirectory("fixture_twin").toString + "/" +
          new java.io.File(data).getName
        assert(Fixtures.dirOf(twin) != Fixtures.dirOf(data))
        val rel = java.nio.file.Paths.get("").toAbsolutePath.relativize(
          java.nio.file.Paths.get(data)).toString
        assert(Fixtures.dirOf(rel) == Fixtures.dirOf(data))
    })

  fixtureCases.foreach { case (name, check) =>
    test(s"fixture cache: $name") {
      val data = Files.createTempDirectory("fixture_src").toString + "/sf"
      spark.range(0, 10, 1, 1).write.parquet(s"$data/t.parquet")
      val builds = new java.util.concurrent.atomic.AtomicInteger
      // a slow three-file build, so concurrent callers overlap it
      def fixture(): String = Fixtures.cached(data, "copy", "t") { root =>
        builds.incrementAndGet()
        spark.read.parquet(s"$data/t.parquet").repartition(3)
          .write.parquet(s"$root/f")
        Thread.sleep(300)
      } + "/f"
      try check(data, () => builds.get, () => fixture())
      finally org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(Fixtures.dirOf(data)))
    }
  }
}
