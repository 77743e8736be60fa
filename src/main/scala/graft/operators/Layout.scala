package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout clustering (SURVEY.md §7.1 extension surface): Z-order
  * (Morton) interleaving, the multi-dimensional sort key behind
  * Delta/Iceberg OPTIMIZE ZORDER.
  *
  * Why it matters at 100 TB: parquet scans prune FILES by footer
  * min/max stats. A linear sort gives perfect pruning on the leading
  * key and none on any other; interleaving the bits of two keys makes
  * every file a small rectangle in (a, b) space, so a selective box
  * predicate on EITHER dimension (or both) skips most files. The
  * cluster-by key is computed with five shift/mask steps per column
  * (the classic bit-spreading identity) — all built-in expressions,
  * whole-stage-codegen'd, no UDF — and the layout itself is one
  * `repartitionByRange(zvalue)` + in-partition sort: exactly one
  * shuffle to rewrite a table into skip-friendly form.
  *
  * Determinism: the z-value is a pure bit permutation of its inputs —
  * the differential oracle replays the identical shift/mask chain.
  */
object Layout {

  /** Bit-spreading masks: after step i, the low 32 bits of x occupy
    * every other bit position. Shared with the SQL oracle builder. */
  val spreadSteps: Seq[(Int, Long)] = Seq(
    16 -> 0x0000FFFF0000FFFFL,
    8  -> 0x00FF00FF00FF00FFL,
    4  -> 0x0F0F0F0F0F0F0F0FL,
    2  -> 0x3333333333333333L,
    1  -> 0x5555555555555555L)

  private def spread(x: Column): Column =
    spreadSteps.foldLeft(x) { case (c, (sh, m)) =>
      (c.bitwiseOR(shiftleft(c, sh))).bitwiseAND(lit(m)) }

  /** 64-bit Morton code of two non-negative 32-bit keys: a takes the
    * even bit positions, b the odd. Out-of-range inputs fail loudly —
    * silently masking would put far-apart rows in the same rectangle. */
  def zValue2(a: Column, b: Column): Column = {
    val lim = lit(4294967296L) // 2^32
    def checked(c: Column, name: String): Column =
      when(c.cast("long") >= 0 && c.cast("long") < lim, c.cast("long"))
        .otherwise(raise_error(concat(lit(s"zValue2: $name out of [0, 2^32): "),
          c.cast("string"))))
    spread(checked(a, "a")).bitwiseOR(shiftleft(spread(checked(b, "b")), 1))
  }

  /** 3-way bit-spreading masks (bits land 2 apart; 21 bits per key —
    * the Delta `OPTIMIZE ZORDER BY (a,b,c)` arity). Shared with the
    * SQL oracle builder like [[spreadSteps]]. */
  val spreadSteps3: Seq[(Int, Long)] = Seq(
    32 -> 0x1F00000000FFFFL,
    16 -> 0x1F0000FF0000FFL,
    8  -> 0x100F00F00F00F00FL,
    4  -> 0x10C30C30C30C30C3L,
    2  -> 0x1249249249249249L)

  private def spread3(x: Column): Column =
    spreadSteps3.foldLeft(x) { case (c, (sh, m)) =>
      (c.bitwiseOR(shiftleft(c, sh))).bitwiseAND(lit(m)) }

  /** 63-bit Morton code of three non-negative 21-bit keys — a in bit
    * positions 0,3,6,…, b one left, c two left. Same out-of-range
    * refusal as [[zValue2]]: masking would silently co-locate far
    * rows. 21 bits per dimension is Delta's practical arity-3 budget;
    * wider keys go through [[withRankZKey]]'s ranking first. */
  def zValue3(a: Column, b: Column, c: Column): Column = {
    val lim = lit(2097152L) // 2^21
    def checked(x: Column, name: String): Column =
      when(x.cast("long") >= 0 && x.cast("long") < lim, x.cast("long"))
        .otherwise(raise_error(concat(lit(s"zValue3: $name out of [0, 2^21): "),
          x.cast("string"))))
    spread3(checked(a, "a"))
      .bitwiseOR(shiftleft(spread3(checked(b, "b")), 1))
      .bitwiseOR(shiftleft(spread3(checked(c, "c")), 2))
  }

  /** 3-column z-order write: one repartitionByRange on the zValue3
    * key + in-partition sort — every file becomes a small BOX in
    * (a, b, c) space, so a selective predicate on ANY of the three
    * dimensions skips files (receipt measured in LayoutSpec). */
  def zorderWrite3(df: DataFrame, a: String, b: String, c: String,
      outDir: String, nFiles: Int = 8): Unit =
    writeZOrdered(df.withColumn("__z", zValue3(col(a), col(b), col(c))),
      outDir, nFiles)

  /** Rank-normalized z-order write — the range-based variant behind
    * Delta's OPTIMIZE ZORDER, REQUIRED when the two dimensions span
    * different ranges: raw interleave lets the wider dimension's high
    * bits dominate the key prefix and the narrow dimension never gets
    * to split files. Keyed by [[withRankZKey]]; ONE range shuffle on
    * the key, then a scan-shaped write. */
  def zorderWriteNormalized(df: DataFrame, a: String, b: String,
      outDir: String, nFiles: Int = 8, bits: Int = 16): Unit =
    writeZOrdered(withRankZKey(df, Seq(a, b), bits), outDir, nFiles)

  /** Range-partition on `__z` (sampling gives equal-sized files), sort
    * within each partition so row groups are boxes too, drop the key
    * and write `nFiles` parquet files. */
  private def writeZOrdered(keyed: DataFrame, outDir: String,
      nFiles: Int): Unit =
    keyed.repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)

  /** `df` plus a rank-normalized Morton key `__z` over 2 or 3 columns:
    * each dimension maps to its equal-frequency bucket id
    * ((denseRank-1) * 2^bits div nDistinct, via the scalable two-pass
    * [[Relational.rankBy]] over the distinct VALUES — never a
    * single-partition window; the rank table is far smaller than the
    * data), left-joined back, then the bucket ids interleave. NULLs
    * bucket to 0 rather than dropping rows. The joins move the key
    * columns to the front of the schema. */
  private[operators] def withRankZKey(df: DataFrame, cols: Seq[String],
      bits: Int = 16): DataFrame = {
    require(cols.length == 2 || cols.length == 3,
      s"zorder clustering needs 2 or 3 columns, got ${cols.length}")
    require(bits >= 1 && bits <= 32, "bits in [1,32]")
    val scale = 1L << bits
    var out = df
    val bucketCols = cols.zipWithIndex.map { case (c, i) =>
      val ranked = Relational.rankBy(
          df.select(col(c).as("v")).na.drop().distinct(), Seq("v"))
        .select(col("v").as(c), (col("dense_rank") - 1).as(s"__r$i"))
      val n = math.max(1L, ranked.count())
      out = out.join(ranked, Seq(c), "left")
      coalesce(expr(s"(__r$i * ${scale}L) div ${n}L"), lit(0L))
    }
    val z =
      if (cols.length == 2) zValue2(bucketCols(0), bucketCols(1))
      else zValue3(bucketCols(0), bucketCols(1), bucketCols(2))
    out.withColumn("__z", z).drop(cols.indices.map(i => s"__r$i"): _*)
  }

  /** OPTIMIZE-style small-file compaction — the bin-packing rewrite
    * Delta/Iceberg run to fix the small-file problem (a 100 TB table
    * ingested in small batches ends up with millions of KB-sized
    * files; every scan then pays per-file open/footer costs and the
    * driver pays per-file planning).
    *
    * Plan: driver lists the directory (bounded METADATA work — the
    * same listing any commit protocol does), first-fit-DECREASING
    * bin-packs file sizes into bins of <= targetBytes (a file larger
    * than the target gets its own bin — never split, never dropped),
    * then ONE shuffle moves each file's rows to its bin and a
    * partitioned write lands exactly one output file per bin (all of
    * a bin's rows hash to one partition; `partitionBy` splits
    * directories, so sibling bins in the same partition still get
    * separate files). The partitioned write lands in a staging dir and
    * each bin's single file is PROMOTED to a plain `bin-NNNNN.parquet`
    * at the output root, so the compacted table's read-back schema
    * equals the source schema (no __bin partition column leaks to
    * readers). Post-write, the listing is require()'d: one data file
    * per bin, every planned bin present — the rewrite is
    * receipt-checked, not assumed.
    *
    * At 100 TB compaction runs per PARTITION directory (date/lang/…)
    * so each driver listing stays bounded; rows never deserialize
    * into anything wider than the source schema and the shuffle
    * volume equals the data being compacted — the theoretical floor.
    *
    * Returns the bin plan as a receipt: (bin, n_files, input_bytes).
    * Join keys are FILE NAMES (unique within the flat input dir), so
    * URI-scheme spelling differences between the driver listing and
    * `input_file_name()` cannot mis-route rows. */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, targetBytes: Long,
      sortWithin: Option[String] = None): DataFrame = {
    require(targetBytes >= 1L, s"targetBytes must be >= 1, got $targetBytes")
    val conf = spark.sparkContext.hadoopConfiguration
    val inPath = new org.apache.hadoop.fs.Path(inDir)
    val fs = inPath.getFileSystem(conf)
    val files = fs.listStatus(inPath)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.getName, f.getLen))
      .sortBy { case (name, len) => (-len, name) } // FFD, name-tiebroken
    require(files.nonEmpty, s"compact: no parquet files under $inDir")
    // first-fit-decreasing over (bin -> remaining bytes)
    val binBytes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val assign = files.map { case (name, len) =>
      val i = binBytes.indexWhere(_ + len <= targetBytes)
      val bin = if (len < targetBytes && i >= 0) {
        binBytes(i) += len; i
      } else { binBytes += len; binBytes.length - 1 }
      (name, len, bin)
    }
    import spark.implicits._
    val plan = assign.toSeq.toDF("__fname", "__bytes", "__bin")
    val compacted = spark.read.parquet(inDir)
      .withColumn("__fname",
        regexp_extract(input_file_name(), "[^/]+$", 0))
      .join(broadcast(plan.select("__fname", "__bin")), Seq("__fname"))
      .drop("__fname")
    // sortWithin: keep a clustering key's order INSIDE each output
    // file, so compacting a z-ordered/range-laid table does not undo
    // its file-internal clustering (row-group stats stay tight)
    // land partitioned into a staging dir, then PROMOTE each bin's one
    // data file to a plain `bin-NNNNN.parquet` at the outDir root: a
    // partitioned layout left in place would graft a __bin column onto
    // every downstream reader via partition discovery — the rewrite
    // must be schema-preserving (read-back schema == source schema)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val outFs = outPath.getFileSystem(conf)
    outFs.delete(outPath, true)
    val staging = new org.apache.hadoop.fs.Path(outPath, ".staging")
    compacted.repartition(binBytes.length, col("__bin"))
      .sortWithinPartitions(col("__bin") +: sortWithin.map(col).toSeq: _*)
      .write.mode("overwrite").partitionBy("__bin").parquet(staging.toString)
    // receipt: every planned bin landed as exactly one data file
    val binDirs = outFs.listStatus(staging)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("__bin="))
    require(binDirs.length == binBytes.length,
      s"compact: planned ${binBytes.length} bins, found ${binDirs.length}")
    binDirs.foreach { d =>
      val dataFiles = outFs.listStatus(d.getPath)
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      require(dataFiles.length == 1,
        s"compact: bin ${d.getPath.getName} has ${dataFiles.length} files, want 1")
      val bin = d.getPath.getName.stripPrefix("__bin=").toInt
      val dest = new org.apache.hadoop.fs.Path(outPath, f"bin-$bin%05d.parquet")
      require(outFs.rename(dataFiles(0).getPath, dest),
        s"compact: promoting ${dataFiles(0).getPath} to $dest failed")
    }
    require(outFs.delete(staging, true), s"compact: could not drop $staging")
    plan.groupBy(col("__bin").as("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("__bytes")).as("input_bytes"))
  }

  /** Per-file [min, max] envelopes of two key columns for a written
    * table — the stats a pruning scan consults. Small result (one row
    * per file); used to PROVE skipping ratios in specs/soaks. */
  def fileEnvelopes(spark: org.apache.spark.sql.SparkSession, dir: String,
      a: String, b: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(a)).as("a_min"), max(col(a)).as("a_max"),
           min(col(b)).as("b_min"), max(col(b)).as("b_max"))

  /** How many files a box predicate `[aLo,aHi] × [bLo,bHi]` must read
    * under the given envelopes (count of overlapping rectangles). */
  def filesTouched(env: DataFrame, aLo: Long, aHi: Long,
      bLo: Long, bHi: Long): Long =
    env.filter(col("a_max") >= aLo && col("a_min") <= aHi &&
               col("b_max") >= bLo && col("b_min") <= bHi).count()
}
