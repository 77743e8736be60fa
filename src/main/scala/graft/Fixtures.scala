package graft

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Story fixtures: inputs a query story derives deterministically from
  * a data dir (stream source chunks, a committed VersionedTable, a
  * sorted lineitem, a saved ANN index, a saved BPE model). Each is
  * built once and cached on local disk under [[Root]]. The cache
  * outlives the process, so Verify and later Bench runs reuse it, and
  * a timed story run pays for the operator story, not for writing its
  * inputs. FIXTURES.md says how to force a cold run.
  *
  * A fixture lives at `Root/<data dir name>_<hash of its absolute
  * path>/<name>`. Its done marker records a hash of the code that
  * built it, and the file count and byte total of every source table
  * the build reads. A fixture whose marker is missing (a build that
  * died halfway) or differs from the code and sources as they are now
  * (a rebuilt jar or class dir, a regenerated or appended data dir) is
  * deleted and built again. Builds of one fixture are serialized, within the JVM by
  * a per-fixture monitor and across JVMs by a file lock, so no caller
  * ever deletes or reads a fixture another caller is still building. */
object Fixtures {

  val Root = "/tmp/graft_fixtures"
  /** The done marker's file name, in each fixture's root. */
  val Marker = "_fixture_done"
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private val annModels = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[Seq[Double]], graft.plans.PqCodebooks)]()

  /** The cache dir of one data dir, keyed by its absolute path. */
  def dirOf(dataDir: String): String = {
    val abs = Paths.get(dataDir).toAbsolutePath.normalize
    val hash = java.security.MessageDigest.getInstance("SHA-1")
      .digest(abs.toString.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"$Root/${abs.getFileName}_$hash"
  }

  /** SHA-1 prefix of the code the builds run: the bytes (and, in a
    * class dir, the relative paths) of the jar or class dir this object
    * loads from. Any code change, not only one to a build, rebuilds
    * every fixture on next use. Hashed once per JVM. */
  private lazy val codeHash: String = {
    val src = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val files =
      if (Files.isDirectory(src)) {
        val walk = Files.walk(src)
        try walk.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
          .sortBy(_.toString).toSeq
        finally walk.close()
      } else Seq(src)
    files.foreach { f =>
      md.update(src.relativize(f).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** The marker of a fixture built now: the code hash, then the file
    * count and byte total of each source table
    * (`<dataDir>/<table>.parquet`, a file or a directory). */
  private def fingerprint(dataDir: String, sources: Seq[String]): String = {
    def sizes(f: File): Seq[Long] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(sizes)
      else if (f.isFile) Seq(f.length)
      else Seq.empty
    s"code=$codeHash\n" + sources.map { table =>
      val sz = sizes(new File(s"$dataDir/$table.parquet"))
      s"$table.parquet files=${sz.size} bytes=${sz.sum}\n"
    }.mkString
  }

  /** The fixture `name` of `dataDir`: `build(root)` writes it under a
    * fresh `root` unless a complete fixture of the same `sources`
    * (table names the build reads) is already cached. Returns `root`. */
  def cached(dataDir: String, name: String, sources: String*)(
      build: String => Unit): String = {
    val root = s"${dirOf(dataDir)}/$name"
    locks.computeIfAbsent(root, _ => new AnyRef).synchronized {
      val lockFile = Paths.get(s"$root.lock")
      Files.createDirectories(lockFile.getParent)
      val ch = java.nio.channels.FileChannel.open(lockFile,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        ch.lock() // released by close
        val fp = fingerprint(dataDir, sources)
        val marker = Paths.get(root, Marker)
        if (!(Files.isRegularFile(marker) && Files.readString(marker) == fp)) {
          org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
          Files.createDirectories(Paths.get(root))
          build(root)
          Files.writeString(marker, fp)
        }
      } finally ch.close()
    }
    root
  }

  /** Hard-link every parquet part file under `from` into `into`,
    * prefixed (two fixture chunks may share part-file names). A run
    * gets a fresh source dir without copying bytes. */
  def linkParquet(from: String, into: String, prefix: String): Unit = {
    new File(into).mkdirs()
    new File(from).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
      .foreach(f => Files.createLink(Paths.get(into, prefix + f.getName), f.toPath))
  }

  /** A fresh temp dir named `prefix…` for one call's outputs (a stream's
    * source, checkpoint and sink, a scratch VersionedTable), unlike a
    * fixture not kept: Spark's shutdown hook deletes it when the JVM
    * exits, after the SparkContext has stopped. */
  def workDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    org.apache.spark.sql.GraftSqlBridge.deleteOnShutdown(d)
    d.toString
  }

  /** The events-replay projection the events stream stories read. */
  private def eventsProjection(s: SparkSession, dir: String): DataFrame =
    graft.core.Tables(s, dir).events
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))

  /** One events parquet file: the replay source of the events streams
    * (q106, q110, q112, q115, q129, q136, q138, q144, q145, q151). */
  def events(s: SparkSession, dir: String): String =
    cached(dir, "events", "events") { root =>
      eventsProjection(s, dir).coalesce(1).write.mode("append").parquet(s"$root/f")
    } + "/f"

  /** The far-future watermark sentinel of q106, q115, q138, q144, q145
    * and q151: one events row a year past max(ts). */
  def sentinel(s: SparkSession, dir: String): String =
    cached(dir, "sentinel", "events") { root =>
      val ev = eventsProjection(s, dir)
      val maxTs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0) // 1-row scalar
      val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 365L * 86400 * 1000)
      ev.limit(1).select(lit(-1L).as("event_id"), lit(sentinelTs).as("ts"),
          lit(-1L).as("user_id"), lit("__sentinel").as("event_type"),
          lit(0.0).as("value"), lit(null).cast("string").as("props"))
        .coalesce(1).write.mode("append").parquet(s"$root/f")
    } + "/f"

  /** The customer VersionedTable at v0 (clustered on k into 16 files,
    * feed keyed on k) of the change-stream stories q235 and q253. Each
    * run works on a copy: merges, deletes and renames advance it. */
  def vtCustomer(s: SparkSession, dir: String): String =
    cached(dir, "vtcust", "customer") { root =>
      import graft.operators.VersionedTable
      val cust = graft.core.Tables(s, dir).customer
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"))
      require(VersionedTable.commit(s, s"$root/t", cust, -1L, "loader",
        clusterBy = Seq("k"), clusterFiles = 16,
        meta = Map(VersionedTable.FeedKey -> "k")) == 0L)
    } + "/t"

  /** The IVF-PQ index of the whole embeddings table (16 coarse cells;
    * 16 subspaces × 256 codes; 3 iterations each), saved by
    * `AnnIndex.save`. q154 serves under its model, q191 from the index. */
  def annIndex(s: SparkSession, dir: String): String =
    cached(dir, "ann_index", "embeddings") { root =>
      import graft.operators.{AnnIndex, Similarity}
      val emb = graft.core.Tables(s, dir).embeddings
      AnnIndex.save(s, s"$root/idx", emb, "vec_id", "embedding",
        Similarity.kMeansFit(emb, "embedding", k = 16, iters = 3, init = "parallel"),
        Similarity.pqTrain(emb, "embedding", m = 16, nCodes = 256, iters = 3))
    } + "/idx"

  /** The model of [[annIndex]] (coarse centroids in cell order, PQ
    * codebooks), loaded once per process and build of the fixture: q154
    * serves under it, as a server holds its model, and pays for
    * queries, not for reading the model back. */
  def annModel(s: SparkSession, dir: String): (Seq[Seq[Double]], graft.plans.PqCodebooks) = {
    val idx = annIndex(s, dir)
    val marker = Paths.get(idx).getParent.resolve(Marker)
    annModels.computeIfAbsent(s"$idx ${Files.getLastModifiedTime(marker)}", _ => {
      val loaded = graft.operators.AnnIndex.load(s, idx)
      (loaded.cents, loaded.pq)
    })
  }
}
