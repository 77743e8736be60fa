package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.types.StructType

/** Parquet reads that take their schema from one footer read on the
  * driver. `spark.read.parquet(path)` without a schema runs a one-task
  * Spark job (`ParquetUtils.inferSchema` → `mergeSchemasInParallel`)
  * to read that same footer — at our scale a fixed cost of ~60 ms per
  * LOAD, paid again on every script.
  *
  * The footer read is the one Spark's inference reads: `_common_metadata`,
  * else `_metadata`, else the first data file in path order, listed with
  * Spark's own hidden-file rule and converted by Spark's own
  * `ParquetFileFormat.readSchema` (through [[GraftParquetBridge]]), so
  * the schema equals the inferred one. Only the inputs where that choice
  * is exact take this path — a single file, or a directory that holds
  * only files, with `spark.sql.parquet.mergeSchema` off. Every other
  * input (subdirectories such as `k=v` partitions or a streaming sink's
  * `_spark_metadata`, globs, an empty directory, an unreadable footer,
  * a session without session state) falls back to Spark's inference.
  * Nothing is cached between calls, so no schema can go stale. */
object ParquetFooter {

  /** `spark.read.parquet(path)`, planned without the inference job
    * whenever [[schema]] can answer. */
  def read(spark: SparkSession, path: String): DataFrame = schema(spark, path) match {
    case Some(s) => spark.read.schema(s).parquet(path)
    case None => spark.read.parquet(path)
  }

  /** The schema Spark would infer for `path`, from the footer Spark
    * would read; None where [[read]] falls back to Spark's inference. */
  def schema(spark: SparkSession, path: String): Option[StructType] =
    if (isGlob(path)) None
    else scala.util.Try {
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else {
        val conf = spark.sessionState.newHadoopConf()
        val p = new Path(path)
        val fs = p.getFileSystem(conf)
        val st = fs.getFileStatus(p)
        val listed = if (st.isFile) Seq(st) else fs.listStatus(p).toSeq
        if (listed.exists(_.isDirectory)) None
        else {
          val leaves = listed.filterNot(f => GraftParquetBridge.hiddenName(f.getPath.getName))
            .sortBy(_.getPath.toString)
          def named(n: String) = leaves.find(_.getPath.getName == n)
          named("_common_metadata").orElse(named("_metadata"))
            .orElse(leaves.find(f => !Set("_common_metadata", "_metadata")(f.getPath.getName)))
            .flatMap(GraftParquetBridge.footerSchema(spark, _, conf))
        }
      }
    }.toOption.flatten

  // SparkHadoopUtil.isGlobPath: any of these characters makes Spark glob
  private def isGlob(path: String): Boolean = path.exists("{}[]*?\\".contains(_))
}
