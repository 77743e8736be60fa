package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed access to the driver-generated test tables (FIXTURES.md).
  * Every read is a plain parquet scan — filters and column pruning are
  * pushed down by Catalyst, so callers should NOT pre-select columns
  * here; declare the full query and let the optimizer prune. Reads
  * carry the schema read from the table's parquet footer on the driver
  * ([[graft.sources.ParquetFooter]]), so building a query starts no
  * schema-inference job.
  */
final case class Tables(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame =
    graft.sources.ParquetFooter.read(spark, s"$dir/$name.parquet")

  def region: DataFrame    = table("region")
  def nation: DataFrame    = table("nation")
  def customer: DataFrame  = table("customer")
  def supplier: DataFrame  = table("supplier")
  def part: DataFrame      = table("part")
  def orders: DataFrame    = table("orders")
  def lineitem: DataFrame  = table("lineitem")
  /** `ts` normalization — robust to every form the fixture has shipped
    * in: TIMESTAMP(NANOS) under `nanosAsLong=true` arrives as a long
    * (truncate to micros by integer div — no double round-trip, exact
    * for the full epoch-nanos range, matching DuckDB's nanos
    * narrowing); TIMESTAMP(isAdjustedToUTC=false) micros arrives as
    * TIMESTAMP_NTZ on sessions without GraftSession's
    * `inferTimestampNTZ=false` (cast to TIMESTAMP — identity under the
    * UTC session timezone); already-TIMESTAMP passes through. */
  def events: DataFrame = {
    val raw = table("events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")
}
