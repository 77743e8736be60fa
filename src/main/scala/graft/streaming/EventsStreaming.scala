package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.7: true stream processing
  * is ABSENT from the reference lineage — this is engine extension
  * surface, designed around the `events` table and replayable from
  * files for deterministic tests).
  *
  * Everything here is incremental-safe: event-time watermarks bound
  * state, aggregations are keyed (no global windows), and custom state
  * uses the typed GroupState API with explicit timeouts.
  */
object EventsStreaming {

  /** Schema of the replayed events stream (FIXTURES.md, after the
    * nanos→micros normalization done by graft.core.Tables). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-replay stream source: a directory of parquet with
    * [[eventSchema]]. In production this is Kafka/kinesis — only this
    * reader changes; every transform below is source-agnostic. */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Session CLONE for one replay, with state-store parallelism sized
    * to the replay's volume. `spark.sql.shuffle.partitions` is, for a
    * stateful streaming query, the number of state-store instances per
    * stateful operator — each one pays commit/checkpoint I/O every
    * micro-batch, so an oversized count turns a small replay into
    * file-system round trips (a stream-stream join keeps 4 stores per
    * partition; at the session default 32 that is 128 store commits
    * per batch). The checkpoint PINS the count at first batch, which
    * makes it a per-QUERY sizing decision, not a session-wide one:
    * size it to event volume here, raise it for production volume.
    * `newSession()` shares the SparkContext but owns its conf, so the
    * sizing can never leak into concurrently-planned batch queries
    * (the round-8 NTZ lesson: shared-session conf mutation is how
    * parallel query runners corrupt each other). */
  def replaySession(s: SparkSession, shufflePartitions: Int = 8): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    // The state-store provider stays Spark's HDFS-backed default: the
    // round-18 A/B (Bench, q138 pin site) measured RocksDB + changelog
    // checkpointing 5-15% SLOWER at local-disk checkpoint latency. A
    // remote-checkpoint deployment sets Spark's own
    // `spark.sql.streaming.stateStore.providerClass` in its SparkConf;
    // transformWithState sessions force RocksDB via
    // [[ensureRocksDbProvider]] (the v2 state API requires it).
    s2
  }

  /** Tumbling event-time windowed aggregation with a watermark bounding
    * state and admitting bounded lateness. */
  def windowedCounts(events: DataFrame,
      watermark: String = "10 minutes", win: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Per-user session windows (gap-based), watermarked. */
  def sessionCounts(events: DataFrame,
      watermark: String = "10 minutes", gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("w_start"),
        col("session_window.end").as("w_end"), col("n_events"))

  /** Exactly-once-style dedup by event_id within the watermark horizon
    * (state is dropped once the watermark passes — bounded memory). */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  /** Stream–static enrichment join: each micro-batch joins against the
    * (broadcastable) static dimension — the standard lookup-enrichment
    * shape; the static side is re-planned per batch so slowly-changing
    * dimensions refresh without restarting the query. */
  def enriched(events: DataFrame, dim: DataFrame, eventKey: String, dimKey: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim),
      col(eventKey) === col(dimKey), "left")

  /** Stream–stream INNER interval join: right rows within
    * `[leftTs, leftTs + within]` on a shared key — the
    * click-then-purchase attribution shape. Both sides watermarked, and
    * the time-range predicate is what lets Spark BOUND the join state:
    * each side's buffered rows are dropped once the other side's
    * watermark passes the interval, so state is O(key-rate × window),
    * never O(stream). Inner matches emit eagerly (no watermark wait);
    * caller renames columns apart before joining. */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      within: String, watermark: String = "10 minutes",
      joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + org.apache.spark.sql.functions.expr(
            s"INTERVAL $within"),
        joinType)

  // ---------------- custom keyed state ----------------

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** The custom state machine behind [[userRunningTotals]], on the
    * arbitrary-state v2 API (`StatefulProcessor`, the Spark 4.x
    * successor of mapGroupsWithState): typed ValueState per user,
    * one updated total emitted per key per micro-batch. TTL-free:
    * tests replay finite data; production would pass a
    * `TTLConfig(Duration)` to bound state for inactive users. */
  final class RunningTotalsProcessor
      extends StatefulProcessor[Long, Event, UserTotals] {
    @transient private var totals: ValueState[UserTotals] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals](
        "totals", Encoders.product[UserTotals], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserTotals] = {
      val prev = if (totals.exists()) totals.get() else UserTotals(user, 0L, 0.0)
      var n = prev.n_events
      var tot = prev.total_value
      rows.foreach { e => n += 1; tot += e.value }
      val next = UserTotals(user, n, tot)
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** Per-user running totals via `transformWithState` — the custom
    * streaming-state shape on the current (4.x) API. */
  /** The v2 state API (`transformWithState`) runs only on the RocksDB
    * state store provider (the production-standard one). The provider
    * is read from the SESSION conf when the query starts — possibly
    * long after this call returns — so it cannot be scoped to one
    * query and cannot be restored here without a race. Loud contract
    * instead of a silent clobber: set it only when the session still
    * has the default (unset) provider; if the caller configured a
    * DIFFERENT provider, refuse — a checkpoint written under one
    * provider is not readable under another. */
  private[streaming] def ensureRocksDbProvider(spark: SparkSession,
      who: String): Unit = {
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    // getOption would report the built-in HDFS DEFAULT as if it were
    // set; getAll holds only explicitly-configured entries, which is
    // the distinction that matters here.
    spark.conf.getAll.get(provKey) match {
      case None => spark.conf.set(provKey, rocks)
      case Some(p) if p == rocks => // already ours
      case Some(other) => throw new IllegalStateException(
        s"$who needs the RocksDB state store provider but the " +
          s"session is pinned to $other; transformWithState cannot run on it " +
          s"and silently switching would orphan existing checkpoints")
    }
  }

  def userRunningTotals(events: Dataset[Event]): Dataset[UserTotals] = {
    val spark = events.sparkSession
    ensureRocksDbProvider(spark, "userRunningTotals")
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Run any of the above to a memory sink, processing all available
    * input once (deterministic replay for tests/demos). Returns the
    * finished query handle so callers can read progress/throughput
    * metrics (`recentProgress`). */
  def runAvailableNow(df: DataFrame, queryName: String, outputMode: OutputMode)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val q = df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
