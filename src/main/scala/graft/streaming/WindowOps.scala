package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-time windowing (SURVEY.md §2.6 extensions OP-51/52):
  * watermarks, tumbling/sliding windows — same column expressions serve
  * batch and streaming (the operators are source-agnostic).
  *
  * Scale: windowed aggregation shuffles on (window, keys); with a
  * watermark the state store retains only windows newer than
  * watermark-delay, so state is bounded by (delay / slide) × |keys| —
  * the knob that makes 100 TB/day streams sustainable. Without a
  * watermark (reference semantics) state grows forever; both modes are
  * supported, faithful mode documented as unbounded.
  */
object WindowOps {

  /** Exact basis-point sum of a 2-decimal double column: integer cents
    * accumulate associatively (partition-order independent, unlike double
    * sums), ×100 lands on the ×10000 bp output contract. */
  private def sumValueBp(c: org.apache.spark.sql.Column) =
    (graft.queries.Det.centsSum(c) * 100).cast("bigint")

  /** Tumbling-window aggregate: (window_start, event_type) → count, sum. */
  def tumblingCounts(events: DataFrame, width: String): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n"),
           sumValueBp(col("value")).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window aggregate (width > slide ⇒ overlapping assignment). */
  def slidingCounts(events: DataFrame, width: String, slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"))

  /** Session-window aggregate: per-user sessions closed by a gap. */
  def sessionAgg(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).cast("bigint").as("n_events"),
           sumValueBp(col("value")).as("sum_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("sum_value"))

  /** OP-51: the watermarked tumbling aggregate executed as a REAL
    * Structured Streaming query — file source → withWatermark → windowed
    * agg → memory sink, Trigger.AvailableNow. With all data in one
    * replay the watermark drops nothing, so the result equals the batch
    * twin (and is DuckDB-checkable); the spec exercises actual
    * late-data dropping with a multi-batch MemoryStream. */
  def streamedTumbling(spark: SparkSession, dir: String,
      width: String = "1 hour", delay: String = "10 minutes"): DataFrame =
    Drain.files(spark, dir, "op51", "events", "complete",
        Drain.width("4"))(raw =>
      tumblingCounts(EventStreams.withEventTs(raw).withWatermark("ts", delay),
        width))
}
