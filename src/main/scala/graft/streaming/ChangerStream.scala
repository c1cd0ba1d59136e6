package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming heavy-changer state maintenance (op260): the per-user
  * (first-half count, second-half count) pair kept online. Each
  * micro-batch reduces its arrivals to per-user partial half-counts
  * (one tiny parquet append — O(users-in-batch) rows); the serving
  * merge is an element-wise sum, so the maintained pair table equals
  * the batch group-by BIT-FOR-BIT (the op169/op193/op220 mergeable-
  * counts argument) and op250's k-bounded selection runs under its
  * UNCHANGED oracle.
  *
  * 100 TB shape: per-batch state bounded by active users, partials
  * compact at any cadence by replacing them with their sum; the
  * split day is a pinned constant of the report (a sliding split
  * re-buckets FROM THE MAINTAINED DAILY GRID, never from raw
  * events). Batch split is by event id residue so users genuinely
  * span micro-batches.
  */
object ChangerStream {

  /** Drain events through a 4-batch MemoryStream (split by event_id
    * mod 4), one per-user partial (c1, c2) per micro-batch into
    * `stateDir`, then return the merged (user_id, c1, c2) table. */
  def maintainedHalfCounts(spark: SparkSession, dir: String,
      stateDir: String, splitDay: Long = 15L): DataFrame = {
    val rows = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        datediff(to_date(col("ts")),
          lit("2024-01-01").cast("date")).cast("long").as("day"))
    Drain.partials(spark, rows, "event_id", stateDir)(
      _.groupBy("user_id")
        .agg(sum(when(col("day") < splitDay, 1L).otherwise(0L)).as("c1"),
          sum(when(col("day") >= splitDay, 1L).otherwise(0L)).as("c2")))(
      _.groupBy("user_id").agg(sum("c1").as("c1"), sum("c2").as("c2")))
  }

  /** op262's state: the DISTINCT user set kept online — per batch one
    * batch-distinct partial append; sets merge by union (idempotent,
    * so replays and overlaps are harmless), the serve re-distincts.
    * Returns the merged one-column (user_id) frame. */
  def maintainedDistinctUsers(spark: SparkSession, dir: String,
      stateDir: String): DataFrame = {
    val rows = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"))
    Drain.partials(spark, rows, "event_id", stateDir)(
      _.select("user_id").distinct())(_.distinct())
  }
}
