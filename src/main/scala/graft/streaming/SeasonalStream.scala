package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming seasonal-baseline maintenance (op220): the (event type,
  * day) count grid kept online. Each micro-batch reduces its arrivals
  * to per-(type, day) partial counts (one tiny parquet append —
  * O(grid) rows per batch regardless of volume); the serving merge is
  * an element-wise sum. Counts are the textbook mergeable summary
  * (the op169/op193 argument), so the maintained grid equals the
  * batch group-by BIT-FOR-BIT and op216's anomaly tail runs under its
  * UNCHANGED oracle.
  *
  * 100 TB shape: per-batch state bounded by the (type, day) grid, not
  * arrival volume; partials compact at any cadence by replacing them
  * with their sum. The batch split is BY EVENT ID residue, so one
  * day's traffic genuinely spans micro-batches and the merge path is
  * exercised.
  */
object SeasonalStream {

  /** Drain events through a 4-batch MemoryStream (split by event_id
    * mod 4), one per-(type, day) partial per micro-batch into
    * `stateDir`, then return the merged (event_type, day_idx, n)
    * grid. */
  def maintainedDailyCounts(spark: SparkSession, dir: String,
      stateDir: String): DataFrame = {
    val rows = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        datediff(to_date(col("ts")),
          lit("2024-01-01").cast("date")).cast("long").as("day_idx"))
    Drain.partials(spark, rows, "event_id", stateDir)(
      _.groupBy("event_type", "day_idx").agg(count(lit(1)).as("n")))(
      _.groupBy("event_type", "day_idx").agg(sum("n").as("n")))
  }

  /** op240's state: the (event_type, day, y-cents) daily-TOTAL grid
    * kept online — identical drain/merge protocol to
    * [[maintainedDailyCounts]], but the mergeable summary is the
    * integer cents SUM (sums merge exactly for the same reason counts
    * do). Returns the merged (event_type, day, y) grid. */
  def maintainedDailySums(spark: SparkSession, dir: String,
      stateDir: String): DataFrame = {
    val rows = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        datediff(to_date(col("ts")),
          lit("2024-01-01").cast("date")).cast("long").as("day"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    Drain.partials(spark, rows, "event_id", stateDir)(
      _.groupBy("event_type", "day").agg(sum("cents").as("y")))(
      _.groupBy("event_type", "day").agg(sum("y").as("y")))
  }
}
