package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming RFM base maintenance (op214): per-customer
  * (last order day, order count, lifetime cents) kept online. Each
  * micro-batch reduces its arrivals to per-customer partials (one tiny
  * parquet append — O(customers in batch) rows regardless of batch
  * volume); the serving merge re-aggregates partials per customer with
  * (max, sum, sum). All three metrics are textbook mergeable summaries
  * (max and sum are commutative/associative — the op152/op169
  * argument), so the maintained base equals the batch aggregate
  * BIT-FOR-BIT and the downstream quintile/segment tail sits under
  * op212's unchanged oracle.
  *
  * 100 TB shape: per-batch state is bounded by the active-customer
  * dimension, not arrival volume; partials compact at any cadence by
  * replacing them with their merge (the op152/op169 convention). The
  * batch split is BY ORDER DAY (day mod 4), so a customer's history
  * genuinely spans micro-batches — the merge path is exercised, not
  * just the append path.
  */
object RfmStream {

  /** Drain orders through a 4-batch MemoryStream (split by day mod 4),
    * one per-customer partial per micro-batch into `stateDir`, then
    * return the merged (o_custkey, last_day, frequency, cents) base. */
  def maintainedRfmBase(spark: SparkSession, dir: String,
      stateDir: String): DataFrame = {
    val rows = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")),
          lit("1995-01-01").cast("date")).cast("long").as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    Drain.partials(spark, rows, "day", stateDir)(
      _.groupBy("o_custkey")
        .agg(max("day").as("last_day"),
          count(lit(1)).as("frequency"),
          sum("cents").as("cents")))(
      _.groupBy("o_custkey")
        .agg(max("last_day").as("last_day"),
          sum("frequency").as("frequency"),
          sum("cents").as("cents")))
  }
}
