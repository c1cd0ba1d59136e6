package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming fact–dimension join-view maintenance (op223): the
  * per-nation customer×orders aggregate kept online as order FACTS
  * stream in. Each micro-batch joins its arrivals against the
  * BROADCAST customer dimension (the stream-static enrichment every
  * streaming ETL runs) and appends a per-nation partial aggregate;
  * the serving merge sums partials. Join-then-aggregate distributes
  * over batch partition (each fact row joins and contributes exactly
  * once), so the maintained view equals the full batch join-aggregate
  * BIT-FOR-BIT — op222's oracle unchanged.
  *
  * 100 TB shape: per-batch cost is O(batch ⋈ broadcast dim) — the
  * base is never re-joined (op222's delta-leg argument made
  * continuous); partials are O(|nations|) rows per batch and compact
  * at any cadence. A dimension too big to broadcast switches the
  * per-batch join to the op176b co-partitioned spelling; SCD-changing
  * dimensions need the op188 point-in-time machinery (declared
  * boundary).
  */
object DimJoinStream {

  /** Drain orders through a 4-batch MemoryStream (split by order key
    * mod 4), joining each batch against the broadcast customer dim and
    * appending per-nation partials into `stateDir`; return the merged
    * (c_nationkey, n_orders, sum_cents) view. */
  def maintainedJoinView(spark: SparkSession, dir: String,
      stateDir: String): DataFrame = {
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_nationkey"))
    val rows = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    Drain.partials(spark, rows, "o_orderkey", stateDir)(batch =>
      batch.join(broadcast(cust), batch("o_custkey") === cust("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("sum_cents")))(
      _.groupBy("c_nationkey")
        .agg(sum("n_orders").as("n_orders"),
          sum("sum_cents").as("sum_cents")))
  }
}
