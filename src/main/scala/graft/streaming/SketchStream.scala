package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CountMin

/** Streaming count-min-sketch maintenance (op169): the mergeable-summary
  * property exercised ONLINE — each micro-batch reduces its documents to
  * one d×w partial counter grid (a parquet append of d·w rows), and the
  * serving-side merge is an element-wise sum of the partials. Because
  * CMS merge is exact (commutative, associative addition), the
  * maintained sketch equals the one-shot batch build BIT-FOR-BIT — which
  * is why the streamed operator can sit under op159's unchanged oracle.
  *
  * 100 TB shape: per-batch state written is d·w longs regardless of
  * batch size or token cardinality; the merge reads O(batches) grids,
  * compacted at any cadence by replacing them with their sum (the op152
  * incremental-aggregate convention applied to a sketch). No token ever
  * crosses the wire twice.
  */
object SketchStream {

  /** Drain the documents table through a 4-batch MemoryStream, writing
    * one partial CMS grid per micro-batch into `stateDir`, then return
    * the element-wise-merged counters as (r, b, cnt). */
  def maintainedCounters(spark: SparkSession, dir: String,
      depth: Int, width: Int, stateDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text")
    Drain.partials(spark, docs, "doc_id", stateDir)(
      _.select(explode(split(col("text"), " ")).as("w"))
        .agg(CountMin.sketch(depth, width)(col("w")).as("sk"))
        .select(posexplode(col("sk")))
        .select(expr(s"CAST(pos div $width AS BIGINT)").as("r"),
          expr(s"CAST(pos % $width AS BIGINT)").as("b"),
          col("col").as("cnt")))(
      _.groupBy("r", "b").agg(sum("cnt").as("cnt")))
  }
}
