package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.MonitorQueries

/** Streaming bounded-top-k maintenance (op189): the op169 argument — a
  * mergeable summary maintained online equals its batch build — applied
  * to ORDER STATISTICS instead of counters. Each micro-batch reduces its
  * documents to one partial top-k list per source (≤ k rows appended per
  * batch per source); the serving merge re-aggregates the partials
  * through the same TopKAgg. Top-k of a union ≡ top-k of per-slice
  * top-ks (selection is an idempotent semilattice), so the maintained
  * sample is BIT-IDENTICAL to op186's one-shot build and op189 sits
  * under op186's unchanged oracle.
  *
  * 100 TB shape: per-batch state is ≤ k·|sources| rows regardless of
  * batch size; the merge reads O(batches·k·sources) rows, compacted at
  * any cadence by replacing partials with their merged top-k (the
  * op152/op169 compaction convention). A document never crosses the
  * wire twice, and no raw-corpus reshuffle ever happens at serve time.
  */
object TopKStream {

  /** Drain the documents table through a 4-batch MemoryStream, writing
    * one partial weighted-sample top-k per micro-batch into `stateDir`,
    * then return the merged (source, rank, doc_id, prio) selection. */
  def maintainedSample(spark: SparkSession, dir: String,
      stateDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "doc_id", "n_chars")
    // four deterministic arrival slices → four partial top-k lists; the
    // serve-side merge re-enters the SAME bounded top-k, so the result
    // is ≤ k·|sources| rows
    Drain.partials(spark, docs, "doc_id", stateDir)(batch =>
      MonitorQueries.wsSelect(MonitorQueries.wsScored(batch))
        .select("source", "doc_id", "prio"))(
      MonitorQueries.wsSelect)
  }
}
