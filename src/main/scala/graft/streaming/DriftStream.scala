package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming drift-gate state maintenance (op193): the arriving slice's
  * value histogram kept online. Each micro-batch reduces its documents
  * to per-length counts (one tiny parquet append — O(distinct lengths)
  * rows per batch regardless of batch size); the gate's merge is an
  * element-wise sum of the partial histograms. Counts are the textbook
  * mergeable summary (exact, commutative, associative addition — the
  * op169 CMS argument without even the hashing), so the maintained
  * histogram equals the batch group-by BIT-FOR-BIT and the downstream
  * KS gate (MonitorQueries.ksFromGrid) sits under op187's unchanged
  * oracle.
  *
  * 100 TB shape: per-batch state is bounded by the value domain, not
  * the arrival volume; partials compact at any cadence by replacing
  * them with their sum (the op152/op169 convention). The REFERENCE side
  * of the gate is a pinned static snapshot — the deployment shape of a
  * daily train-vs-serve drift check.
  */
object DriftStream {

  /** Drain the src0 documents through a 4-batch MemoryStream, writing
    * one partial length histogram per micro-batch into `stateDir`,
    * then return the merged (v, c1) counts. */
  def maintainedLengthCounts(spark: SparkSession, dir: String,
      stateDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("source") === "src0")
      .select("doc_id", "n_chars")
    Drain.partials(spark, docs, "doc_id", stateDir)(
      _.groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("c")))(
      _.groupBy("v").agg(sum("c").as("c1")))
  }

  /** op280: the op279 percentile grid — (lang, length) counts over the
    * WHOLE corpus — maintained online. Identical mergeability argument
    * (counts, element-wise sum), so the maintained grid equals the
    * batch histogram bit-for-bit and op279's percentile walk serves
    * under its UNCHANGED oracle: the latency-SLO deployment shape
    * (exact p50/p90/p99 re-asked per serve at grid cost, arrivals
    * folded as they land, never a corpus re-scan). */
  def maintainedLangLengthCounts(spark: SparkSession, dir: String,
      stateDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "n_chars")
    Drain.partials(spark, docs, "doc_id", stateDir)(
      _.groupBy(col("lang"), col("n_chars").as("v"))
        .agg(count(lit(1)).as("c")))(
      _.groupBy("lang", "v").agg(sum("c").as("c")))
  }
}
