package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Multimodal

/** Online perceptual image dedup (op231) — the image modality's
  * op132: each ARRIVING image is decoded, aHashed, and band-joined
  * against everything previously accepted (persisted hash store,
  * bootstrap-to-empty) PLUS its own micro-batch (so same-batch pairs
  * are not a blind spot), flagged at Hamming ≤ 7, and its hash is
  * appended to the store. Every qualifying unordered pair is flagged
  * EXACTLY ONCE — when its later member arrives (cross-batch) or
  * within the shared batch (same-batch leg) — so the union of flags
  * over any batch split equals op229's batch pair set, and the op runs
  * under op229's UNCHANGED oracle.
  *
  * 100 TB shape: per-arrival cost is one decode + one 8-band
  * equi-join against a store bucketed by (band, value) (the op132
  * band-store shape in Hamming space); the in-run store append is one
  * tiny parquet file per batch, compactable at any cadence. The ≤ 7
  * threshold keeps banding recall EXACT (pigeonhole, op229's
  * argument) — the online gate inherits the auditability of the batch
  * one.
  */
object ImageDedupStream {

  private def withBands(hh: DataFrame): DataFrame =
    hh.select(col("doc_id"), col("h_lo"), col("h_hi"),
        explode(sequence(lit(0), lit(7))).as("b"))
      .withColumn("bv", expr(
        "CASE WHEN b < 4 THEN shiftright(h_lo, CAST(8*b AS INT)) & 255 " +
          "ELSE shiftright(h_hi, CAST(8*(b-4) AS INT)) & 255 END"))

  /** Banded candidates of `probe` against `ref` (doc ids must differ),
    * verified at Hamming ≤ 7; emits normalized (doc_a < doc_b). */
  private def flaggedPairs(probe: DataFrame, ref: DataFrame): DataFrame = {
    val a = withBands(probe).select(col("doc_id").as("pa"),
      col("h_lo").as("la"), col("h_hi").as("ha"), col("b"), col("bv"))
    val r = withBands(ref).select(col("doc_id").as("pb"),
      col("h_lo").as("lb"), col("h_hi").as("hb"), col("b"), col("bv"))
    a.join(r, Seq("b", "bv")).where(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("doc_a"),
        greatest(col("pa"), col("pb")).as("doc_b"),
        when(col("pa") < col("pb"), col("la")).otherwise(col("lb"))
          .as("la2"),
        when(col("pa") < col("pb"), col("ha")).otherwise(col("hb"))
          .as("ha2"),
        when(col("pa") < col("pb"), col("lb")).otherwise(col("la"))
          .as("lb2"),
        when(col("pa") < col("pb"), col("hb")).otherwise(col("ha"))
          .as("hb2"))
      .distinct()
      .withColumn("hamming", expr(
        "CAST(bit_count(la2 ^ lb2) + bit_count(ha2 ^ hb2) AS BIGINT)"))
      .where(col("hamming") <= 7)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Drain the corpus's images through a 4-batch MemoryStream (split
    * by doc id mod 4); per batch: aHash arrivals, flag against the
    * persisted store AND within the batch, append hashes to the
    * store. Returns the union of flags. */
  def maintainedNearDupFlags(spark: SparkSession, dir: String,
      stateDir: String): DataFrame = {
    import spark.implicits._
    // flags are query OUTPUT, not maintained state — buffer them as
    // checkpointed frames instead of a per-batch parquet write + end
    // read (r16, same change as FpDedupStream; the hash STORE keeps
    // its per-batch persisted appends)
    val flagBatches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    Drain.slices(spark, Multimodal.synthesizeImages(spark, dir).toDF(),
        "doc_id") { batch =>
      // MemoryStream batches arrive as ONE partition — spread the
      // payloads before the per-row decode (r16, the codecDocIds
      // rule at the streaming edge)
      val hh = Multimodal.imageAHash(
          batch.select(col("doc_id"), col("format"), col("payload"))
            .repartition(spark.sparkContext.defaultParallelism)
            .as[Multimodal.ImageRecord])
        .toDF().localCheckpoint()
      val storePath = s"$stateDir/hashes"
      val prior =
        if (new java.io.File(storePath).exists())
          spark.read.parquet(storePath)
        else spark.emptyDataFrame
          .select(lit(0L).as("doc_id"), lit(0L).as("h_lo"),
            lit(0L).as("h_hi")).limit(0)
      val sameBatch = flaggedPairs(hh, hh)
      val crossBatch = flaggedPairs(hh, prior)
      flagBatches += sameBatch.unionByName(crossBatch).localCheckpoint()
      hh.coalesce(1).write.mode("append").parquet(storePath)
    }
    val flags = flagBatches.reduce(_ unionByName _).localCheckpoint()
    new scala.reflect.io.Directory(new java.io.File(stateDir))
      .deleteRecursively()
    flags
  }
}
