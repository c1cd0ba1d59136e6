package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.pipeline.{Stedi, StediFixtures}
import graft.streaming.IncrementalDedup

/** Streaming end-to-end latency probes for [[Bench]]: rows/s through the
  * flagship decode+join and through the incremental dedup — so streaming
  * regressions surface in the round bench like batch ones do (r4 verdict
  * item 4). Each probe drives a REAL streaming query (MemoryStream →
  * pipeline → memory sink) and times start → processAllAvailable over a
  * fixed row budget; the figure deliberately includes query start-up
  * (that cost is part of every micro-batch pipeline's latency story) and
  * is comparable round-over-round because the row budget is pinned.
  */
object BenchStreaming {

  /** Both probes; keys become the bench JSON's `streaming` block. */
  def run(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    // stateful ops over a handful of keys: narrow the stateful shuffle
    // width for the duration (same rationale as WindowOps.streamedTumbling)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    // a failed probe reports rate -1 instead of killing the batch bench
    def guard(f: => Double): Double =
      try f catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] streaming probe failed: $e"); -1.0
      }
    // ONE-SHOT probes (startup inside the timed region — the ingest
    // latency story) report the MEDIAN of 3 independent runs as of r16:
    // the r15 verdict flagged 7-18% round-over-round dips on keys whose
    // code hadn't changed, and a same-tree 3-pass dev-box re-run
    // measured run-to-run spreads of 1.8-2.5x on exactly these keys
    // (cold-JIT + scheduling in a single short drain) vs 1.01-1.4x on
    // the chunk-median probes. Median-of-3 keeps the key's meaning
    // (full cold-start drain) while making it comparable across rounds;
    // costs ~15 s of bench wall-clock.
    def med3(f: => Double): Double = {
      val vs = Seq(guard(f), guard(f), guard(f)).filter(_ > 0)
      if (vs.isEmpty) -1.0 else Bench.median(vs)
    }
    try Seq(
      "stedi_join_rows_per_sec" -> med3(stediJoinRowsPerSec(spark, sfDir)),
      "incremental_dedup_rows_per_sec" ->
        med3(incDedupRowsPerSec(spark, sfDir)),
      "ann_probe_rows_per_sec" -> guard(annProbeRowsPerSec(spark, sfDir)),
      "ivf_probe_rows_per_sec" ->
        guard(annProbeRowsPerSec(spark, sfDir, ivfFlat = true)),
      "pq_probe_rows_per_sec" ->
        guard(pqProbeRowsPerSec(spark, sfDir, pruned = true)),
      "pq_flat_probe_rows_per_sec" ->
        guard(pqProbeRowsPerSec(spark, sfDir, pruned = false)),
      "graph_probe_rows_per_sec" ->
        guard(graphProbeRowsPerSec(spark, sfDir, hnsw = false)),
      "hnsw_probe_rows_per_sec" ->
        guard(graphProbeRowsPerSec(spark, sfDir, hnsw = true)),
      "clustered_ingest_rows_per_sec" ->
        med3(clusteredIngestRowsPerSec(spark, sfDir)),
      "ingest_gate_rows_per_sec" ->
        med3(ingestGateRowsPerSec(spark, sfDir)))
    finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  /** Streaming ingest into the Z-ordered store (op142's shape):
    * MemoryStream arrivals land through `Layout.appendClustered` in
    * foreachBatch — per batch one bounded range-sort write + manifest
    * append. Start-up cost is inside the timed region (like the
    * flagship/dedup probes: ingest latency includes it); the base
    * store build is not (a running table exists before arrivals). */
  private def clusteredIngestRowsPerSec(spark: SparkSession,
      sfDir: String): Double = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import graft.functions.Layout
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "n_chars").limit(5000).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_zing_")
    try {
      val langIds = spark.createDataFrame(
        rows.map(_._2).distinct.sorted.zipWithIndex
          .map { case (l, i) => (l, i.toLong) }).toDF("lang", "lang_id")
      def keyed(df: DataFrame): DataFrame =
        df.join(broadcast(langIds), "lang")
          .withColumn("len_bucket",
            least(expr("n_chars div 16"), lit(65535L)).cast("bigint"))
          .select(col("doc_id"), col("lang_id"), col("len_bucket"),
            col("n_chars"))
      val zk = Layout.mortonKey(col("lang_id"), col("len_bucket"))
      val (base, arrivals) = rows.splitAt(rows.size / 2)
      Layout.writeClustered(
        keyed(spark.createDataFrame(base).toDF("doc_id", "lang", "n_chars")),
        zk, numFiles = 8, path = s"$dir/docs")
      val in = MemoryStream[(Long, String, Long)]
      in.addData(arrivals)
      val t0 = System.nanoTime()
      val q = in.toDF().toDF("doc_id", "lang", "n_chars").writeStream
        .outputMode("append")
        .foreachBatch { (b: DataFrame, _: Long) =>
          Layout.appendClustered(keyed(b), zk, numFiles = 4,
            path = s"$dir/docs")
        }
        .start()
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      q.stop()
      arrivals.size / secs
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  /** Online ANN serving under streaming execution — the SQ8 leg when
    * `ivfFlat` is false (the long-standing `ann_probe` key), the
    * IVF-flat full-vector leg when true (join-free since r14: one
    * SqShardTopK evaluation over the broadcast shard per query row).
    * The index build sits OUTSIDE the timed region — a serving
    * deployment probes a prebuilt store. Unlike the flagship/dedup
    * probes (whose start-up cost IS their latency story), this metric
    * is SERVING THROUGHPUT: the r6 artifacts split 1391 vs 452 rows/s
    * on identical code because one drain's figure was dominated by
    * stream start (plan analysis + codegen + state init). So the query
    * first drains a small warm-up batch
    * UNTIMED, then the pinned query budget is timed over a second
    * drain of the already-running query — micro-batch execution cost
    * only, stable across contended/quiet runs. */
  private def annProbeRowsPerSec(spark: SparkSession, sfDir: String,
      ivfFlat: Boolean = false): Double = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.Similarity
    import graft.streaming.StreamingAnn
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_ann_")
    try {
      if (ivfFlat)
        Similarity.ivfIndexWrite(emb, s"$dir/ix", nCells = 16, lloydIters = 2)
      else
        Similarity.sq8IndexWrite(emb, s"$dir/ix", nCells = 16, lloydIters = 2)
      val queryVecs = emb.orderBy("vec_id").limit(2500)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      // smaller fixtures (sf0.01) carry fewer query vectors than the
      // full warm-up budget — keep at least 4/5 of them in the timed set
      val (warmVecs, servedVecs) =
        queryVecs.splitAt(math.min(500, queryVecs.size / 5))
      val in = MemoryStream[(Long, Seq[Float])]
      in.addData(warmVecs)
      val name = s"bench_annprobe_${System.nanoTime()}"
      val mkStream: org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame =
        if (ivfFlat) StreamingAnn.ivfProbeStream(_, s"$dir/ix", 5, nProbe = 4)
        else StreamingAnn.sq8ProbeStream(_, s"$dir/ix", 5, nProbe = 4)
      val q = mkStream(in.toDF().toDF("vec_id", "embedding"))
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      q.processAllAvailable() // warm-up drain: start-up cost lands here
      // one timed drain is a single short micro-batch whose wall time
      // swings 2x+ with scheduling — serve the budget as four drains
      // and report the MEDIAN per-drain rate (one contended drain
      // can't move it)
      val rates = servedVecs.grouped(math.max(1, servedVecs.size / 4))
        .map { chunk =>
          in.addData(chunk)
          val t0 = System.nanoTime()
          q.processAllAvailable()
          chunk.size / ((System.nanoTime() - t0) / 1e9)
        }.toSeq
      q.stop()
      spark.catalog.dropTempView(name)
      Bench.median(rates)
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  /** Graph-ANN serving (the op292 leg, and with `hnsw` the op297 leg):
    * one GraphBeamTopK walk per query row over the broadcast NN-Descent
    * shard — flat NSW at 3 level-0 hops vs the two-layer HNSW walk at
    * 2 (the hierarchy's latency claim as a standing A/B). Same protocol
    * as [[annProbeRowsPerSec]] — index build and warm-up drain outside
    * the timed region, budget served as four drains, median per-drain
    * rate. */
  private[graft] def graphProbeRowsPerSec(spark: SparkSession,
      sfDir: String, hnsw: Boolean): Double = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.Similarity
    import graft.streaming.StreamingAnn
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_gra_")
    try {
      Similarity.nndIndexWrite(emb, s"$dir/nnd", k = 16, rounds = 3,
        capR = 16)
      if (hnsw)
        Similarity.hnswUpperWrite(emb, s"$dir/nnd/up", mod = 8, k = 8,
          rounds = 2, capR = 8)
      val queryVecs = emb.orderBy("vec_id").limit(2500)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      val (warmVecs, servedVecs) =
        queryVecs.splitAt(math.min(500, queryVecs.size / 5))
      val in = MemoryStream[(Long, Seq[Float])]
      in.addData(warmVecs)
      val name = s"bench_graphprobe_${System.nanoTime()}"
      val frame = in.toDF().toDF("vec_id", "embedding")
      val probe =
        if (hnsw) StreamingAnn.hnswProbeStream(frame, s"$dir/nnd",
          s"$dir/nnd/up", 5, upperBeam = 8, upperHops = 2,
          beam = 12, hops = 2)
        else StreamingAnn.graphProbeStream(frame, s"$dir/nnd", 5,
          beam = 12, hops = 3)
      val q = probe
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      q.processAllAvailable()
      val rates = servedVecs.grouped(math.max(1, servedVecs.size / 4))
        .map { chunk =>
          in.addData(chunk)
          val t0 = System.nanoTime()
          q.processAllAvailable()
          chunk.size / ((System.nanoTime() - t0) / 1e9)
        }.toSeq
      q.stop()
      spark.catalog.dropTempView(name)
      Bench.median(rates)
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  /** Online PQ-ADC serving (the op100 leg), measured on BOTH store
    * layouts so the r11-verdict-item-3 pruning A/B is a standing bench
    * fact rather than a one-off: `pruned = true` probes the IVF-PQ
    * store (coarse quantizer present → [[StreamingAnn.pqAdcProbeStream]]
    * delegates to the cell-pruned leg, scanning nProbe cells per query);
    * `pruned = false` probes the flat `pqIndexWrite` store (the
    * exact-recall-over-ADC baseline — a full packed-code scan per
    * micro-batch, which is what PQ-flat IS). Same query vectors, same
    * warm-up-then-timed-drains methodology as [[annProbeRowsPerSec]],
    * so pq/pq_flat is a clean pruning-speedup ratio. The flat leg gets
    * a smaller timed budget — it exists to anchor the ratio, not to
    * burn bench time scanning the whole store 2500 times. */
  private[graft] def pqProbeRowsPerSec(spark: SparkSession, sfDir: String,
      pruned: Boolean): Double = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.functions.Similarity
    import graft.streaming.StreamingAnn
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_pq_")
    try {
      if (pruned)
        Similarity.ivfPqIndexWrite(emb, s"$dir/pq", nCells = 16)
      else Similarity.pqIndexWrite(emb, s"$dir/pq")
      val budget = if (pruned) 2500 else 600
      val queryVecs = emb.orderBy("vec_id").limit(budget)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      val (warmVecs, servedVecs) =
        queryVecs.splitAt(math.min(if (pruned) 500 else 120,
          queryVecs.size / 5))
      val in = MemoryStream[(Long, Seq[Float])]
      in.addData(warmVecs)
      val name = s"bench_pqprobe_${System.nanoTime()}"
      val q = StreamingAnn.pqAdcProbeStream(
          in.toDF().toDF("vec_id", "embedding"), s"$dir/pq", 5, nProbe = 2)
        .writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      q.processAllAvailable() // warm-up drain: start-up cost lands here
      val rates = servedVecs.grouped(math.max(1, servedVecs.size / 4))
        .map { chunk =>
          in.addData(chunk)
          val t0 = System.nanoTime()
          q.processAllAvailable()
          chunk.size / ((System.nanoTime() - t0) / 1e9)
        }.toSeq
      q.stop()
      spark.catalog.dropTempView(name)
      Bench.median(rates)
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  /** Flagship surface under streaming execution: redis change-event
    * decode + risk-event parse + stream-stream symmetric-hash join. */
  private def stediJoinRowsPerSec(spark: SparkSession, sfDir: String): Double = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val custFrames = StediFixtures.redisFrames(spark, sfDir)
      .limit(10000).collect().map(_.getString(0)).toSeq
    val riskFrames = StediFixtures.riskFrames(spark, sfDir)
      .limit(20000).collect().map(_.getString(0)).toSeq
    val customers = MemoryStream[String]
    val risks = MemoryStream[String]
    val joined = Stedi.joinRisk(
      Stedi.parseRiskEventsFull(risks.toDF()),
      Stedi.decodeCustomers(customers.toDF()))
    customers.addData(custFrames)
    risks.addData(riskFrames)
    val name = s"bench_stedi_${System.nanoTime()}"
    val t0 = System.nanoTime()
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    q.processAllAvailable()
    val secs = (System.nanoTime() - t0) / 1e9
    q.stop()
    spark.catalog.dropTempView(name)
    (custFrames.size + riskFrames.size) / secs
  }

  /** Incremental dedup under streaming execution: fingerprint + anti-join
    * against a persisted store + in-stream dropDuplicates state. */
  private def incDedupRowsPerSec(spark: SparkSession, sfDir: String): Double = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").limit(5000).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_fp_")
    try {
      val store = s"$dir/fps"
      IncrementalDedup.fingerprints(
          spark.createDataFrame(docs.take(docs.size / 2)).toDF("doc_id", "text"),
          "text")
        .write.mode("overwrite").parquet(store)
      val in = MemoryStream[(Long, String)]
      in.addData(docs)
      val name = s"bench_incdedup_${System.nanoTime()}"
      val t0 = System.nanoTime()
      val q = IncrementalDedup.dedupAgainstStore(
          in.toDF().toDF("doc_id", "text"), store, "text")
        .writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      q.stop()
      spark.catalog.dropTempView(name)
      docs.size / secs
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  /** The op316 crawl-edge admission controller end to end: robots gate
    * (map-side scalar) + URL-dedup/quota transformWithState. Arrivals
    * synthesize a 200-domain crawl slice with duplicate canonicals and
    * a robots-disallowed share, and the quota (k=10, below each
    * domain's ~17 distinct allowed canonicals) REJECTS — all three
    * admission rules do real work, so a regression in any of them
    * moves the figure; includes query start-up like the flagship/dedup
    * probes (ingest latency owns it). */
  private def ingestGateRowsPerSec(spark: SparkSession,
      sfDir: String): Double = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{AdmissionGate, Drain, StateStores}
    val n = 20000
    val arrivals = (0 until n).map { i =>
      val dom = s"site${i % 200}.com"
      val path = if (i % 5 == 0) s"/blocked/${i % 7}" else s"/p/${i % 11}"
      (i.toLong, dom, path, s"https://$dom$path?id=${i % 400}")
    }
    val rules: Map[String, Seq[(String, Boolean)]] =
      (0 until 200).map(k => s"site$k.com" ->
        Seq("/blocked/" -> false)).toMap
    val name = s"bench_gate_${System.nanoTime()}"
    val in = MemoryStream[(Long, String, String, String)]
    in.addData(arrivals)
    val t0 = System.nanoTime()
    val q = Drain.start(spark, StateStores.rocksDbConf)(
      AdmissionGate.robotsGatedAdmission(
          in.toDF().toDF("doc_id", "domain", "path", "url_canon"),
          rules, k = 10L)
        .writeStream.outputMode("append").format("memory")
        .queryName(name))
    q.processAllAvailable()
    q.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    spark.catalog.dropTempView(name)
    n / secs
  }
}
