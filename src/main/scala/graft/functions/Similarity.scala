package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k (baseline) and
  * sign-LSH bucketed ANN (scale path).
  *
  * Cross-engine determinism: floats are quantized once with
  * floor(x·10⁶) → BIGINT (exact for identical IEEE inputs), dot products
  * accumulate in integer (associative ⇒ partition-order independent), and
  * any subsequent double math (sqrt, divide) is IEEE-deterministic given
  * identical integer inputs. That makes cosine scores hash-comparable
  * against DuckDB — something raw float accumulation can never guarantee.
  *
  * Scale design: brute force is a broadcast nested-loop of Q queries × N
  * corpus rows — linear in N with Q-way fan-out, the right baseline for
  * small Q. The LSH path buckets both sides by hyperplane sign bits and
  * joins on bucket: expected cost N·Q/2^bits, trading recall for fan-out.
  * For 100 TB corpora the buckets also partition storage (write bucketed
  * parquet), so queries prune at scan time.
  */
object Similarity {

  /** floor(x·10⁶) quantization of a float array → BIGINT array. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * 1000000d).cast("bigint"))

  /** Exact integer dot product of two quantized vectors — a custom
    * codegen'd Catalyst expression (graft.expressions.LongArrayDot); the
    * builtin aggregate(zip_with(...)) spelling interprets two lambdas and
    * allocates per pair, which dominates all-pairs scans. */
  def intDot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.expressions.LongArrayDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Deterministic cosine in basis points from a precomputed integer dot
    * and the two squared norms: floor(10⁴ · dot / (√Σa²·√Σb²)). Norms are
    * computed once per row, not once per pair. Zero-norm vectors (all
    * components < 1e-6, or empty) define cosine 0 — without the guard the
    * division yields NaN and the bigint cast throws under ANSI mode. */
  def cosBpFrom(dot: Column, normSqA: Column, normSqB: Column): Column =
    when(normSqA === 0 || normSqB === 0, lit(0L))
      .otherwise(floor(dot.cast("double") /
        (sqrt(normSqA.cast("double")) * sqrt(normSqB.cast("double"))) * 10000d)
        .cast("bigint"))

  /** Deterministic cosine in basis points of two quantized vectors. */
  def cosBp(aQ: Column, bQ: Column): Column =
    cosBpFrom(intDot(aQ, bQ), intDot(aQ, aQ), intDot(bQ, bQ))

  /** Float cosine (double accumulation) — the natural production scorer,
    * not oracle-hashable (float sums are order-sensitive), verified in
    * ScalaTest against the quantized variant. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0d), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0d), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0d), (acc, v) => acc + v))
    dot / (na * nb)
  }

  /** Brute-force top-k nearest neighbors by deterministic cosine:
    * queries (small, broadcast) × corpus (large) → per-query top-k.
    * Excludes self-pairs; ties broken by vec_id. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
      quantize(col("embedding")).as("q_vec"))
      .withColumn("q_n2", intDot(col("q_vec"), col("q_vec")))
    val c = corpus.select(col("vec_id").as("n_id"),
      quantize(col("embedding")).as("n_vec"))
      .withColumn("n_n2", intDot(col("n_vec"), col("n_vec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        cosBpFrom(intDot(col("q_vec"), col("n_vec")), col("q_n2"), col("n_n2"))
          .as("cos_bp"))
    topKPerQuery(scored, k)
  }

  /** Shared rank-and-trim: per-query top-k of a (q_id, n_id, cos_bp)
    * scored set, ties broken by n_id; rank is BIGINT (oracle contract). */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_bp").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplanes: weight(table,b,i) derived
    * from md5 so any engine (or a future re-run) regenerates identically.
    * Returns nBits × dim doubles in [-1, 1). */
  def hyperplanes(nBits: Int, dim: Int, table: Int = 0): Array[Array[Double]] = {
    import java.security.MessageDigest
    Array.tabulate(nBits, dim) { (b, i) =>
      val md = MessageDigest.getInstance("MD5")
        .digest(s"graft-lsh:$table:$b:$i".getBytes("UTF-8"))
      val v = java.lang.Long.parseLong(
        md.take(7).map(x => f"$x%02x").mkString, 16)
      (v.toDouble / math.pow(2, 55)) - 1.0
    }
  }

  /** Brute-force top-k via the bounded TopKAgg aggregate instead of a
    * window: map-side partials trim to k, so the shuffle moves k rows per
    * (query, partition) instead of every scored pair — the scale path for
    * large corpora (see TopKAgg). Output is identical to bruteForceTopK. */
  def bruteForceTopKAgg(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
      quantize(col("embedding")).as("q_vec"))
      .withColumn("q_n2", intDot(col("q_vec"), col("q_vec")))
    val c = corpus.select(col("vec_id").as("n_id"),
      quantize(col("embedding")).as("n_vec"))
      .withColumn("n_n2", intDot(col("n_vec"), col("n_vec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        cosBpFrom(intDot(col("q_vec"), col("n_vec")), col("q_n2"), col("n_n2"))
          .as("cos_bp"))
    scored.groupBy(col("q_id"))
      .agg(TopKAgg.topK(k)(col("cos_bp"), col("n_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("n_id"),
        col("t.score").as("cos_bp"), (col("pos") + 1).cast("bigint").as("rank"))
  }

  /** Multi-table sign-LSH bucket assignments: one (table, bucket) row per
    * input row per table. Collision probability per table for neighbors at
    * angle θ is (1-θ/π)^nBits; L independent tables lift recall to
    * 1-(1-p)^L, the standard recall/fan-out dial. All tables' buckets are
    * computed in one pass by the SignLshBuckets expression. */
  def lshBucketsMulti(df: DataFrame, idCol: String, nBits: Int,
      nTables: Int, dim: Int = 64): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // Seq-of-Seq (value equality) so identical expressions canonicalize
    val planes: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      IndexedSeq.tabulate(nTables)(t =>
        hyperplanes(nBits, dim, t).map(_.toIndexedSeq).toIndexedSeq)
    val bucketsCol = ColumnBridge.column(graft.expressions.SignLshBuckets(
      ColumnBridge.expression(col("embedding")), planes))
    df.select(col(idCol), col("embedding"), bucketsCol.as("buckets"))
      .select(col(idCol), col("embedding"),
        posexplode(col("buckets")).as(Seq("tbl", "bucket")))
  }

  /** ANN top-k via multi-table sign-LSH: candidates are rows sharing any
    * (table, bucket) with the query; scored once per distinct pair.
    * Recall < 1 by design — measured against bruteForceTopK in the spec.
    *
    * Plan shape (mirrors [[nearDupPairsLsh]]): the candidate dedup
    * shuffles BARE (q_id, n_id) pairs — a row is 16 bytes, not two
    * 64-dim arrays — and the quantized vectors with precomputed norms
    * re-attach by join afterwards, so each norm is computed once per
    * VECTOR instead of twice per candidate pair. */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nBits: Int = 4, nTables: Int = 8): DataFrame = {
    val c = lshBucketsMulti(corpus, "vec_id", nBits, nTables)
      .select(col("vec_id").as("n_id"), col("tbl"), col("bucket"))
    val nv = corpus.select(col("vec_id").as("n_id"),
        quantize(col("embedding")).as("n_vec"))
      .withColumn("n_n2", intDot(col("n_vec"), col("n_vec")))
    annProbeFrames(queries, c, nv, k, nBits, nTables)
  }

  /** Probe a (bucket table, vector store) LSH index: bucket the queries
    * with the same planes, join candidates on (tbl, bucket), dedup bare
    * id pairs, re-attach stored vectors, rank. Identical output to
    * [[annTopK]]. `qBuckets` lets a caller that already bucketed the
    * queries (to prune the store scan — [[lshProbe]]) pass the frame in
    * instead of re-deriving it. */
  private def annProbeFrames(queries: DataFrame, cBuckets: DataFrame,
      nv: DataFrame, k: Int, nBits: Int, nTables: Int,
      qBuckets: Option[DataFrame] = None): DataFrame = {
    val q = qBuckets.getOrElse(
      lshBucketsMulti(queries, "vec_id", nBits, nTables)
        .select(col("vec_id").as("q_id"), col("tbl"), col("bucket")))
    val cand = cBuckets.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))
      .dropDuplicates("q_id", "n_id")
    val qv = queries.select(col("vec_id").as("q_id"),
        quantize(col("embedding")).as("q_vec"))
      .withColumn("q_n2", intDot(col("q_vec"), col("q_vec")))
    val scored = cand.join(broadcast(qv), "q_id").join(nv, "n_id")
      .select(col("q_id"), col("n_id"),
        cosBpFrom(intDot(col("q_vec"), col("n_vec")),
          col("q_n2"), col("n_n2")).as("cos_bp"))
    topKPerQuery(scored, k)
  }

  /** Build the multi-table LSH index ONCE and persist it: `dir/buckets`
    * — one (vec_id, tbl, bucket) row per table, PARTITIONED BY
    * (tbl, bucket) so a probe reads only its L colliding buckets
    * (~L·2^-bits of the corpus; the layout ScaleSpec proves prunes at
    * scan time) — and `dir/vectors`, the quantized vectors with
    * precomputed norms that candidate scoring re-attaches. The planes
    * are md5-derived from (table, bit, dim) alone (golden-pinned in the
    * spec), so any later session regenerates the query-side buckets
    * identically — nothing about the planes needs storing. */
  def lshIndexWrite(corpus: DataFrame, dir: String, nBits: Int = 4,
      nTables: Int = 8): Unit = {
    lshBucketsMulti(corpus, "vec_id", nBits, nTables)
      .select(col("vec_id").as("n_id"), col("tbl"), col("bucket"))
      // cluster rows by their target directory before the partitioned
      // write: without this every task holds rows of every bucket and
      // each of the nTables·2^nBits directories gets one small file PER
      // TASK — the small-file tax that dominated the probe's scan
      .repartition(col("tbl"), col("bucket"))
      .write.mode("overwrite").partitionBy("tbl", "bucket")
      .parquet(s"$dir/buckets")
    // the trained geometry travels WITH the index: probes and appends
    // read it back instead of trusting the caller to repeat it (planes
    // are pure functions of (nBits, nTables) — a mismatch re-derives
    // DIFFERENT planes and silently probes wrong buckets). Written
    // before `vectors`, the completeness marker, so a published index
    // always carries it.
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq((nBits, nTables)).toDF("n_bits", "n_tables")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
    corpus.select(col("vec_id").as("n_id"),
        quantize(col("embedding")).as("n_vec"))
      .withColumn("n_n2", intDot(col("n_vec"), col("n_vec")))
      .write.mode("overwrite").parquet(s"$dir/vectors")
  }

  /** The stored LSH geometry, falling back to the caller's values for
    * LEGACY dirs written before `meta` existed. */
  private[graft] def lshGeometry(spark: SparkSession, dir: String,
      nBits: Int, nTables: Int): (Int, Int) = {
    val marker = new org.apache.hadoop.fs.Path(s"$dir/meta/_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker)) {
      val r = spark.read.parquet(s"$dir/meta").head()
      (r.getInt(r.fieldIndex("n_bits")), r.getInt(r.fieldIndex("n_tables")))
    } else (nBits, nTables)
  }

  /** Append new vectors to a persisted LSH index: bucket them with the
    * same md5-derived planes (parameters must match the build — the
    * planes are a pure function of (nBits, nTables), golden-pinned in
    * the spec) and append their bucket rows and vectors. Appending to an
    * LSH index is exactly equivalent to having built it on the union —
    * bucketing is per-row, nothing is trained — and the spec asserts
    * probe(write(A) + append(B)) ≡ annTopK over A∪B. */
  def lshIndexAppend(newVecs: DataFrame, dir: String, nBits: Int = 4,
      nTables: Int = 8): Unit = {
    val (b, t) = lshGeometry(newVecs.sparkSession, dir, nBits, nTables)
    lshBucketsMulti(newVecs, "vec_id", b, t)
      .select(col("vec_id").as("n_id"), col("tbl"), col("bucket"))
      .repartition(col("tbl"), col("bucket")) // one file per touched dir
      .write.mode("append").partitionBy("tbl", "bucket")
      .parquet(s"$dir/buckets")
    newVecs.select(col("vec_id").as("n_id"),
        quantize(col("embedding")).as("n_vec"))
      .withColumn("n_n2", intDot(col("n_vec"), col("n_vec")))
      .write.mode("append").parquet(s"$dir/vectors")
  }

  /** Probe a persisted LSH index ([[lshIndexWrite]]): same results as
    * the end-to-end [[annTopK]] with matching parameters — bucketing and
    * quantization of the corpus never recur.
    *
    * Scan pruning: the probe touches at most queries·nTables of the
    * nTables·2^nBits stored (tbl, bucket) partitions, but the candidate
    * join alone gives the scan no static predicate (and the broadcast
    * query side defeats DPP). The probed bucket set is index-METADATA
    * sized, so it is computed once at plan time (same pattern as
    * [[graft.streaming.StreamingAnn.ivfProbeStream]]'s centroid
    * collect — bounded by the query batch, never by the corpus) and
    * pushed into the scan as per-table IN-lists, which land in the
    * scan's PartitionFilters (ScaleSpec-proven). Filtering the store to
    * probed buckets cannot change results — candidates require a bucket
    * match anyway. Past `maxProbeBuckets` distinct buckets the filter is
    * skipped (a huge batch probes most of the store, and an unbounded
    * IN-list only bloats the plan). */
  def lshProbe(queries: DataFrame, dir: String, k: Int, nBits: Int = 4,
      nTables: Int = 8, maxProbeBuckets: Int = 4096): DataFrame = {
    val spark = queries.sparkSession
    // the STORED geometry wins over the caller's (legacy-dir fallback
    // only): mismatched planes would silently probe wrong buckets
    val (gBits, gTables) = lshGeometry(spark, dir, nBits, nTables)
    // the query bucket frame has two consumers (plan-time probed-bucket
    // set, candidate join) but is NOT checkpointed: recomputing the
    // bucket expression over the small query side costs less than the
    // extra eager materialization job would
    val qb = lshBucketsMulti(queries, "vec_id", gBits, gTables)
      .select(col("vec_id").as("q_id"), col("tbl"), col("bucket"))
    val probed = qb.select(col("tbl"), col("bucket")).distinct()
      .limit(maxProbeBuckets + 1).collect()
    val base = spark.read.parquet(s"$dir/buckets")
    val pruned =
      if (probed.length > maxProbeBuckets) base
      else probed.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map {
        case (t, rows) =>
          col("tbl") === t &&
            col("bucket").isin(rows.map(_.getLong(1)).sorted.toIndexedSeq: _*)
      }.reduceOption(_ || _).map(base.filter).getOrElse(base.limit(0))
    // tbl/bucket are partition directories on disk; restore their types
    val cBuckets = pruned
      .select(col("n_id"), col("tbl").cast("int").as("tbl"),
        col("bucket").cast("bigint").as("bucket"))
    val nv = spark.read.parquet(s"$dir/vectors")
    annProbeFrames(queries, cBuckets, nv, k, gBits, gTables, Some(qb))
  }

  /** Deterministic Lloyd refinement of IVF centroids, entirely in the
    * quantized-integer domain: seed with the lowest-vec_id vectors, then
    * repeat (assign each vector to its max-cosine centroid → replace the
    * centroid with the element-wise integer MEAN of its members). Long
    * sums are associative, so unlike float k-means the result is
    * identical across runs and partitionings. Empty cells keep their
    * previous centroid. Each iteration is one broadcast-assign pass plus
    * one (64·N)-row positional aggregate — linear in the corpus. */
  def lloydCentroids(corpus: DataFrame, nCells: Int, iters: Int,
      dim: Int = 64): DataFrame = {
    val vecs = corpus.select(col("vec_id"),
        quantize(col("embedding")).as("vec"))
      .withColumn("n2", intDot(col("vec"), col("vec")))
      .localCheckpoint()
    val seeds = vecs.orderBy(col("vec_id")).limit(nCells)
      .select(col("vec_id").as("cent_id"), col("vec").as("cent_vec"),
        col("n2").as("cent_n2"))
      .localCheckpoint()
    (0 until iters).foldLeft(seeds) { (cents, _) =>
      val scored = vecs.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("vec"), col("cent_id"),
          cosBpFrom(intDot(col("vec"), col("cent_vec")),
            col("n2"), col("cent_n2")).as("cent_cos"))
      lloydUpdate(nearestCell(scored, "vec_id", Seq("vec")), cents,
        Seq("cent_id"), "vec", dim)
    }
  }

  /** One integer-Lloyd mean update, shared by [[lloydCentroids]] and the
    * PQ codebook: each `keys` group of `assigned` becomes the
    * element-wise integer mean of its `vecCol` members (`width`
    * positions) plus its norm; a group that won no members keeps its row
    * of `prev`. Returns (keys…, cent_vec, cent_n2), checkpointed. */
  private def lloydUpdate(assigned: DataFrame, prev: DataFrame,
      keys: Seq[String], vecCol: String, width: Int): DataFrame = {
    // element-wise integer mean in ONE hash aggregate: per-position sums
    // as plain columns (bounded state, map-side partials) instead of
    // posexplode + positional groupBy + array reassembly
    val sums = (0 until width).map(i =>
      sum(element_at(col(vecCol), i + 1)).as(s"m$i"))
    val meanVec = array((0 until width).map(i =>
      (col(s"m$i").cast("double") / col("n")).cast("bigint")): _*)
    val means = assigned
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(keys.map(col) :+ meanVec.as("cent_vec"): _*)
      .withColumn("cent_n2", intDot(col("cent_vec"), col("cent_vec")))
    // empty cells vanish from `means`; retain their previous centroid
    means
      .unionByName(prev.join(means.select(keys.map(col): _*), keys, "left_anti"))
      .localCheckpoint()
  }

  /** IVF-flat ANN: partition the corpus into `nCells` inverted lists by
    * nearest centroid; a query scans only its `nProbe` closest cells.
    *
    * Centroids are deterministic — the lowest-vec_id corpus vectors,
    * optionally refined by `lloydIters` integer-domain Lloyd passes
    * ([[lloydCentroids]] — tighter cells, same mechanics). Cell
    * assignment maximizes the deterministic quantized cosine, ties to the
    * lower centroid id. Cost: corpus×nCells assignment (one pass, linear)
    * + query-side nProbe/nCells fraction of the corpus scanned. At 100 TB
    * the cell id becomes a storage partition key → scan-time pruning.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, lloydIters: Int = 0): DataFrame = {
    val (cents, cells) = ivfIndexFrames(corpus, nCells, lloydIters)
    ivfProbeFrames(queries, cents, cells, k, nProbe)
  }

  /** Score every row of `df` against every broadcast centroid —
    * (id, vec, n2, cent_id, cent_cos), one row per (vector, centroid). */
  private def cellScored(df: DataFrame, idAs: String,
      centB: DataFrame): DataFrame = {
    val q = df.select(col("vec_id").as(idAs),
      quantize(col("embedding")).as(s"${idAs}_vec"))
      .withColumn(s"${idAs}_n2", intDot(col(s"${idAs}_vec"), col(s"${idAs}_vec")))
    q.crossJoin(centB)
      .select(col(idAs), col(s"${idAs}_vec"), col(s"${idAs}_n2"), col("cent_id"),
        cosBpFrom(intDot(col(s"${idAs}_vec"), col("cent_vec")),
          col(s"${idAs}_n2"), col("cent_n2")).as("cent_cos"))
  }

  /** IVF index as lazy frames: (centroids, cell-assigned corpus). */
  private def ivfIndexFrames(corpus: DataFrame, nCells: Int,
      lloydIters: Int): (DataFrame, DataFrame) = {
    val cents =
      if (lloydIters > 0) lloydCentroids(corpus, nCells, lloydIters)
      else corpus.orderBy(col("vec_id")).limit(nCells)
        .select(col("vec_id").as("cent_id"),
          quantize(col("embedding")).as("cent_vec"))
        .withColumn("cent_n2", intDot(col("cent_vec"), col("cent_vec")))
    (cents, assignCells(corpus, broadcast(cents)))
  }

  /** Nearest IVF cell per `key` of a (key, cent_id, cent_cos, carry…)
    * scored frame: the deterministic max-cos / lowest-cent_id rule
    * shared by Lloyd training, the index builds and every append, with
    * the `carry` columns (constant per key) riding along. An
    * aggregation, not a window: max_by with a total tiebreak does
    * map-side partials and shuffles N rows, not N×nCells. */
  private def nearestCell(scored: DataFrame, key: String,
      carry: Seq[String]): DataFrame =
    scored.groupBy(col(key))
      .agg(max_by(col("cent_id"), struct(col("cent_cos"), -col("cent_id")))
          .as("cent_id"),
        carry.map(c => first(col(c)).as(c)): _*)

  /** Nearest-centroid assignment of `df` against broadcast `cents`:
    * (n_id, cent_id, n_id_vec, n_id_n2). */
  private def assignCells(df: DataFrame, cents: DataFrame): DataFrame =
    nearestCell(cellScored(df, "n_id", cents), "n_id",
      Seq("n_id_vec", "n_id_n2"))

  /** Probe a (centroids, cells) IVF index: nProbe best cells per query,
    * exact rescoring within them. Identical output to [[ivfTopK]]. */
  /** Each query with its nProbe best cells (small side — window is
    * fine): (q_id, q_id_vec, q_id_n2, cent_id), one row per probed
    * cell. */
  private def probedQueryCells(queries: DataFrame, cents: DataFrame,
      nProbe: Int): DataFrame = {
    val wq = Window.partitionBy(col("q_id"))
      .orderBy(col("cent_cos").desc, col("cent_id"))
    cellScored(queries, "q_id", broadcast(cents))
      .withColumn("cr", row_number().over(wq)).filter(col("cr") <= nProbe)
      .drop("cent_cos", "cr")
  }

  private def ivfProbeFrames(queries: DataFrame, cents: DataFrame,
      cells: DataFrame, k: Int, nProbe: Int,
      band: Option[(Long, Long)] = None): DataFrame = {
    val queryCells = probedQueryCells(queries, cents, nProbe)
    // each corpus vector lives in exactly one cell and each query probes
    // distinct cells, so (q_id, n_id) pairs are already unique
    val scored = cells.join(broadcast(queryCells), "cent_id")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        cosBpFrom(intDot(col("q_id_vec"), col("n_id_vec")),
          col("q_id_n2"), col("n_id_n2")).as("cos_bp"))
    val banded = band.fold(scored) { case (lo, hi) =>
      scored.filter(col("cos_bp") >= lo && col("cos_bp") < hi)
    }
    topKPerQuery(banded, k)
  }

  /** Hard-negative mining for contrastive/embedding training: per query,
    * the top-k corpus vectors whose cosine falls in [loBp, hiBp) basis
    * points — similar enough to be informative negatives, below the
    * near-duplicate ceiling that would make them false negatives. Runs
    * as a BAND FILTER on the IVF probe (same nProbe-cell candidate
    * volume as [[ivfTopK]]; the ceiling only drops rows, so cost is the
    * probe's). The mined band is exact within the probed cells — at
    * 100 TB the cells are the partition-pruned store of
    * [[ivfIndexWrite]], and raising nProbe trades scan for recall
    * exactly as it does for ANN search. */
  def hardNegativesIvf(queries: DataFrame, corpus: DataFrame, k: Int,
      loBp: Long, hiBp: Long, nCells: Int = 16, nProbe: Int = 4,
      lloydIters: Int = 0): DataFrame = {
    val (cents, cells) = ivfIndexFrames(corpus, nCells, lloydIters)
    ivfProbeFrames(queries, cents, cells, k, nProbe, Some((loBp, hiBp)))
  }

  /** Int8 scalar quantization (SQ8) of an already-quantized bigint
    * vector: symmetric per-vector compression of the DIRECTION,
    * code_i = floor(v_i·127 / max|v|) ∈ [−127, 127] — 1 byte of
    * information per component vs the 8-byte quantized longs. The
    * per-vector scale m/127 CANCELS in cosine (cos(q, c·m/127) =
    * cos(q, c)), so approximate scoring needs ONLY the codes — no
    * scale column, no reconstruction — and stays in the exact-integer
    * cosBpFrom arithmetic both engines replay. All-zero vectors pass
    * through unchanged (m = 0 guard). */
  def sq8Codes(qv: Column): Column = {
    val m = array_max(transform(qv, x => abs(x)))
    when(m === 0, qv).otherwise(transform(qv,
      x => floor(x.cast("double") * 127d / m.cast("double")).cast("bigint")))
  }

  /** IVF-SQ8 ANN (the classic faiss composition): IVF cells prune the
    * corpus to nProbe cells per query, the surviving candidates are
    * approximately scored against their SQ8 CODES (8× less data than
    * the full quantized vectors — at 100 TB the codes are the only
    * per-candidate bytes the probe scan touches), a bounded [[TopKAgg]]
    * trims to a shortlist map-side, and an exact rerank re-attaches the
    * full vectors for only shortlist×Q rows (the op83 rerank shape).
    * Same candidate volume as [[ivfTopK]]; the codes only shrink the
    * bytes per candidate. */
  def ivfSq8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, lloydIters: Int = 0,
      shortlist: Int = 50): DataFrame = {
    val (cents, cells0) = ivfIndexFrames(corpus, nCells, lloydIters)
    // cells feeds BOTH the code table and the rerank store — materialize
    // the assignment once instead of recomputing the corpus×centroid
    // pass per consumer (the op88-counts pattern; the persisted index
    // [sq8IndexWrite]/[sq8Probe] split amortizes it entirely)
    val cells = cells0.localCheckpoint()
    val codes = cells.select(col("n_id"), col("cent_id"),
        sq8Codes(col("n_id_vec")).as("codes"))
      .withColumn("c_n2", intDot(col("codes"), col("codes")))
    val nv = cells.select(col("n_id"), col("n_id_vec").as("n_vec"),
      col("n_id_n2").as("n_n2"))
    sq8ProbeFrames(queries, probedQueryCells(queries, cents, nProbe),
      codes, nv, k, shortlist)
  }

  /** Shared SQ8 probe: approximate scoring against the code table,
    * bounded shortlist, exact rerank against the vector store. `codes` =
    * (n_id, cent_id, codes, c_n2); `nv` = (n_id, n_vec, n_n2). */
  private def sq8ProbeFrames(queries: DataFrame, queryCells: DataFrame,
      codes: DataFrame, nv: DataFrame, k: Int,
      shortlist: Int): DataFrame = {
    // each corpus vector lives in one cell and queries probe distinct
    // cells, so (q_id, n_id) pairs are unique
    val approx = codes.join(broadcast(queryCells), "cent_id")
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        cosBpFrom(intDot(col("q_id_vec"), col("codes")),
          col("q_id_n2"), col("c_n2")).as("sq_bp"))
    val short = approx.groupBy(col("q_id"))
      .agg(TopKAgg.topK(shortlist)(col("sq_bp"), col("n_id")).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("n_id"))
    // exact rerank: bare ids re-attach the full vectors (shortlist×Q rows)
    val qv = queries.select(col("vec_id").as("q_id"),
        quantize(col("embedding")).as("q_vec"))
      .withColumn("q_n2", intDot(col("q_vec"), col("q_vec")))
    // the shortlist side is BOUNDED by construction (k-per-query trim),
    // so broadcast it explicitly: the static plan must never sort or
    // shuffle the corpus-sized vector store for the rerank (AQE would
    // usually rescue the unhinted spelling at runtime, but the 100 TB
    // claim should not depend on it)
    val scored = broadcast(short.join(broadcast(qv), "q_id")).join(nv, "n_id")
      .select(col("q_id"), col("n_id"),
        cosBpFrom(intDot(col("q_vec"), col("n_vec")),
          col("q_n2"), col("n_n2")).as("cos_bp"))
    topKPerQuery(scored, k)
  }

  /** Build the IVF-SQ8 serving index ONCE and persist it:
    * `dir/centroids`, `dir/codes` (int8 codes + norms, PARTITIONED BY
    * cent_id — the probe's only corpus-sized scan, and it prunes), and
    * `dir/vectors` (full quantized vectors for the exact rerank).
    * All-bigint storage ⇒ probe(prebuilt) ≡ [[ivfSq8TopK]]. */
  def sq8IndexWrite(corpus: DataFrame, dir: String, nCells: Int = 16,
      lloydIters: Int = 0): Unit = {
    val (cents, cells0) = ivfIndexFrames(corpus, nCells, lloydIters)
    val cells = cells0.localCheckpoint()
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    cells.select(col("n_id"), col("cent_id"),
        sq8Codes(col("n_id_vec")).as("codes"))
      .withColumn("c_n2", intDot(col("codes"), col("codes")))
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$dir/codes")
    cells.select(col("n_id"), col("n_id_vec").as("n_vec"),
        col("n_id_n2").as("n_n2"))
      .write.mode("overwrite").parquet(s"$dir/vectors")
  }

  /** Append new vectors to a persisted SQ8 index WITHOUT retraining:
    * assign each to its nearest EXISTING centroid ([[ivfIndexAppend]]'s
    * deterministic rule); int8 encoding is a pure per-row projection
    * (no trained state beyond the centroids), so the increment appends
    * to the touched cent_id code partitions and the rerank store in one
    * linear pass. Same ingest contract as the other appends; spec'd
    * complete via the exhaustive probe (nProbe = nCells,
    * shortlist = |corpus| ⇒ brute force). */
  def sq8IndexAppend(newVecs: DataFrame, dir: String): Unit = {
    val spark = newVecs.sparkSession
    val cents = broadcast(spark.read.parquet(s"$dir/centroids"))
    val cells = assignCells(newVecs, cents)
      .localCheckpoint() // feeds both appended tables
    cells.select(col("n_id"), col("cent_id"),
        sq8Codes(col("n_id_vec")).as("codes"))
      .withColumn("c_n2", intDot(col("codes"), col("codes")))
      .write.mode("append").partitionBy("cent_id").parquet(s"$dir/codes")
    cells.select(col("n_id"), col("n_id_vec").as("n_vec"),
        col("n_id_n2").as("n_n2"))
      .write.mode("append").parquet(s"$dir/vectors")
  }

  /** Probe a persisted SQ8 index ([[sq8IndexWrite]]): identical output
    * to [[ivfSq8TopK]] with matching parameters, but training and
    * encoding never recur, and the code scan is pruned to the probed
    * cells by a plan-time IN-list (≤ queries×nProbe values — the op86
    * fix's static-PartitionFilter shape, ScaleSpec-asserted).
    * Construction is EAGER: collecting the IN-list runs the centroid-
    * scoring pass as a cluster job before the returned frame executes
    * (the price of a static PartitionFilter); the localCheckpoint keeps
    * that pass from running a second time at execution. */
  def sq8Probe(queries: DataFrame, dir: String, k: Int, nProbe: Int = 4,
      shortlist: Int = 50): DataFrame = {
    val spark = queries.sparkSession
    val cents = spark.read.parquet(s"$dir/centroids")
    val queryCells = probedQueryCells(queries, cents, nProbe).localCheckpoint()
    val probedCents = queryCells.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val codes = spark.read.parquet(s"$dir/codes")
      .filter(col("cent_id").isin(probedCents.toIndexedSeq: _*))
      .withColumn("cent_id", col("cent_id").cast("bigint"))
    val nv = spark.read.parquet(s"$dir/vectors")
    sq8ProbeFrames(queries, queryCells, codes, nv, k, shortlist)
  }

  /** Build the IVF index ONCE and persist it: `dir/centroids` (nCells
    * rows) and `dir/cells` — the cell-assigned corpus with quantized
    * vectors and precomputed norms, PARTITIONED BY cent_id so a probe
    * reading its nProbe cells prunes the rest at scan time (the 100 TB
    * layout SCALE.md describes; the PartitionFilter is proven in
    * ScaleSpec). A real engine builds an index once and probes it many
    * times — this is that split: training (Lloyd) + the corpus assignment
    * pass amortize over every later query batch, and [[ivfProbe]] is
    * pure probe cost. All stored values are bigint/bigint-array, so the
    * parquet round-trip is bit-exact and probe(prebuilt) ≡ ivfTopK. */
  def ivfIndexWrite(corpus: DataFrame, dir: String, nCells: Int = 16,
      lloydIters: Int = 0): Unit = {
    val (cents, cells) = ivfIndexFrames(corpus, nCells, lloydIters)
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    cells.write.mode("overwrite").partitionBy("cent_id")
      .parquet(s"$dir/cells")
  }

  /** Append new vectors to a persisted IVF index WITHOUT retraining:
    * one linear pass assigns each new vector to its nearest EXISTING
    * centroid (same deterministic max-cos / lowest-cent_id rule as the
    * build) and appends to `dir/cells` — only the touched cent_id
    * partitions gain files. This is the 100 TB ingest path: increments
    * assign-and-append; centroid drift is handled by occasional offline
    * rebuilds, never per-batch retraining. Caller contract: `newVecs`
    * ids are disjoint from what the index already holds (appends are
    * raw file adds — nothing dedups). Full-probe equivalence (an index
    * probed with nProbe = nCells IS brute force over everything
    * appended) is spec'd. */
  def ivfIndexAppend(newVecs: DataFrame, dir: String): Unit = {
    val spark = newVecs.sparkSession
    val cents = broadcast(spark.read.parquet(s"$dir/centroids"))
    assignCells(newVecs, cents)
      .write.mode("append").partitionBy("cent_id").parquet(s"$dir/cells")
  }

  /** Probe a persisted IVF index ([[ivfIndexWrite]]): same results as
    * the end-to-end [[ivfTopK]] with matching parameters, but the only
    * corpus-sized work is the pruned cells scan. */
  def ivfProbe(queries: DataFrame, dir: String, k: Int,
      nProbe: Int = 4): DataFrame = {
    val (cents, cells) = readIvfIndex(queries.sparkSession, dir)
    ivfProbeFrames(queries, cents, cells, k, nProbe)
  }

  /** A persisted IVF index as lazy frames (centroids, cells). */
  private def readIvfIndex(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val cents = spark.read.parquet(s"$dir/centroids")
    // cent_id is a partition directory on disk; restore its bigint type
    val cells = spark.read.parquet(s"$dir/cells")
      .withColumn("cent_id", col("cent_id").cast("bigint"))
    (cents, cells)
  }

  /** Band-filtered probe of a persisted IVF index: [[hardNegativesIvf]]
    * with the Lloyd training + corpus assignment amortized into
    * [[ivfIndexWrite]]'s store — identical results for matching
    * parameters, pure probe cost per mining run. Hard-negative mining
    * reuses the SAME index ANN search probes (the band is query-side),
    * so at 100 TB one index build serves both workloads. */
  def hardNegativesProbe(queries: DataFrame, dir: String, k: Int,
      loBp: Long, hiBp: Long, nProbe: Int = 4): DataFrame = {
    val (cents, cells) = readIvfIndex(queries.sparkSession, dir)
    ivfProbeFrames(queries, cents, cells, k, nProbe, Some((loBp, hiBp)))
  }

  /** Unit-normalize in the quantized-integer domain: floor(v·10⁶/‖v‖)
    * from the already-quantized components, so identical inputs produce
    * identical normalized vectors on any engine/partitioning (norms are
    * doubles derived from identical integer sums — IEEE-deterministic).
    * Zero-norm vectors pass through unchanged. */
  private def normalizedVec(df: DataFrame): DataFrame = {
    val q = df.select(col("vec_id"), quantize(col("embedding")).as("qv"))
      .withColumn("n2", intDot(col("qv"), col("qv")))
    q.select(col("vec_id"), normalizeQv(col("qv"), col("n2")).as("vec"))
  }

  /** The PQ pipeline's integer normalization as a pure column expression:
    * floor(v·10⁶/√Σv²) per component (zero vectors pass through). Shared
    * by [[normalizedVec]] (corpus side, with qv/n2 hoisted to columns so
    * they evaluate once over the full scan) and the streaming probe's
    * per-row query side. */
  private[graft] def normalizeQv(qv: Column, n2: Column): Column =
    when(n2 === 0, qv)
      .otherwise(transform(qv, v =>
        floor(v.cast("double") * 1000000d / sqrt(n2.cast("double")))
          .cast("bigint")))

  /** Per-row normalized quantized embedding — [[normalizeQv]] over
    * [[quantize]] for callers without a frame to project through (the
    * streaming query side; bounded rows, so the repeated qv subtree is
    * irrelevant). */
  private[graft] def normalizedEmbedding(embedding: Column): Column = {
    val qv = quantize(embedding)
    normalizeQv(qv, intDot(qv, qv))
  }

  /** (vec_id, sub_j, svec): the m disjoint subDim-wide slices of `vec`. */
  private def subVectors(vecs: DataFrame, m: Int, subDim: Int): DataFrame =
    vecs.select(col("vec_id"), posexplode(
        array((0 until m).map(j => slice(col("vec"), j * subDim + 1, subDim)): _*))
      .as(Seq("sub_j", "svec")))

  /** (vec_id, sub_j, svec, s2) for the whole input — the shared index
    * both training and encoding consume (callers materialize it once). */
  private def subVectorTable(df: DataFrame, m: Int, subDim: Int): DataFrame =
    subVectors(normalizedVec(df), m, subDim)
      .withColumn("s2", intDot(col("svec"), col("svec")))

  /** Product-quantization codebook: per subspace, `nCents` centroids
    * trained with the same deterministic integer-domain Lloyd iteration
    * as [[lloydCentroids]] (seeded from the lowest-vec_id subvectors;
    * assignment by integer L2², s·s − 2s·c + c·c). All m subspaces train
    * in ONE DataFrame pass per iteration — the per-subspace grouping is
    * just extra keys on the same aggregates. Returns
    * (sub_j, code, cent_vec, cent_n2). */
  private def pqCodebook(sv: DataFrame, corpus: DataFrame, m: Int,
      nCents: Int, iters: Int, dim: Int): DataFrame = {
    val subDim = dim / m
    // seed from the nCents lowest-vec_id vectors: slice AFTER the limit,
    // so the seed plan touches nCents rows, not a window over the whole
    // subvector table
    val seedVecs = corpus.orderBy(col("vec_id")).limit(nCents)
    val wseed = Window.partitionBy(col("sub_j")).orderBy(col("vec_id"))
    val seeds = subVectorTable(seedVecs, m, subDim)
      .withColumn("rn", row_number().over(wseed))
      .select(col("sub_j"), (col("rn") - 1).cast("bigint").as("code"),
        col("svec").as("cent_vec"), col("s2").as("cent_n2"))
      .localCheckpoint()
    (0 until iters).foldLeft(seeds) { (cents, _) =>
      lloydUpdate(pqEncode(sv, cents, Seq("svec")), cents,
        Seq("sub_j", "code"), "svec", subDim)
    }
  }

  /** PQ-encode: each vector → m small codes (nearest sub-centroid by
    * integer L2², ties to the lower code). (vec_id, sub_j, code,
    * carry…) — the `carry` columns (constant per (vec_id, sub_j)) ride
    * along in the same aggregate. At m=8, nCents=16 that is 8×4 bits =
    * 4 BYTES per vector, vs 256 bytes of float32: the reason PQ is the
    * 100 TB in-memory ANN path. */
  private def pqEncode(sv: DataFrame, cb: DataFrame,
      carry: Seq[String] = Nil): DataFrame =
    sv.join(broadcast(cb), "sub_j")
      .withColumn("d2", col("s2") -
        lit(2L) * intDot(col("svec"), col("cent_vec")) + col("cent_n2"))
      .groupBy(col("vec_id"), col("sub_j"))
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"),
        carry.map(c => first(col(c)).as(c)): _*)

  /** Product-quantization ANN top-k (asymmetric distance computation):
    * corpus vectors are m 4-bit codes; a query precomputes its partial
    * squared distance to every (subspace, code) cell — an m×nCents table,
    * broadcast — and each candidate's approximate distance is the sum of
    * m table lookups, reached here by one bounded join on (sub_j, code)
    * and a (q_id, vec_id) sum. On unit vectors L2² = 2 − 2cos, so the
    * approximate distance converts back to a cosine estimate in bp.
    *
    * Scale shape: the corpus never moves — codes (4 bytes/vector) join a
    * broadcast table and shuffle m small rows per (query, vector); no
    * full-width embedding crosses the wire after encoding. Recall is
    * bounded by quantization distortion — measured against brute force
    * in the spec, like the LSH and IVF paths. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, m: Int = 8,
      nCents: Int = 16, lloydIters: Int = 1, dim: Int = 64,
      shortlist: Int = 50): DataFrame = {
    val (cents, codes, nv) = pqIndexFrames(corpus, m, nCents, lloydIters, dim)
    pqProbeFrames(queries, cents, codes, nv, k, m, dim, shortlist)
  }

  /** PQ index as lazy frames: (codebook, codes, rerank vector store). */
  private def pqIndexFrames(corpus: DataFrame, m: Int, nCents: Int,
      lloydIters: Int, dim: Int): (DataFrame, DataFrame, DataFrame) = {
    val subDim = dim / m
    // ONE materialized subvector table feeds training and encoding
    val sv = subVectorTable(corpus, m, subDim).localCheckpoint()
    val cents = pqCodebook(sv, corpus, m, nCents, lloydIters, dim)
    val codes = pqEncode(sv, cents)
    val nv = corpus.select(col("vec_id").as("n_id"),
        quantize(col("embedding")).as("n_vec"))
      .withColumn("n_n2", intDot(col("n_vec"), col("n_vec")))
    (cents, codes, nv)
  }

  /** Probe a (codebook, codes, vectors) PQ index: ADC over the codes,
    * exact rerank of the shortlist against the vector store. Identical
    * output to [[pqTopK]]. */
  private def pqProbeFrames(queries: DataFrame, cents: DataFrame,
      codes: DataFrame, nv: DataFrame, k: Int, m: Int, dim: Int,
      shortlist: Int): DataFrame = {
    val subDim = dim / m
    val qsub = subVectorTable(queries, m, subDim)
      .select(col("vec_id").as("q_id"), col("sub_j"), col("svec"), col("s2"))
    val adc = qsub.join(broadcast(cents), "sub_j")
      .select(col("q_id"), col("sub_j"), col("code"),
        (col("s2") - lit(2L) * intDot(col("svec"), col("cent_vec")) +
          col("cent_n2")).as("pd2"))
    val approx = codes.join(broadcast(adc), Seq("sub_j", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd2")).as("d2"))
      .filter(col("q_id") =!= col("vec_id"))
    // PQ distances rank a SHORTLIST (distortion-cheap); the final order
    // comes from an exact rerank that touches only shortlist×Q full
    // vectors — the standard ADC + rerank shape, and the reason the
    // full-width corpus still never shuffles
    val ws = Window.partitionBy(col("q_id"))
      .orderBy(col("d2"), col("vec_id"))
    val short = approx.withColumn("sr", row_number().over(ws))
      .filter(col("sr") <= shortlist)
      .select(col("q_id"), col("vec_id").as("n_id"))
    val qv = queries.select(col("vec_id").as("q_id"),
        quantize(col("embedding")).as("q_vec"))
      .withColumn("q_n2", intDot(col("q_vec"), col("q_vec")))
    // the shortlist side is BOUNDED by construction (k-per-query trim),
    // so broadcast it explicitly: the static plan must never sort or
    // shuffle the corpus-sized vector store for the rerank (AQE would
    // usually rescue the unhinted spelling at runtime, but the 100 TB
    // claim should not depend on it)
    val scored = broadcast(short.join(broadcast(qv), "q_id")).join(nv, "n_id")
      .select(col("q_id"), col("n_id"),
        cosBpFrom(intDot(col("q_vec"), col("n_vec")),
          col("q_n2"), col("n_n2")).as("cos_bp"))
    topKPerQuery(scored, k)
  }

  /** Build the PQ index ONCE and persist it: `dir/codebook` (m×nCents
    * sub-centroids), `dir/codes` (m small codes per vector — the 4-byte
    * representation PQ exists for), and `dir/vectors` (the quantized
    * full-width vectors + norms the exact rerank reads). Codebook
    * training and corpus encoding amortize over every later probe; all
    * stored values are bigint/bigint-array, so the parquet round-trip is
    * bit-exact and probe(prebuilt) ≡ pqTopK. */
  def pqIndexWrite(corpus: DataFrame, dir: String, m: Int = 8,
      nCents: Int = 16, lloydIters: Int = 1, dim: Int = 64): Unit = {
    val (cents, codes, nv) = pqIndexFrames(corpus, m, nCents, lloydIters, dim)
    cents.write.mode("overwrite").parquet(s"$dir/codebook")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
    // the SERVING layout: one m-element code array per vector (the
    // 4-byte representation PQ exists for) — what the streaming ADC
    // probe joins every micro-batch, persisted so no consumer ever
    // re-packs (the row form above stays for the batch probe's
    // (sub_j, code) equi-join and the oracle's replay)
    packedCodes(codes).write.mode("overwrite").parquet(s"$dir/codes_packed")
    nv.write.mode("overwrite").parquet(s"$dir/vectors")
  }

  /** (vec_id, sub_j, code) rows → (n_id, codes array in sub_j order). */
  private[graft] def packedCodes(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub_j"), col("code")))).as("sc"))
      .select(col("vec_id").as("n_id"),
        transform(col("sc"), s => s.getField("code")).as("codes"))

  /** Append new vectors to a persisted PQ index WITHOUT retraining:
    * encode them against the EXISTING codebook (m and subDim are read
    * from the stored codebook itself) and append their codes and rerank
    * vectors. Same ingest contract as [[ivfIndexAppend]]: ids must be
    * disjoint from what the index holds; codebook drift is an offline
    * rebuild, never a per-batch retrain. The completeness check is
    * spec'd via the shortlist=|corpus| probe, which makes PQ exact
    * (every candidate reranked) and must equal brute force. */
  def pqIndexAppend(newVecs: DataFrame, dir: String): Unit = {
    val spark = newVecs.sparkSession
    val cents = spark.read.parquet(s"$dir/codebook")
    // index geometry from the stored codebook: m subspaces × subDim dims
    val geo = cents.agg(max(col("sub_j")).as("mj"),
      max(size(col("cent_vec"))).as("sd")).head()
    val m = geo.getInt(0) + 1
    val subDim = geo.getInt(1)
    val sv = subVectorTable(newVecs, m, subDim)
    val newCodes = pqEncode(sv, cents).localCheckpoint()
    newCodes.write.mode("append").parquet(s"$dir/codes")
    // keep the serving layout in lockstep: append the increment when the
    // packed table already exists; a LEGACY dir (codes without
    // codes_packed) gets a one-time full pack — appending only the
    // increment there would publish a partial table (with _SUCCESS)
    // that the streaming ADC probe trusts as complete
    val packedOk = new org.apache.hadoop.fs.Path(s"$dir/codes_packed/_SUCCESS")
    val fs = packedOk.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(packedOk))
      packedCodes(newCodes).write.mode("append").parquet(s"$dir/codes_packed")
    else
      packedCodes(spark.read.parquet(s"$dir/codes"))
        .write.mode("overwrite").parquet(s"$dir/codes_packed")
    newVecs.select(col("vec_id").as("n_id"),
        quantize(col("embedding")).as("n_vec"))
      .withColumn("n_n2", intDot(col("n_vec"), col("n_vec")))
      .write.mode("append").parquet(s"$dir/vectors")
  }

  /** Probe a persisted PQ index ([[pqIndexWrite]]): same results as the
    * end-to-end [[pqTopK]] with matching parameters — no training, no
    * encoding, just ADC + rerank against the stored tables. Subspace
    * geometry is read from the STORED codebook (the [[ivfPqProbe]] /
    * [[pqIndexAppend]] rule): a caller-supplied mismatch would silently
    * drop partial distances in the (sub_j, code) join. */
  def pqProbe(queries: DataFrame, dir: String, k: Int,
      shortlist: Int = 50): DataFrame = {
    val spark = queries.sparkSession
    val cb = spark.read.parquet(s"$dir/codebook")
    val geo = cb.agg(max(col("sub_j")).as("mj"),
      max(size(col("cent_vec"))).as("sd")).head()
    val m = geo.getInt(0) + 1
    val dim = m * geo.getInt(1)
    pqProbeFrames(queries, cb,
      spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/vectors"),
      k, m, dim, shortlist)
  }

  /** IVF-PQ ANN (the faiss serving composition, closing the gap op112
    * closed for SQ8): IVF cells prune the corpus to nProbe cells per
    * query, the surviving candidates are approximately scored by PQ
    * asymmetric distance computation — m 4-bit codes per candidate, the
    * smallest per-candidate representation in the library (4 bytes vs
    * SQ8's 64) — a bounded [[TopKAgg]] trims to a shortlist map-side,
    * and an exact rerank re-attaches full vectors for shortlist×Q rows.
    * vs [[pqTopK]]: same codes, 4/16 of the candidates (the cells
    * prune). vs [[ivfSq8TopK]]: same candidates, 16× fewer bytes each.
    * The codebook is trained globally (not per-cell residuals), so
    * codes are cell-independent and ingest composes [[ivfIndexAppend]]'s
    * assign-and-append with [[pqIndexAppend]]'s encode-against-existing
    * — no per-cell retraining. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, ivfLloyd: Int = 0, m: Int = 8,
      nCents: Int = 16, pqLloyd: Int = 1, dim: Int = 64,
      shortlist: Int = 50): DataFrame = {
    val (cents, cb, codes, nv) =
      ivfPqIndexFrames(corpus, nCells, ivfLloyd, m, nCents, pqLloyd, dim)
    ivfPqProbeFrames(queries, probedQueryCells(queries, cents, nProbe),
      cb, codes, nv, k, m, dim, shortlist)
  }

  /** IVF-PQ index as lazy frames: (IVF centroids, PQ codebook,
    * cell-tagged codes (vec_id, sub_j, code, cent_id), rerank store).
    * One corpus×centroid assignment pass + one PQ encode pass; the
    * vec_id join attaching cells to codes is build-time cost only. */
  private def ivfPqIndexFrames(corpus: DataFrame, nCells: Int,
      ivfLloyd: Int, m: Int, nCents: Int, pqLloyd: Int, dim: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val subDim = dim / m
    val (cents, cells0) = ivfIndexFrames(corpus, nCells, ivfLloyd)
    // the assignment feeds the subvector table, the code tags AND the
    // rerank store — materialize once (the op112 pattern)
    val cells = cells0.localCheckpoint()
    // normalized subvectors FROM the assignment, carrying cent_id:
    // n_id_vec IS quantize(embedding) and n_id_n2 its norm, so
    // normalizeQv here equals subVectorTable(corpus) value-for-value —
    // no second corpus scan, and the cell tag rides along instead of
    // re-attaching through a corpus-sized vec_id join
    val sv = cells
      .select(col("n_id").as("vec_id"), col("cent_id"),
        normalizeQv(col("n_id_vec"), col("n_id_n2")).as("vec"))
      .select(col("vec_id"), col("cent_id"), posexplode(
          array((0 until m).map(j =>
            slice(col("vec"), j * subDim + 1, subDim)): _*))
        .as(Seq("sub_j", "svec")))
      .withColumn("s2", intDot(col("svec"), col("svec")))
      .localCheckpoint()
    val cb = pqCodebook(sv, corpus, m, nCents, pqLloyd, dim)
    // the cell tag (constant per vec_id) rides in the encode's
    // aggregate — the one shuffle the encode already pays
    val codes = pqEncode(sv, cb, Seq("cent_id"))
    val nv = cells.select(col("n_id"), col("n_id_vec").as("n_vec"),
      col("n_id_n2").as("n_n2"))
    (cents, cb, codes, nv)
  }

  /** Cell-pruned ADC + exact rerank: candidates are the codes rows in
    * each query's probed cells (on a persisted index that cell join is
    * a PartitionFilter), their approximate distance is the sum of m
    * broadcast-LUT lookups, and only the shortlist touches full-width
    * vectors. `codes` = (vec_id, sub_j, code, cent_id). */
  private def ivfPqProbeFrames(queries: DataFrame, queryCells: DataFrame,
      cb: DataFrame, codes: DataFrame, nv: DataFrame, k: Int, m: Int,
      dim: Int, shortlist: Int): DataFrame = {
    val subDim = dim / m
    val qsub = subVectorTable(queries, m, subDim)
      .select(col("vec_id").as("q_id"), col("sub_j"), col("svec"), col("s2"))
    val adc = qsub.join(broadcast(cb), "sub_j")
      .select(col("q_id"), col("sub_j"), col("code"),
        (col("s2") - lit(2L) * intDot(col("svec"), col("cent_vec")) +
          col("cent_n2")).as("pd2"))
    // each corpus vector lives in one cell and queries probe distinct
    // cells, so (q_id, vec_id) survives the cell join exactly once per
    // sub_j and the ADC sum sees m rows per candidate pair
    val approx = codes
      .join(broadcast(queryCells.select(col("q_id"), col("cent_id"))),
        "cent_id")
      .filter(col("q_id") =!= col("vec_id"))
      .join(broadcast(adc), Seq("q_id", "sub_j", "code"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("pd2")).as("d2"))
    // PQ distances rank a shortlist; negated d2 makes TopKAgg's
    // (score desc, id asc) order the oracle's (d2 asc, vec_id asc)
    val short = approx.groupBy(col("q_id"))
      .agg(TopKAgg.topK(shortlist)(-col("d2"), col("vec_id")).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("n_id"))
    val qv = queries.select(col("vec_id").as("q_id"),
        quantize(col("embedding")).as("q_vec"))
      .withColumn("q_n2", intDot(col("q_vec"), col("q_vec")))
    // the shortlist side is BOUNDED by construction (k-per-query trim),
    // so broadcast it explicitly: the static plan must never sort or
    // shuffle the corpus-sized vector store for the rerank (AQE would
    // usually rescue the unhinted spelling at runtime, but the 100 TB
    // claim should not depend on it)
    val scored = broadcast(short.join(broadcast(qv), "q_id")).join(nv, "n_id")
      .select(col("q_id"), col("n_id"),
        cosBpFrom(intDot(col("q_vec"), col("n_vec")),
          col("q_n2"), col("n_n2")).as("cos_bp"))
    topKPerQuery(scored, k)
  }

  /** Build the IVF-PQ serving index ONCE and persist it:
    * `dir/centroids` (IVF), `dir/codebook` (PQ), `dir/codes` (row form
    * for the batch probe's (sub_j, code) equi-join) and
    * `dir/codes_packed` (one m-element array per vector for the
    * streaming ADC probe) — both PARTITIONED BY cent_id so every probe
    * scan prunes to its cells — and `dir/vectors` for the exact rerank.
    * All-bigint storage ⇒ probe(prebuilt) ≡ [[ivfPqTopK]]. */
  def ivfPqIndexWrite(corpus: DataFrame, dir: String, nCells: Int = 16,
      ivfLloyd: Int = 0, m: Int = 8, nCents: Int = 16, pqLloyd: Int = 1,
      dim: Int = 64): Unit = {
    val (cents, cb, codes0, nv) =
      ivfPqIndexFrames(corpus, nCells, ivfLloyd, m, nCents, pqLloyd, dim)
    val codes = codes0.localCheckpoint() // feeds both layouts
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    cb.write.mode("overwrite").parquet(s"$dir/codebook")
    codes.write.mode("overwrite").partitionBy("cent_id")
      .parquet(s"$dir/codes")
    packedCodesWithCell(codes).write.mode("overwrite")
      .partitionBy("cent_id").parquet(s"$dir/codes_packed")
    nv.write.mode("overwrite").parquet(s"$dir/vectors")
  }

  /** [[packedCodes]] keeping the cell tag: (n_id, codes, cent_id) —
    * the IVF-PQ serving layout (cent_id is constant per vector). */
  private def packedCodesWithCell(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("sub_j"), col("code"))))
          .as("sc"),
        first(col("cent_id")).as("cent_id"))
      .select(col("vec_id").as("n_id"),
        transform(col("sc"), s => s.getField("code")).as("codes"),
        col("cent_id"))

  /** Append new vectors to a persisted IVF-PQ index WITHOUT
    * retraining: assign each to its nearest EXISTING IVF centroid
    * ([[ivfIndexAppend]]'s deterministic rule) and encode against the
    * EXISTING PQ codebook ([[pqIndexAppend]]'s rule — geometry read
    * from the stored codebook); only the touched cent_id partitions
    * gain files in both code layouts. Same ingest contract as the
    * other appends: ids disjoint from the index's holdings; centroid/
    * codebook drift is an occasional offline rebuild, never a
    * per-batch retrain. Completeness is spec'd by the exhaustive probe
    * (nProbe = nCells, shortlist = |corpus| ⇒ must equal brute
    * force). */
  def ivfPqIndexAppend(newVecs: DataFrame, dir: String): Unit = {
    val spark = newVecs.sparkSession
    val cents = broadcast(spark.read.parquet(s"$dir/centroids"))
    val cells = assignCells(newVecs, cents)
      .localCheckpoint() // feeds codes, packed layout, and rerank store
    val cb = spark.read.parquet(s"$dir/codebook")
    val geo = cb.agg(max(col("sub_j")).as("mj"),
      max(size(col("cent_vec"))).as("sd")).head()
    val m = geo.getInt(0) + 1
    val subDim = geo.getInt(1)
    val newCodes = pqEncode(subVectorTable(newVecs, m, subDim), cb)
      .join(cells.select(col("n_id").as("vec_id"), col("cent_id")),
        "vec_id")
      .localCheckpoint()
    newCodes.write.mode("append").partitionBy("cent_id")
      .parquet(s"$dir/codes")
    packedCodesWithCell(newCodes).write.mode("append")
      .partitionBy("cent_id").parquet(s"$dir/codes_packed")
    cells.select(col("n_id"), col("n_id_vec").as("n_vec"),
        col("n_id_n2").as("n_n2"))
      .write.mode("append").parquet(s"$dir/vectors")
  }

  /** Probe a persisted IVF-PQ index ([[ivfPqIndexWrite]]): identical
    * output to [[ivfPqTopK]] with matching parameters — training,
    * assignment, and encoding never recur, and the code scan prunes to
    * the probed cells by a plan-time IN-list (the op115 static-
    * PartitionFilter shape). Construction is EAGER — see [[sq8Probe]].
    * Subspace geometry (m, dim) is read from the STORED codebook — a
    * caller-supplied mismatch would silently drop partial distances in
    * the (sub_j, code) join and rank by a truncated sum. */
  def ivfPqProbe(queries: DataFrame, dir: String, k: Int,
      nProbe: Int = 4, shortlist: Int = 50): DataFrame = {
    val spark = queries.sparkSession
    val cb = spark.read.parquet(s"$dir/codebook")
    val geo = cb.agg(max(col("sub_j")).as("mj"),
      max(size(col("cent_vec"))).as("sd")).head()
    val m = geo.getInt(0) + 1
    val dim = m * geo.getInt(1)
    val cents = spark.read.parquet(s"$dir/centroids")
    val queryCells = probedQueryCells(queries, cents, nProbe).localCheckpoint()
    val probedCents = queryCells.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val codes = spark.read.parquet(s"$dir/codes")
      .filter(col("cent_id").isin(probedCents.toIndexedSeq: _*))
      .withColumn("cent_id", col("cent_id").cast("bigint"))
    ivfPqProbeFrames(queries, queryCells, cb, codes,
      spark.read.parquet(s"$dir/vectors"), k, m, dim, shortlist)
  }

  /** Embedding near-duplicate pairs via sign-LSH candidates: only pairs
    * sharing a (table, bucket) are ever scored, so pair volume follows
    * bucket collisions — ≈ N²·L/2^bits on random data (≪ N²/2 once
    * 2^bits ≫ L·N/partition), ≈ the true dup count on near-dup data —
    * instead of N²/2. The 100 TB path; buckets double as storage
    * partition keys there.
    *
    * Two deliberate plan choices: the candidate dedup shuffles BARE id
    * pairs (vectors re-attach by join afterwards — carrying two 64-dim
    * arrays per candidate through the dedup shuffle dominates runtime),
    * and bits is sized for bucket selectivity (12 bits = 4096 buckets):
    * recall per pair at angle θ is 1-(1-(1-θ/π)^bits)^L — 0.93 at
    * cos = 0.95 with (12, 8), 1.0 for exact duplicates (θ = 0, identical
    * signatures in every table). Exact agreement with [[nearDupPairs]]
    * on planted exact dups is spec'd; sub-threshold recall is the
    * documented ANN trade. */
  def nearDupPairsLsh(df: DataFrame, minBp: Long,
      nBits: Int = 12, nTables: Int = 8): DataFrame = {
    // both tables feed a self-join — materialize so SignLshBuckets and
    // quantize/norm each evaluate ONCE (mirrors Dedup.minhashCandidates);
    // without this the bucket expression runs on both sides of the join
    val vecs = df.select(col("vec_id"), quantize(col("embedding")).as("vec"))
      .withColumn("n2", intDot(col("vec"), col("vec")))
      .localCheckpoint()
    val b = lshBucketsMulti(df, "vec_id", nBits, nTables)
      .select(col("vec_id"), col("tbl"), col("bucket"))
      .localCheckpoint()
    val l = b.select(col("vec_id").as("a_id"), col("tbl"), col("bucket"))
    val r = b.select(col("vec_id").as("b_id"), col("tbl"), col("bucket"))
    val cand = l.join(r, Seq("tbl", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val va = vecs.select(col("vec_id").as("a_id"), col("vec").as("a_vec"),
      col("n2").as("a_n2"))
    val vb = vecs.select(col("vec_id").as("b_id"), col("vec").as("b_vec"),
      col("n2").as("b_n2"))
    cand.join(va, "a_id").join(vb, "b_id")
      .select(col("a_id"), col("b_id"),
        cosBpFrom(intDot(col("a_vec"), col("b_vec")),
          col("a_n2"), col("b_n2")).as("cos_bp"))
      .filter(col("cos_bp") >= minBp)
  }

  /** Embedding near-duplicate pairs: all (a<b) with cosine ≥ minBp.
    * Brute-force pair generation (exact recall baseline) — use
    * [[nearDupPairsLsh]] beyond ~10⁵ vectors. */
  def nearDupPairs(df: DataFrame, minBp: Long): DataFrame = {
    val a = df.select(col("vec_id").as("a_id"),
      quantize(col("embedding")).as("a_vec"))
      .withColumn("a_n2", intDot(col("a_vec"), col("a_vec")))
    val b = df.select(col("vec_id").as("b_id"),
      quantize(col("embedding")).as("b_vec"))
      .withColumn("b_n2", intDot(col("b_vec"), col("b_vec")))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        cosBpFrom(intDot(col("a_vec"), col("b_vec")), col("a_n2"), col("b_n2"))
          .as("cos_bp"))
      .filter(col("cos_bp") >= minBp)
  }

  /** Semantic dedup (the SemDeDup recipe — Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space (the same
    * deterministic integer-Lloyd centroids the IVF index uses), then
    * remove near-duplicates WITHIN each cluster only — pairwise cosine
    * is computed cell-locally, so pair volume is Σ|cell|² instead of N²
    * and each cell's comparison is an equi-join-bounded self-join (at
    * 100 TB the cell id is the storage partition key, so the self-join
    * co-locates scan-side like every other cell-keyed op here).
    *
    * Drop rule is the deterministic dominance contract the n-gram
    * survivors use: a vector is dropped iff SOME lower-id vector in its
    * cell is ≥ `minBp` similar — id-greedy, rerun- and
    * partitioning-stable, and exactly replayable in SQL. Returns the
    * survivors as (vec_id, cent_id).
    *
    * `saltB > 1` is the SKEW path: with few cells (or a pathological
    * cell holding most of the corpus) the plain cent_id join lands each
    * cell in one task. Salting splits the dominated side into `saltB`
    * deterministic groups (id mod saltB) and replicates the dominating
    * side across them, so a hot cell spreads over `saltB` tasks; every
    * (a, b) pair still meets exactly once (b carries ONE salt, a covers
    * all of them), so results are bit-identical (spec'd). */
  def semDedup(corpus: DataFrame, minBp: Long, nCells: Int = 16,
      lloydIters: Int = 2, saltB: Int = 1): DataFrame =
    semDedupFromCells(semCells(corpus, nCells, lloydIters).localCheckpoint(),
      minBp, saltB)

  /** The training half of [[semDedup]]: Lloyd centroids + nearest-cell
    * assignment, returned as the (id, vec, n2, cent_id) frame the
    * within-cell dominance join consumes. All-bigint columns, so
    * persisting it to parquet round-trips bit-exactly — the
    * build-once/dedup-many split (the op84-86 index pattern applied to
    * SemDeDup's training cost). */
  def semCells(corpus: DataFrame, nCells: Int = 16,
      lloydIters: Int = 2): DataFrame = {
    val cents = broadcast(lloydCentroids(corpus, nCells, lloydIters))
    assignCells(corpus, cents)
      .select(col("n_id").as("id"), col("n_id_vec").as("vec"),
        col("n_id_n2").as("n2"), col("cent_id"))
  }

  /** The dedup half of [[semDedup]]: id-greedy within-cell dominance
    * over a prebuilt [[semCells]] frame (callers materialize it — it
    * feeds BOTH sides of the self-join plus the final anti-join). */
  def semDedupFromCells(cell: DataFrame, minBp: Long,
      saltB: Int = 1): DataFrame = {
    // saltB = 0 would make the salt join key null/non-matching and turn
    // the whole dedup into a silent no-op
    require(saltB >= 1, "saltB must be >= 1")
    val a = cell.select(col("cent_id"), col("id").as("a_id"),
        col("vec").as("a_vec"), col("n2").as("a_n2"))
      .withColumn("salt", explode(sequence(lit(0), lit(saltB - 1))))
    val b = cell.select(col("cent_id"), col("id").as("b_id"),
        col("vec").as("b_vec"), col("n2").as("b_n2"))
      .withColumn("salt", pmod(col("b_id"), lit(saltB)).cast("int"))
    val drops = a.join(b, Seq("cent_id", "salt"))
      .filter(col("a_id") < col("b_id"))
      .filter(cosBpFrom(intDot(col("a_vec"), col("b_vec")),
        col("a_n2"), col("b_n2")) >= minBp)
      .select(col("b_id").as("id")).distinct()
    cell.join(drops, Seq("id"), "left_anti")
      .select(col("id").as("vec_id"), col("cent_id").cast("bigint").as("cent_id"))
  }

  /** kNN-graph construction by NN-Descent (Dong, Moses & Li 2011,
    * "Efficient k-nearest neighbor graph construction for generic
    * similarity measures"): start from a cheap graph, then repeat
    * "a neighbor of my neighbor is probably my neighbor" — each round
    * scores only candidates reachable through the CURRENT graph and
    * keeps the best k per node. Emits (u_id, rank, n_id, cos_bp), the
    * per-node neighbor list of the final round.
    *
    * Every step is deterministic so DuckDB replays it exactly:
    * - init is pure arithmetic on the dense-id contract (vec_id ∈
    *   0..N−1, the TESTDATA shape; sparse ids densify first with a
    *   one-column zipWithIndex pass): slot j of node u starts at
    *   (u·48271 + j·1299721) mod N — an LCG-style fixed permutation
    *   per slot, the reproducible spelling of the paper's RANDOM init.
    *   Diversity here is load-bearing: a ring init (u+j mod N) was
    *   measured at 6% recall@4 on the fixture because every round
    *   then explores only a ±(k+capR) id window — hill-climbing in id
    *   space, where there is no signal;
    * - scores are the exact integer cosine ([[quantize]]/[[intDot]]/
    *   [[cosBpFrom]]), ties broken by ascending neighbor id;
    * - the reverse-degree cap (NN-Descent's ρ-sampling, which bounds
    *   the candidate blow-up at hub nodes) keeps the capR LOWEST ids
    *   instead of a random sample.
    *
    * Shape at 100 TB: the graph never exceeds N·k edges, the joined
    * neighborhood table ≤ N·(k+capR), and one round's candidate set is
    * ≤ N·(k+capR)² scored pairs — linear in N at fixed k, vs the N²
    * brute-force kNN it replaces. Both joins are equi-joins on a vertex
    * key (hash-partitioned shuffles, AQE-skew-safe) and the per-round
    * top-k is one partitioned window; rounds are localCheckpoint-
    * separated like the other fixpoint iterations (op176b/op208), so
    * the plan stays round-sized. The uniform-random fixture is NND's
    * WORST case (no cluster structure for the transitivity heuristic
    * to exploit — real embedding corpora converge much faster); the
    * defaults measure 98% recall@16 at N=500 and 74% at N=2000 there,
    * recall rising with k (the paper's superlinear-in-k behavior) and
    * with rounds. The recall protocol is op289. */
  def nnDescent(emb: DataFrame, k: Int = 16, rounds: Int = 3,
      capR: Int = 16): DataFrame = {
    val n = emb.select(col("vec_id").as("id"),
        quantize(col("embedding")).as("vec"))
      .withColumn("n2", intDot(col("vec"), col("vec")))
      .localCheckpoint()
    val nTotal = n.count()
    require(nTotal > k, s"nnDescent needs > k = $k vectors (got $nTotal)")
    // LCG-permutation init: slot j of node u → (u·48271 + j·1299721)
    // mod N, the self hit (at most one j per u when gcd(1299721, N)=1)
    // dropped — the candidate pool after one round re-fills to k
    var g = n.select(col("id").as("u"))
      .withColumn("j", explode(sequence(lit(1), lit(k))))
      .select(col("u"),
        pmod(col("u") * lit(48271L) + col("j") * lit(1299721L),
          lit(nTotal)).as("w"))
      .filter(col("w") =!= col("u"))
      .localCheckpoint()
    val nu = n.select(col("id").as("u"), col("vec").as("u_vec"),
      col("n2").as("u_n2"))
    val nw = n.select(col("id").as("w"), col("vec").as("w_vec"),
      col("n2").as("w_n2"))
    val byU = Window.partitionBy("u")
    // the loop carries (u, w, cos_bp, rank) through each checkpoint —
    // two extra longs per edge — so the emit below can reuse the last
    // round's scores instead of re-joining both vector tables and
    // re-sorting a window to recompute identical values (r16: the old
    // final-rescore block cost two corpus-keyed joins + one window
    // exchange in every consumer's plan; cosBpFrom is deterministic,
    // so score and rank are bit-identical either way)
    def score(edges: DataFrame): DataFrame =
      edges.join(nu, "u").join(nw, "w")
        .select(col("u"), col("w"),
          cosBpFrom(intDot(col("u_vec"), col("w_vec")),
            col("u_n2"), col("w_n2")).as("cos_bp"))
        .withColumn("rank", row_number()
          .over(byU.orderBy(col("cos_bp").desc, col("w")))
          .cast("bigint"))
    // rounds = 0 (the spec's init-graph recall floor) still scores the
    // LCG init graph the old way; its ≤ k edges per u make the top-k
    // filter a no-op there
    var scored = if (rounds == 0) score(g) else null
    // r17 measured NOTES (the verdict's item 2, BOTH tried and
    // REVERTED — the loop keeps its r16 spelling):
    // (a) candidate composition from per-vertex neighbor ARRAYS (two
    //     tagged collect_set aggregates + map-side in×out pairing, the
    //     basketPairs trick) cut the per-round exchange count but ran
    //     3–15% SLOWER across the family (op288 4.77→4.92, op290
    //     5.44→6.21, op296 2.85→3.29 s, 3-pass medians, idle box):
    //     array building/exploding costs more per row than the hash
    //     joins it replaced;
    // (b) pinning the rescore width with repartition(cores, u) before
    //     score() — to defeat AQE's small-bytes coalescing of the
    //     candidate exchange — ran consistently SLOWER (3-round warm
    //     A/B 4.1 → 5.6–5.9 s; full-loop summed task time 20 → 99 s):
    //     the rescore is only ~1 s/round of real CPU here, and every
    //     extra-wide task re-deserializes the broadcast vector
    //     relations, so per-task fixed costs swamp the parallelism
    //     win at this candidate volume. At 100 TB the width arrives
    //     naturally from input splits; forcing it is a local[32]-only
    //     tune that doesn't even pay locally.
    (1 to rounds).foreach { _ =>
      val rev = g.select(col("w").as("u"), col("u").as("w"))
        .withColumn("rn", row_number().over(byU.orderBy(col("w"))))
        .filter(col("rn") <= capR).drop("rn")
      val und = g.union(rev).distinct()
      val cand = und.select(col("u"), col("w").as("v"))
        .join(und.select(col("u").as("v"), col("w")), "v")
        .filter(col("u") =!= col("w"))
        .select(col("u"), col("w"))
        .union(g)
        .distinct()
      scored = score(cand).filter(col("rank") <= k).localCheckpoint()
      g = scored.select(col("u"), col("w"))
    }
    scored.select(col("u").as("u_id"), col("rank"), col("w").as("n_id"),
      col("cos_bp"))
  }

  /** Persist an NN-Descent kNN graph as a serving index: `vectors`
    * (id, vec, n2 — the quantized corpus, the walk's rescore source)
    * and `graph` (u_id, n_id — [[nnDescent]]'s directed edges). The
    * layout [[graft.streaming.StreamingAnn.graphProbeStream]] loads
    * into its broadcast shard; at 100 TB each serving node loads the
    * id range of ITS shard (both tables are id-keyed, so the split is
    * a range predicate the parquet scan prunes). */
  def nndIndexWrite(emb: DataFrame, dir: String, k: Int = 16,
      rounds: Int = 3, capR: Int = 16): Unit = {
    emb.select(col("vec_id").as("id"),
        quantize(col("embedding")).as("vec"))
      .withColumn("n2", intDot(col("vec"), col("vec")))
      .write.mode("overwrite").parquet(s"$dir/vectors")
    nnDescent(emb, k, rounds, capR)
      .select(col("u_id"), col("n_id"))
      .write.mode("overwrite").parquet(s"$dir/graph")
  }

  /** Graph-based ANN serving: beam search over a prebuilt kNN graph
    * (the NSW idea — Malkov et al. 2014; HNSW adds a layer hierarchy on
    * top of exactly this search step). Start each query from a fixed
    * entry set, then repeat `hops` times: expand the beam through the
    * graph's out-edges, rescore every candidate against the query with
    * the exact integer cosine, keep the best `beam`. Emits the final
    * beam's top `kOut` as (q_id, rank, n_id, cos_bp).
    *
    * Deterministic end-to-end, so DuckDB replays it exactly: entries
    * are the same LCG permutation as [[nnDescent]]'s init (slot j of
    * query q → (q·48271 + j·1299721) mod N — the reproducible spelling
    * of NSW's random entry point), scores are the exact integer cosine,
    * ties break by ascending candidate id, self hits are dropped at
    * scoring time.
    *
    * Shape at 100 TB: the graph is the N·k-edge artifact of [[nnDescent]]
    * (at scale: persisted bucketed by u_id — expansion is |Q|·beam point
    * lookups per hop, the op286 bucket-pruned access path); one hop
    * scores ≤ |Q|·beam·(k+1) candidates — every per-hop structure is
    * query-sample-bounded, the corpus is touched only at the looked-up
    * ids. Brute force is never consulted. The latency escalation is
    * HNSW's coarse-to-fine layer stack; recall rises with `beam` (the
    * ef parameter) and `hops`. */
  def graphSearch(emb: DataFrame, graph: DataFrame, nQueries: Int,
      beam: Int = 12, hops: Int = 3, kOut: Int = 8): DataFrame = {
    val n = emb.select(col("vec_id").as("id"),
        quantize(col("embedding")).as("vec"))
      .withColumn("n2", intDot(col("vec"), col("vec")))
      .localCheckpoint()
    val nTotal = n.count()
    val q = n.filter(col("id") < nQueries)
      .select(col("id").as("q_id"), col("vec").as("q_vec"),
        col("n2").as("q_n2"))
    val edges = graph.select(col("u_id").as("cand"), col("n_id").as("w"))
    val nc = n.select(col("id").as("cand"), col("vec").as("c_vec"),
      col("n2").as("c_n2"))
    val entries = q.select(col("q_id"))
      .withColumn("j", explode(sequence(lit(1), lit(beam))))
      .select(col("q_id"),
        pmod(col("q_id") * lit(48271L) + col("j") * lit(1299721L),
          lit(nTotal)).as("cand"))
    beamTopKOut(beamWalk(q, nc, edges, entries, beam, hops), q, nc, kOut)
  }

  /** One beam walk — init = rescore + keep-`beam` over `entries`, then
    * `hops` rounds of expand-through-`edges` ∪ current beam →
    * keep-`beam`. The shape shared by the flat NSW search
    * ([[graphSearch]]) and BOTH layers of [[hnswSearch]]: queries
    * (q_id, q_vec, q_n2), corpus (cand, c_vec, c_n2), edges (cand, w),
    * entries (q_id, cand). Returns the final beam (q_id, cand).
    * Per-hop structures are |Q|·beam·(k+1)-bounded — the corpus is
    * touched only at looked-up ids, never scanned. */
  private def beamWalk(q: DataFrame, nc: DataFrame, edges: DataFrame,
      entries: DataFrame, beam: Int, hops: Int): DataFrame = {
    val byQ = Window.partitionBy("q_id")
    // rescore + keep-beam: the one shape shared by init and every hop
    def topBeam(cands: DataFrame): DataFrame =
      cands.distinct()
        .join(q, "q_id").join(nc, "cand")
        .filter(col("cand") =!= col("q_id"))
        .withColumn("rk", row_number().over(byQ.orderBy(
          cosBpFrom(intDot(col("q_vec"), col("c_vec")),
            col("q_n2"), col("c_n2")).desc, col("cand"))))
        .filter(col("rk") <= beam)
        .select(col("q_id"), col("cand"))
    // r16 measured NOTE: chaining the hops lazily (no per-hop
    // checkpoint, exchange reuse deduping the 2×/hop subtree copies)
    // was TRIED and ran ~1.7× SLOWER (op290 5.0→8.7 s, op296 3.1→6.1 s
    // at sf0.1) — the replicated window/codegen planning outweighs the
    // saved driver barriers. The per-hop checkpoint stays.
    var b = topBeam(entries).localCheckpoint()
    (1 to hops).foreach { _ =>
      val expand = b.join(edges, "cand")
        .select(col("q_id"), col("w").as("cand"))
      b = topBeam(b.union(expand)).localCheckpoint()
    }
    b
  }

  /** Final-beam rescore: (q_id, cand) → the served
    * (q_id, rank, n_id, cos_bp) rows, top `kOut` per query. */
  private def beamTopKOut(b: DataFrame, q: DataFrame, nc: DataFrame,
      kOut: Int): DataFrame =
    topKPerQuery(b.join(q, "q_id").join(nc, "cand")
        .select(col("q_id"), col("cand").as("n_id"),
          cosBpFrom(intDot(col("q_vec"), col("c_vec")),
            col("q_n2"), col("c_n2")).as("cos_bp")), kOut)
      .select(col("q_id"), col("rank"), col("n_id"), col("cos_bp"))

  /** Persist the HNSW upper layer over `emb` next to an [[nndIndexWrite]]
    * base index: `level1_map` (l_id ↔ orig_id — the dense re-rank of the
    * deterministic 1-in-`mod` member subset, HNSW's geometric level
    * assignment spelled reproducibly) and `upper_graph` ([[nnDescent]]
    * over the members in dense l_id space, satisfying its dense-id
    * contract). The local dense re-rank is one global row_number over a
    * metadata-sized subset; at 100 TB it is the standard two-pass
    * zipWithIndex (per-partition counts, then offsets) — both passes
    * shuffle-free. */
  def hnswUpperWrite(emb: DataFrame, dir: String, mod: Int = 8,
      k: Int = 8, rounds: Int = 2, capR: Int = 8): Unit = {
    val members = emb.filter(
      pmod(col("vec_id") * lit(48271L) + lit(7L), lit(mod.toLong)) === 0L)
    val mapped = members
      .withColumn("l_id",
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("bigint"))
      .localCheckpoint()
    mapped.select(col("l_id"), col("vec_id").as("orig_id"))
      .write.mode("overwrite").parquet(s"$dir/level1_map")
    nnDescent(mapped.select(col("l_id").as("vec_id"), col("embedding")),
        k, rounds, capR)
      .select(col("u_id"), col("n_id"))
      .write.mode("overwrite").parquet(s"$dir/upper_graph")
  }

  /** HNSW-style two-layer ANN search (Malkov & Yashunin 2018, the
    * layer-stack escalation [[graphSearch]]'s scaladoc names): a short
    * beam walk over the SPARSE upper layer finds query-adjacent entry
    * points, which seed the level-0 walk in place of the LCG entry
    * permutation — the hierarchy buys a good neighborhood BEFORE the
    * expensive wide-beam level-0 hops spend their budget. Deterministic
    * end to end (LCG upper entries over the dense member ranks, exact
    * integer cosine, id tiebreaks), so DuckDB replays both graph builds
    * and both walks and the served top-k is hash-gated.
    *
    * Shape at 100 TB: the upper layer holds N/`mod` nodes (its graph
    * N·k/`mod` edges — at mod 8 a 12.5% overlay); per query the upper
    * walk touches upperBeam·(k+1) nodes per hop and the level-0 walk
    * beam·(k+1), both independent of corpus size. Both layers persist
    * id-keyed ([[nndIndexWrite]] / [[hnswUpperWrite]]) and serve through
    * the same bucket-pruned point lookups as the flat walk. */
  def hnswSearch(emb: DataFrame, baseGraph: DataFrame, upperMap: DataFrame,
      upperGraph: DataFrame, nQueries: Int, upperBeam: Int = 8,
      upperHops: Int = 2, beam: Int = 12, hops: Int = 2,
      kOut: Int = 8): DataFrame = {
    val n = emb.select(col("vec_id").as("id"),
        quantize(col("embedding")).as("vec"))
      .withColumn("n2", intDot(col("vec"), col("vec")))
      .localCheckpoint()
    val q = n.filter(col("id") < nQueries)
      .select(col("id").as("q_id"), col("vec").as("q_vec"),
        col("n2").as("q_n2"))
    val nc = n.select(col("id").as("cand"), col("vec").as("c_vec"),
      col("n2").as("c_n2"))
    val um = upperMap.select(col("l_id"), col("orig_id")).localCheckpoint()
    val nUpper = um.count()
    // the upper walk runs in ORIGINAL id space (self-drop and tiebreaks
    // line up with level 0): edges and entries map through level1_map,
    // which is metadata-sized (N/mod rows) — broadcast
    val upperEdges = upperGraph
      .join(broadcast(um.select(col("l_id").as("u_id"),
        col("orig_id").as("cand"))), "u_id")
      .join(broadcast(um.select(col("l_id").as("n_id"),
        col("orig_id").as("w"))), "n_id")
      .select(col("cand"), col("w"))
    val upperEntries = q.select(col("q_id"))
      .withColumn("j", explode(sequence(lit(1), lit(upperBeam))))
      .select(col("q_id"),
        pmod(col("q_id") * lit(48271L) + col("j") * lit(1299721L),
          lit(nUpper)).as("l_id"))
      .join(broadcast(um), "l_id")
      .select(col("q_id"), col("orig_id").as("cand"))
    val bUp = beamWalk(q, nc, upperEdges, upperEntries, upperBeam, upperHops)
    val edges = baseGraph.select(col("u_id").as("cand"), col("n_id").as("w"))
    beamTopKOut(beamWalk(q, nc, edges, bUp, beam, hops), q, nc, kOut)
  }
}
