package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.expressions.{GraphBeamTopK, GraphShard, PqShard, PqShardTopK, SqShard, SqShardTopK}
import graft.functions.{Similarity, TopKAgg}

/** Online ANN serving — the streaming half of the similarity story: a
  * stream of query vectors probes a PREBUILT, persisted index
  * ([[graft.functions.Similarity.ivfIndexWrite]] and friends).
  *
  * Every serving leg (IVF-flat, SQ8, IVF-PQ, graph, HNSW) is JOIN-FREE
  * as of r14: the index is loaded ONCE at stream construction into a
  * flat shard value, shipped to executors as one broadcast, and the
  * whole probe runs inside a single map-side Catalyst expression
  * ([[graft.expressions.SqShardTopK]] / [[graft.expressions
  * .PqShardTopK]] / [[graft.expressions.GraphBeamTopK]]) — so every
  * micro-batch is projection → explode → the one bounded stateful
  * [[TopKAgg]]. This is the shape a streaming plan wants: a
  * micro-batch pays per-stage planning/scheduling EVERY trigger, and a
  * stream-static join also re-executes its static side every trigger;
  * collapsing both bought ~2× per leg (r11-r13 anatomy), and the
  * broadcast shard is the honest 100 TB layout — a serving node holds
  * ITS SHARD of the index in RAM, and the per-query touch set is
  * nProbe cells × block size (or beam·(k+1) per hop), never the
  * corpus.
  *
  * Scoring is the same quantized-integer arithmetic as the batch
  * probes, so for queries arriving within one trigger the emitted
  * top-k rows equal the batch answers exactly (spec'd); across
  * triggers the aggregation keeps folding new candidates in update
  * mode.
  */
object StreamingAnn {

  /** Shared cold-bootstrap contract for the broadcast-shard serving
    * legs (r15 advice + review): an EMPTY persisted index answers
    * every query with no matches — zero candidates through the same
    * explode → TopKAgg shape, so output-mode semantics and schema are
    * unchanged — instead of require-failing at stream build. */
  private def emptyTopK(scoreField: String): Column =
    expr(s"CAST(array() AS array<struct<$scoreField: bigint, n_id: bigint>>)")

  /** Probe the persisted IVF index at `dir` with a STREAMING frame of
    * (vec_id, embedding) query vectors; emits (q_id, top) where `top` is
    * the array<struct<score,id>> of the current k best — explode to rows
    * with [[explodeTopK]]. Run in update or complete output mode.
    *
    * r14: the last join-based serving leg joins the shard club — the
    * stream-static join on cent_id against the partitioned cells store
    * (re-executed EVERY trigger) becomes one map-side [[graft
    * .expressions.SqShardTopK]] evaluation over the broadcast shard.
    * IVF-flat is structurally the SQ8 scan with the cell blocks holding
    * the FULL quantized vectors instead of SQ8 codes — same cell
    * ranking, same cosBpFrom∘intDot scoring, same self-exclusion — so
    * the expression is shared, not cloned. Results are bit-identical to
    * the join spelling (op96 hash-green; the per-query top-k over all
    * probed candidates is what the join's global TopKAgg computed). */
  def ivfProbeStream(queryStream: DataFrame, dir: String, k: Int,
      nProbe: Int = 4): DataFrame =
    blockShardProbe(queryStream, dir, "cells", "n_id_vec", "n_id_n2",
      "cos_bp", k, nProbe)

  /** Probe the persisted SQ8 index at `dir`
    * ([[graft.functions.Similarity.sq8IndexWrite]]) with a STREAMING
    * frame of (vec_id, embedding) query vectors — the fourth leg of the
    * online serving matrix (IVF cells, PQ ADC, LSH buckets, SQ8 codes):
    * one [[graft.expressions.SqShardTopK]] evaluation per query row
    * over the broadcast shard — cell choice, block scan and k-trim in a
    * single map-side projection — and
    * the bounded [[TopKAgg]] as the one streaming aggregation. No
    * exact rerank (a join after the aggregation — forbidden in a
    * stream): the online answer is the SQ8-approx ranking (score =
    * sq_bp over the codes; spec'd equal to an independent driver-side
    * replay), and the batch
    * [[graft.functions.Similarity.sq8Probe]] refines offline.
    *
    * SERVING LAYOUT (r11, 2.4× the row-per-candidate spelling): the
    * code store is loaded ONCE at stream build and re-grouped into one
    * array BLOCK per cell — the contiguous cell-block memory layout
    * every IVF server scans. A query row joins its nProbe blocks
    * (nProbe rows, not |cell| rows), scores the whole block inside a
    * per-row higher-order loop, and k-trims BEFORE anything
    * materializes — so nProbe·k scored rows per query cross the
    * shuffle to the state aggregation instead of the whole candidate
    * set (|corpus|·nProbe/nCells ≈ 25× more at the bench shape). The
    * within-block sort key struct(−sq_bp, n_id) is TopKAgg's exact
    * (score desc, id asc) order, and top-k of a union of per-block
    * top-ks equals top-k of all candidates (every global winner ranks
    * ≤ k in its own block), so emitted rows are IDENTICAL to the
    * row-per-candidate form — same scores, same tiebreaks, same
    * cross-trigger folding. At 100 TB the blocks live partitioned on
    * executors (disk-spillable), exactly like the unpinned store. */
  def sq8ProbeStream(queryStream: DataFrame, dir: String, k: Int,
      nProbe: Int = 4): DataFrame =
    blockShardProbe(queryStream, dir, "codes", "codes", "c_n2", "sq_bp", k,
      nProbe)

  /** The one IVF-flat / SQ8 serving body: the shard is loaded ONCE at
    * stream build into the flat array layout an ANN server scans and
    * shipped as one broadcast value (see [[SqShardTopK]]'s scaladoc for
    * why this beats the stream-static join at serving cadence and how it
    * remains the honest 100 TB shape). `table` is the cell-block store,
    * `vecCol`/`n2Col` its vector and norm columns, and the probe's score
    * is emitted as `scoreName`. An EMPTY index answers with no matches
    * (the cold-bootstrap contract of [[emptyTopK]]). */
  private def blockShardProbe(queryStream: DataFrame, dir: String,
      table: String, vecCol: String, n2Col: String, scoreName: String,
      k: Int, nProbe: Int): DataFrame = {
    val spark = queryStream.sparkSession
    val (cellIds, centVecs, centN2s) = loadCentroids(spark, dir)
    val blocks = cellBlocks(spark, s"$dir/$table", cellIds, vecCol, n2Col)
    val topExpr =
      if (cellIds.isEmpty) emptyTopK("sq_bp")
      else {
        val shard = spark.sparkContext.broadcast(SqShard.fromRows(
          cellIds, centVecs, centN2s,
          blocks.map(_.map(_.getLong(1))),
          blocks.map(_.map(_.getSeq[Long](2).toArray)),
          blocks.map(_.map(_.getLong(3)))))
        ColumnBridge.column(SqShardTopK(qExpr("q_id"), qExpr("q_vec"),
          qExpr("q_n2"), shard, k, nProbe))
      }
    topKOf(queryRows(queryStream), topExpr, "sq_bp", scoreName, k)
  }

  /** Probe the persisted PQ index at `dir`
    * ([[graft.functions.Similarity.pqIndexWrite]]) with a STREAMING
    * frame of (vec_id, embedding) query vectors — pure asymmetric
    * distance computation: the codebook (m×nCents rows — bytes) is
    * collected once at stream build and embedded as ONE flat plan
    * literal; each query row computes its LUT of partial distances to
    * every (subspace, code) cell in a single transform, and a
    * candidate's approximate distance is m array lookups summed in one
    * codegen'd per-row projection. Candidates come from a
    * stream-static join against the PACKED codes table (one m-element
    * code array per stored vector — at scale that packed layout is the
    * stored one: 4 bytes/vector, the point of PQ); the per-query top-k
    * is the bounded [[TopKAgg]] — the single streaming aggregation.
    *
    * No exact rerank: rerank is a second join-and-sort AFTER the
    * aggregation, which a streaming plan forbids — the online answer is
    * the ADC ranking (score = −d2; spec'd equal to an independent ADC
    * replay), and a batch [[graft.functions.Similarity.pqProbe]]
    * refines offline. Emits (q_id, top).
    *
    * PRUNING: when the store carries an IVF coarse quantizer
    * (`dir/centroids` + cent_id-partitioned codes — the
    * [[graft.functions.Similarity.ivfPqIndexWrite]] layout), the probe
    * delegates to [[ivfPqProbeStream]] and scans only `nProbe` cells
    * per query instead of the whole code store — the 100 TB serving
    * shape. The flat full-scan path below remains ONLY for the
    * cell-less [[graft.functions.Similarity.pqIndexWrite]] layout —
    * the exact-recall (recall = 1 over ADC) baseline, honest at ≲10⁶
    * codes and deliberately not the default store for online serving. */
  def pqAdcProbeStream(queryStream: DataFrame, dir: String, k: Int,
      nProbe: Int = 4): DataFrame = {
    val spark = queryStream.sparkSession
    if (new java.io.File(s"$dir/centroids").isDirectory)
      return ivfPqProbeStream(queryStream, dir, k, nProbe)
    val (m, nCents, subDim, lutOf) = adcLut(spark, dir)

    val q0 = queryStream.select(col("vec_id").as("q_id"),
      Similarity.normalizedEmbedding(col("embedding")).as("q_vec"))
    // hoist the m subvector slices and their norms into named columns so
    // each evaluates once per row, not once per (subspace, code) cell
    val slices = q0.select(col("q_id") +:
      (0 until m).map(j =>
        slice(col("q_vec"), j * subDim + 1, subDim).as(s"sv_$j")): _*)
    val withS2 = slices.select(col("q_id"),
      array((0 until m).map(j => col(s"sv_$j")): _*).as("svs"),
      array((0 until m).map(j =>
        Similarity.intDot(col(s"sv_$j"), col(s"sv_$j"))): _*).as("s2s"))
    val pd2 = withS2.select(col("q_id"),
      lutOf(col("svs"), col("s2s")).as("pd2"))

    // packed codes: one array of m codes per stored vector, sub_j order
    // — the PERSISTED serving layout (pqIndexWrite writes it alongside
    // the row form). Indexes written before codes_packed existed fall
    // back to packing once at stream build (materialized — a
    // stream-static join re-executes its static side every micro-batch)
    val packedDir = new java.io.File(s"$dir/codes_packed")
    val codes =
      if (packedDir.isDirectory && new java.io.File(packedDir, "_SUCCESS").isFile)
        spark.read.parquet(packedDir.getPath)
      else Similarity.packedCodes(spark.read.parquet(s"$dir/codes"))
        .localCheckpoint()

    val d2 = (0 until m).map(j =>
      element_at(col("pd2"),
        lit(j * nCents) + element_at(col("codes"), j + 1).cast("int") + 1))
      .reduce(_ + _)
    pd2.crossJoin(codes)
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), (-d2).as("neg_d2"))
      .groupBy(col("q_id"))
      .agg(TopKAgg.topK(k)(col("neg_d2"), col("n_id")).as("top"))
  }

  /** Probe the persisted LSH index at `dir`
    * ([[graft.functions.Similarity.lshIndexWrite]]) with a STREAMING
    * frame of (vec_id, embedding) query vectors — completing the online
    * trio (IVF cells, PQ ADC, LSH buckets). The planes are md5-derived
    * pure functions of (nBits, nTables), so the query side buckets
    * per-row with the same [[graft.expressions.SignLshBuckets]]
    * expression as the build — nothing about the index is collected at
    * stream start. Candidates come from a stream-static join on
    * (tbl, bucket) against the partitioned bucket table (scan-pruned
    * storage), vectors re-attach from the static store on n_id, and
    * the per-query top-k is [[TopKAgg.topKDistinct]] — a pair colliding
    * in several tables scores identically each time, and the
    * one-slot-per-id buffer IS the pair dedup, replacing the
    * dropDuplicates a streaming plan cannot put before an aggregation.
    * Emits (q_id, top); equals the batch
    * [[graft.functions.Similarity.lshProbe]] exactly (spec'd). */
  def lshProbeStream(queryStream: DataFrame, dir: String, k: Int,
      nBits: Int = 4, nTables: Int = 8): DataFrame = {
    val spark = queryStream.sparkSession
    // the stored geometry wins (legacy-dir fallback only) — mismatched
    // planes would silently bucket queries differently from the store
    val (gBits, gTables) = Similarity.lshGeometry(spark, dir, nBits, nTables)
    val cBuckets = spark.read.parquet(s"$dir/buckets")
      .select(col("n_id"), col("tbl").cast("int").as("tbl"),
        col("bucket").cast("bigint").as("bucket"))
    val nv = spark.read.parquet(s"$dir/vectors")
    // quantize once per (query, table) row — bounded by nTables, never
    // by candidate count (the op68 lesson)
    val qb = Similarity.lshBucketsMulti(queryStream, "vec_id", gBits, gTables)
      .select(col("vec_id").as("q_id"),
        Similarity.quantize(col("embedding")).as("q_vec"),
        col("tbl"), col("bucket"))
      .withColumn("q_n2", Similarity.intDot(col("q_vec"), col("q_vec")))
    qb.join(cBuckets, Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .join(nv, "n_id")
      .select(col("q_id"), col("n_id"),
        Similarity.cosBpFrom(Similarity.intDot(col("q_vec"), col("n_vec")),
          col("q_n2"), col("n_n2")).as("cos_bp"))
      .groupBy(col("q_id"))
      .agg(TopKAgg.topKDistinct(k)(col("cos_bp"), col("n_id")).as("top"))
  }

  /** Probe the persisted IVF-PQ index at `dir`
    * ([[graft.functions.Similarity.ivfPqIndexWrite]]) with a STREAMING
    * frame of (vec_id, embedding) query vectors — the composition that
    * closes the serving matrix's last unpruned path: [[pqAdcProbeStream]]
    * scans the ENTIRE packed-code store per micro-batch (that is what
    * PQ-flat ADC is); here the whole probe — per-row ADC LUT, the
    * batch-identical cell choice, and the nProbe code-block
    * scan at m LUT lookups per candidate — runs inside ONE map-side
    * [[graft.expressions.PqShardTopK]] evaluation over the broadcast
    * shard, feeding the single stateful TopKAgg (the r13 collapse of
    * the former LUT-project → explode(cells) → stream-static
    * join(codes_packed) pipeline, whose static join side re-executed
    * every trigger — the [[graft.expressions.SqShardTopK]] recipe
    * applied to the last join-based pruned leg). No exact rerank in a
    * stream: the online answer is the ADC ranking over the probed
    * cells (score = −d2), and the batch
    * [[graft.functions.Similarity.ivfPqProbe]] refines offline. */
  def ivfPqProbeStream(queryStream: DataFrame, dir: String, k: Int,
      nProbe: Int = 4): DataFrame = {
    val spark = queryStream.sparkSession
    // raw quantized vector drives the cell choice (the IVF metric);
    // the normalized vector drives the ADC LUT (the PQ metric) — both
    // are per-row projections over the same embedding
    val q0 = queryRows(queryStream,
      Similarity.normalizedEmbedding(col("embedding")).as("nq_vec"))
    // empty-index short-circuit — the ivfProbeStream cold-bootstrap
    // contract (r15 review: this leg used to crash on `empty.max` in
    // the codebook geometry inference at stream build)
    val topExpr = loadPqShard(spark, dir).fold(emptyTopK("neg_d2")) {
      shard =>
        ColumnBridge.column(PqShardTopK(qExpr("q_id"), qExpr("q_vec"),
          qExpr("q_n2"), qExpr("nq_vec"), shard, k, nProbe))
    }
    topKOf(q0, topExpr, "neg_d2", "neg_d2", k)
  }

  /** Flatten the persisted IVF-PQ index (centroids + codebook +
    * packed codes grouped by cell) into the [[graft.expressions.PqShard]]
    * layout — the one-time stream-build load. */
  private def loadPqShard(spark: SparkSession, dir: String)
      : Option[Broadcast[PqShard]] = {
    val (cellIds, centVecs, centN2s) = loadCentroids(spark, dir)
    val cbOpt = loadCodebook(spark, dir)
    // cold bootstrap: a fully empty index short-circuits at the caller;
    // a PARTIAL index (one store present, the other empty) is a build
    // error — name it instead of failing further in
    if (cellIds.isEmpty && cbOpt.isEmpty) return None
    require(cellIds.nonEmpty && cbOpt.nonEmpty,
      s"partial IVF-PQ index at $dir: centroids=${cellIds.length} rows, " +
        s"codebook=${cbOpt.fold(0)(_.n2s.length)} rows — an empty index " +
        "must be empty in BOTH")
    val cb = cbOpt.get
    val blocks = cellBlocks(spark, s"$dir/codes_packed", cellIds, "codes")
    Some(spark.sparkContext.broadcast(PqShard.fromRows(
      cellIds, centVecs, centN2s,
      blocks.map(_.map(_.getLong(1))),
      blocks.map(_.map(_.getSeq[Long](2).toArray)),
      cb.vecs, cb.n2s, cb.m, cb.nCents, cb.subDim)))
  }

  /** A PQ codebook in slot order (slot = j·nCents + code). */
  private case class PqCodebook(vecs: Array[Array[Long]], n2s: Array[Long],
      m: Int, nCents: Int, subDim: Int)

  /** Collect `dir/codebook` (m×nCents rows — bytes) and infer its
    * geometry from the observed maxima; None when it is empty. */
  private def loadCodebook(spark: SparkSession, dir: String)
      : Option[PqCodebook] = {
    val cb = spark.read.parquet(s"$dir/codebook").collect()
      .map(r => (r.getInt(r.fieldIndex("sub_j")),
        r.getLong(r.fieldIndex("code"))) ->
        ((r.getSeq[Long](r.fieldIndex("cent_vec")).toArray,
          r.getLong(r.fieldIndex("cent_n2")))))
      .toMap
    if (cb.isEmpty) return None
    val m = cb.keys.map(_._1).max + 1
    val nCents = cb.keys.map(_._2).max.toInt + 1
    val slots = Array.tabulate(m * nCents) { slot =>
      val (j, c) = (slot / nCents, slot % nCents)
      // m/nCents are inferred from the observed maxima, so a gap in the
      // codebook would otherwise surface as a bare NoSuchElementException
      // at stream build — name the hole instead
      cb.getOrElse((j, c.toLong), sys.error(
        s"PQ codebook hole: no row for (sub_j=$j, code=$c) " +
          s"(inferred m=$m, nCents=$nCents from the observed maxima)"))
    }
    Some(PqCodebook(slots.map(_._1), slots.map(_._2), m, nCents,
      cb.values.head._1.length))
  }

  /** Shared ADC LUT for the PQ-scoring streaming legs: loads the
    * codebook ONCE at stream build and returns
    * (m, nCents, subDim, lutOf) where lutOf(svs, s2s) is the per-row
    * array of m·nCents partial distances (LUT slot = j·nCents + code).
    * The whole codebook rides as ONE flat plan literal traversed by a
    * single transform — spelling each cell as its own literal-vector
    * dot product (m·nCents separate expressions) bloats analysis +
    * codegen enough to dominate the probe at stream start. The lambda
    * interprets, but only over m·nCents cells per QUERY row; the
    * per-CANDIDATE lookup path stays codegen'd. */
  private def adcLut(spark: SparkSession, dir: String)
      : (Int, Int, Int, (Column, Column) => Column) = {
    val cb = loadCodebook(spark, dir).getOrElse(
      sys.error(s"PQ index at $dir has an empty codebook"))
    val cbFlat: Seq[(Int, Seq[Long], Long)] = cb.vecs.indices.map(slot =>
      (slot / cb.nCents, cb.vecs(slot).toSeq, cb.n2s(slot)))
    val lutOf = (svs: Column, s2s: Column) =>
      transform(typedlit(cbFlat), e =>
        element_at(s2s, e.getField("_1") + 1) - lit(2L) *
          Similarity.intDot(element_at(svs, e.getField("_1") + 1),
            e.getField("_2")) + e.getField("_3"))
    (cb.m, cb.nCents, cb.subDim, lutOf)
  }

  /** Probe the persisted NN-Descent graph index at `dir`
    * ([[graft.functions.Similarity.nndIndexWrite]]) with a STREAMING
    * frame of (vec_id, embedding) query vectors — the graph-ANN
    * serving leg: the whole NSW beam walk is ONE map-side expression
    * ([[graft.expressions.GraphBeamTopK]], bit-identical to the batch
    * [[graft.functions.Similarity.graphSearch]] hop for hop), feeding
    * the bounded [[TopKAgg]] as the single streaming aggregation.
    * Graph + vectors ride in one broadcast shard, loaded ONCE at
    * stream build — the deployment shape of every graph-ANN server
    * (the structure lives in serving RAM; a query touches beam·(k+1)
    * nodes per hop regardless of corpus size). Emits (q_id, top). */
  def graphProbeStream(queryStream: DataFrame, dir: String, kOut: Int,
      beam: Int = 12, hops: Int = 3): DataFrame =
    beamProbeStream(queryStream, loadGraphShard(queryStream.sparkSession,
      dir, upperDir = None), kOut, beam, hops, 0, 0)

  /** Probe an [[graft.functions.Similarity.nndIndexWrite]] base index
    * PLUS its [[graft.functions.Similarity.hnswUpperWrite]] upper layer
    * with a streaming frame of query vectors — the HNSW serving twin:
    * the upper walk AND the level-0 walk both run inside the one
    * map-side [[graft.expressions.GraphBeamTopK]] evaluation (the upper
    * layer rides in the same broadcast shard; at `mod` 8 it adds 12.5%
    * to the shard's id map and graph, nothing to its vectors — they are
    * shared). Bit-identical to the batch
    * [[graft.functions.Similarity.hnswSearch]], so it shares its oracle
    * verbatim. Emits (q_id, top). */
  def hnswProbeStream(queryStream: DataFrame, dir: String,
      upperDir: String, kOut: Int, upperBeam: Int = 8, upperHops: Int = 2,
      beam: Int = 12, hops: Int = 2): DataFrame =
    beamProbeStream(queryStream, loadGraphShard(queryStream.sparkSession,
      dir, Some(upperDir)), kOut, beam, hops, upperBeam, upperHops)

  /** Load a persisted NN-Descent index (and optionally its HNSW upper
    * layer) into the flat [[graft.expressions.GraphShard]] layout — the
    * once-at-stream-build read every serving leg amortizes. */
  private def loadGraphShard(spark: SparkSession, dir: String,
      upperDir: Option[String]): Broadcast[GraphShard] = {
    val vecRows = spark.read.parquet(s"$dir/vectors")
      .select(col("id"), col("vec"), col("n2"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      .sortBy(_._1)
    vecRows.iterator.zipWithIndex.foreach { case ((id, _, _), i) =>
      require(id == i, s"graph shard needs dense ids 0..N-1, hole at $i")
    }
    val adjOf = spark.read.parquet(s"$dir/graph")
      .select(col("u_id"), col("n_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1)
    val (upperOrig, upperAdj) = upperDir match {
      case None => (Array.empty[Long], Array.empty[Array[Long]])
      case Some(ud) =>
        val um = spark.read.parquet(s"$ud/level1_map")
          .select(col("l_id"), col("orig_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .sortBy(_._1)
        um.iterator.zipWithIndex.foreach { case ((l, _), i) =>
          require(l == i, s"upper layer needs dense l_ids 0..M-1, hole at $i")
        }
        // the keep-beam tiebreaks on the packed dense l_id, which is
        // only oracle-equivalent while l_id order == orig_id order —
        // true for hnswUpperWrite (row_number over vec_id) and now
        // REQUIRED of any index writer, not silently assumed
        um.iterator.sliding(2).withPartial(false).foreach { w =>
          require(w(0)._2 < w(1)._2,
            s"upper layer orig_ids must be strictly increasing in l_id " +
              s"order (l_id tiebreak ≡ orig_id tiebreak): " +
              s"orig ${w(0)._2} !< ${w(1)._2} at l_id ${w(1)._1}")
        }
        val uAdjOf = spark.read.parquet(s"$ud/upper_graph")
          .select(col("u_id"), col("n_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1)
        (um.map(_._2),
          um.map { case (l, _) =>
            uAdjOf.getOrElse(l, Array.empty).map(_._2).sorted })
    }
    spark.sparkContext.broadcast(
      GraphShard(
        vecRows.map(_._2),
        vecRows.map(_._3),
        // neighbor order is irrelevant (expansion is a set union) but
        // keep the shard byte-reproducible
        vecRows.map { case (id, _, _) =>
          adjOf.getOrElse(id, Array.empty).map(_._2).sorted },
        upperOrig, upperAdj))
  }

  private def beamProbeStream(queryStream: DataFrame,
      shard: Broadcast[GraphShard], kOut: Int, beam: Int, hops: Int,
      upperBeam: Int, upperHops: Int): DataFrame = {
    val topExpr = ColumnBridge.column(GraphBeamTopK(qExpr("q_id"),
      qExpr("q_vec"), qExpr("q_n2"), shard, beam, hops, kOut, upperBeam,
      upperHops))
    topKOf(queryRows(queryStream), topExpr, "cos_bp", "cos_bp", kOut)
  }

  /** The (cent_id, cent_vec, cent_n2) rows of `dir/centroids` in cent_id
    * order, as (cellIds, centVecs, centN2s). */
  private def loadCentroids(spark: SparkSession, dir: String)
      : (Array[Long], Array[Array[Long]], Array[Long]) =
    spark.read.parquet(s"$dir/centroids")
      .select(col("cent_id"), col("cent_vec"), col("cent_n2"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      .sortBy(_._1)
      .unzip3

  /** One block per cell, in `cellIds` order, of the cent_id-partitioned
    * store at `path`: rows (cent_id, n_id, cols…). cent_id is a partition
    * directory on disk, so its bigint type is restored here. Blocks are
    * sorted by n_id — irrelevant to results (the scan scores every
    * probed candidate) but keeps the shard byte-reproducible. */
  private def cellBlocks(spark: SparkSession, path: String,
      cellIds: Array[Long], cols: String*): Array[Array[Row]] = {
    val byCell = spark.read.parquet(path)
      .select(col("cent_id").cast("bigint") +: ("n_id" +: cols).map(col): _*)
      .collect()
      .groupBy(_.getLong(0))
    cellIds.map(c => byCell.getOrElse(c, Array.empty[Row]).sortBy(_.getLong(1)))
  }

  /** The (q_id, q_vec, extra…, q_n2) projection every cell and graph leg
    * scores from: the quantized query vector and its squared norm. */
  private def queryRows(queryStream: DataFrame, extra: Column*): DataFrame =
    queryStream.select(col("vec_id").as("q_id") +:
        Similarity.quantize(col("embedding")).as("q_vec") +: extra: _*)
      .withColumn("q_n2", Similarity.intDot(col("q_vec"), col("q_vec")))

  private def qExpr(name: String): Expression =
    ColumnBridge.expression(col(name))

  /** Explode the shard expression's top-k array into
    * (q_id, `scoreName`, n_id) rows and fold them through the one
    * bounded stateful [[TopKAgg]]; `field` names the score inside the
    * expression's struct. */
  private def topKOf(q0: DataFrame, topExpr: Column, field: String,
      scoreName: String, k: Int): DataFrame =
    q0.select(col("q_id"), explode(topExpr).as("t"))
      .select(col("q_id"), col(s"t.$field").as(scoreName),
        col("t.n_id").as("n_id"))
      .groupBy(col("q_id"))
      .agg(TopKAgg.topK(k)(col(scoreName), col("n_id")).as("top"))

  /** Explode a (q_id, top) frame from [[ivfProbeStream]] /
    * [[pqAdcProbeStream]] into the batch probe's row shape:
    * (q_id, n_id, <score>, rank). */
  def explodeTopK(df: DataFrame, scoreName: String = "cos_bp"): DataFrame =
    df.select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("n_id"),
        col("t.score").as(scoreName),
        (col("pos") + 1).cast("bigint").as("rank"))
}
