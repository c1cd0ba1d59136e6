package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Similarity
import graft.sources.Tables
import graft.streaming.Drain
import Det.{big, ordered}

/** ANN / similarity-search pack (split out of TrainQueries in r11 —
  * same keys, same oracles, zero behavior change): brute-force kNN
  * baselines, the quantized index families (LSH, IVF, PQ, SQ8, IVF-PQ)
  * in end-to-end and persisted-index forms, their STREAMING serving
  * legs, and the recall-evaluation harnesses. Store lifecycle goes
  * through [[IndexStore]]; each family's scale story is on its query
  * and in SCALE.md.
  */
object AnnQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Embedding near-duplicate pairs at cosine ≥ 0.95, through the sign-LSH
    * candidate join (bucket-bounded pair volume — the scale path; exact
    * equality with the brute-force spelling on planted dups is spec'd). */
  val op66EmbedDup: Q = (s, d) =>
    ordered(Similarity.nearDupPairsLsh(Tables.embeddings(s, d), 9500L),
      "a_id", "b_id")

  /** IVF-SQ8 ANN (op112, the faiss IVF-SQ composition): IVF cells
    * prune, int8 codes score (8× less data per candidate than the
    * quantized vectors — the scale win), [[graft.functions.TopKAgg]]
    * trims to a 50-wide shortlist map-side, exact rerank orders the
    * final top-5. The per-vector scale cancels in cosine, so codes
    * alone rank the shortlist and DuckDB replays everything in the
    * shared exact-integer arithmetic. */
  val op112Sq8Ann: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    ordered(
      Similarity.ivfSq8TopK(emb.filter(col("vec_id") < 8), emb, 5,
        lloydIters = 2),
      "q_id", "rank")
  }

  /** SQ8 probe against a PREBUILT persisted index (centroids + int8
    * codes partitioned by cent_id + rerank vector store) — same
    * parameters as op112, identical results and oracle; training and
    * encoding never recur after the first call per dataset, and the
    * code scan prunes to the probed cells via a plan-time IN-list
    * (static PartitionFilter, ScaleSpec-asserted). */
  val op115Sq8Probe: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dir = IndexStore.indexRoot(d, "sq8_c16_l2")
    IndexStore.buildIndexIfAbsent(dir, "vectors")(
      Similarity.sq8IndexWrite(emb, _, nCells = 16, lloydIters = 2))
    ordered(
      Similarity.sq8Probe(emb.filter(col("vec_id") < 8), dir, 5, nProbe = 4),
      "q_id", "rank")
  }

  /** IVF-PQ ANN (op118, the faiss serving composition): IVF cells
    * (2 Lloyd passes, nProbe=4 of 16) prune the corpus, PQ ADC (8
    * subspaces × 16 codes — 4 bytes per candidate, the library's
    * smallest) scores the survivors, TopKAgg trims to a 50-wide
    * shortlist, exact rerank orders the final top-5. The oracle
    * composes the op69 cell replay with the op83 ADC replay: approx
    * distances restricted to each query's probed cells. */
  val op118IvfPqAnn: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    ordered(
      Similarity.ivfPqTopK(emb.filter(col("vec_id") < 8), emb, 5,
        ivfLloyd = 2),
      "q_id", "rank")
  }

  /** IVF-PQ probe against a PREBUILT persisted index (IVF centroids +
    * PQ codebook + cell-partitioned codes + rerank store) — same
    * parameters as op118, identical results and oracle; training,
    * assignment, and encoding never recur, and the code scan prunes to
    * the probed cells via a plan-time IN-list (static PartitionFilter,
    * ScaleSpec-asserted). */
  val op119IvfPqProbe: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dir = IndexStore.indexRoot(d, "ivfpq_c16_l2_m8")
    IndexStore.buildIndexIfAbsent(dir, "vectors")(
      Similarity.ivfPqIndexWrite(emb, _, nCells = 16, ivfLloyd = 2,
        m = 8, nCents = 16, pqLloyd = 1))
    ordered(
      Similarity.ivfPqProbe(emb.filter(col("vec_id") < 8), dir, 5,
        nProbe = 4),
      "q_id", "rank")
  }

  /** Hard-negative mining (op109): per query, top-5 corpus vectors with
    * cosine in [2500, 9500) bp — informative negatives for contrastive
    * training, capped below the near-dup ceiling. Band filter on the
    * op69 IVF probe (same candidate volume; oracle = op69's replay plus
    * the band). Runs against op84's prebuilt `ivf_c16_l2` index (same
    * 16-cell / 2-Lloyd-pass parameters, so results and oracle are
    * unchanged): one index build serves ANN search AND mining, and each
    * mining run pays only probe cost — the end-to-end spelling is
    * [[Similarity.hardNegativesIvf]]. */
  val op109HardNegatives: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dir = IndexStore.indexRoot(d, "ivf_c16_l2")
    IndexStore.buildIndexIfAbsent(dir, "cells")(
      Similarity.ivfIndexWrite(emb, _, nCells = 16, lloydIters = 2))
    ordered(
      Similarity.hardNegativesProbe(emb.filter(col("vec_id") < 8), dir, 5,
        2500L, 9500L, nProbe = 4),
      "q_id", "rank")
  }

  /** Brute-force cosine top-5 neighbors for query vectors vec_id < 8. */
  val op67KnnBrute: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    ordered(
      Similarity.bruteForceTopK(emb.filter(col("vec_id") < 8), emb, 5),
      "q_id", "rank")
  }

  /** Brute-force top-5 via the bounded TopKAgg custom aggregate — same
    * result as op67, shuffle bounded by k per partition (scale path). */
  val op67KnnTopKAgg: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    ordered(
      Similarity.bruteForceTopKAgg(emb.filter(col("vec_id") < 8), emb, 5),
      "q_id", "rank")
  }

  /** ANN top-5 via sign-LSH buckets — hash-checked: integer bucket
    * arithmetic lets the oracle replay the banded join with the quantized
    * planes inlined; recall vs brute force asserted in the spec. */
  val op68AnnLsh: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    ordered(
      Similarity.annTopK(emb.filter(col("vec_id") < 8), emb, 5),
      "q_id", "rank")
  }

  /** ANN top-5 via IVF-flat cells (nProbe=4 of 16) — hash-checked: the
    * oracle unrolls both integer-Lloyd passes; recall vs brute force
    * asserted in the spec. */
  val op69AnnIvf: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    ordered(
      Similarity.ivfTopK(emb.filter(col("vec_id") < 8), emb, 5, lloydIters = 2),
      "q_id", "rank")
  }

  /** ANN top-5 via product quantization (8 subspaces × 16 codes, ADC).
    * Hash-checked: the oracle replays normalize + subspace Lloyd + ADC +
    * rerank; recall vs brute force asserted in the spec. */
  val op83PqAnn: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    ordered(
      Similarity.pqTopK(emb.filter(col("vec_id") < 8), emb, 5),
      "q_id", "rank")
  }

  /** IVF probe against a PREBUILT persisted index — the build-once/
    * probe-many split op69 cannot show (it trains per run). Same
    * parameters as op69 (16 cells, 2 Lloyd passes, nProbe 4), so the
    * results — and the DuckDB oracle — are identical; the first call per
    * dataset builds the index (cells partitioned by cent_id → scan-time
    * pruning, see ScaleSpec), every later call is probe-only cost. */
  val op84IvfProbe: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dir = IndexStore.indexRoot(d, "ivf_c16_l2")
    IndexStore.buildIndexIfAbsent(dir, "cells")(
      Similarity.ivfIndexWrite(emb, _, nCells = 16, lloydIters = 2))
    ordered(
      Similarity.ivfProbe(emb.filter(col("vec_id") < 8), dir, 5, nProbe = 4),
      "q_id", "rank")
  }

  /** PQ probe against a PREBUILT persisted index (codebook + 4-byte
    * codes + rerank vector store) — same parameters as op83, identical
    * results and oracle; first call per dataset trains and encodes,
    * every later call is pure ADC + rerank. */
  val op85PqProbe: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dir = IndexStore.indexRoot(d, "pq_m8_c16_l1")
    IndexStore.buildIndexIfAbsent(dir, "vectors")(
      Similarity.pqIndexWrite(emb, _, m = 8, nCents = 16, lloydIters = 1))
    ordered(
      Similarity.pqProbe(emb.filter(col("vec_id") < 8), dir, 5),
      "q_id", "rank")
  }

  /** LSH probe against a PREBUILT persisted index (bucket table
    * partitioned by (tbl, bucket) + vector store) — same parameters as
    * op68, identical results and oracle; corpus bucketing and
    * quantization never recur after the first call per dataset. */
  val op86LshProbe: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val dir = IndexStore.indexRoot(d, "lsh_b4_t8")
    IndexStore.buildIndexIfAbsent(dir, "vectors")(
      Similarity.lshIndexWrite(emb, _, nBits = 4, nTables = 8))
    ordered(
      Similarity.lshProbe(emb.filter(col("vec_id") < 8), dir, 5),
      "q_id", "rank")
  }

  /** The op84 probe executed as a REAL Structured Streaming query —
    * file source of query vectors → [[graft.streaming.StreamingAnn
    * .ivfProbeStream]] (one shard-broadcast SqShardTopK evaluation per
    * query row; bounded TopKAgg) → memory sink, Trigger.AvailableNow. One
    * replay carries all queries in a single trigger, so the emitted
    * top-k equals the batch [[Similarity.ivfProbe]] exactly and op84's
    * DuckDB oracle checks STREAMING execution under the same hash gate
    * as every batch query (the op51 pattern applied to online ANN
    * serving). */
  val op96StreamIvfProbe: Q = (s, d) => {
    import graft.streaming.StreamingAnn
    val emb = Tables.embeddings(s, d)
    val dir = IndexStore.indexRoot(d, "ivf_c16_l2")
    IndexStore.buildIndexIfAbsent(dir, "cells")(
      Similarity.ivfIndexWrite(emb, _, nCells = 16, lloydIters = 2))
    ordered(StreamingAnn.explodeTopK(
        drainQueryVecStream(s, d, "op96",
          StreamingAnn.ivfProbeStream(_, dir, 5, nProbe = 4))),
      "q_id", "rank")
  }

  /** The online serving matrix's FOURTH leg (IVF cells, LSH buckets,
    * PQ ADC, and now SQ8 codes): [[graft.streaming.StreamingAnn
    * .sq8ProbeStream]] drained the same way — probe-cell choice from
    * inlined centroid literals, stream-static join on the partitioned
    * int8 code store, bounded TopKAgg. No rerank in a stream, so the
    * published score is the SQ8-approx cosine and the oracle is the
    * shared SQ8 replay STOPPED at the approximate scores. */
  val op116StreamSq8Probe: Q = (s, d) => {
    import graft.streaming.StreamingAnn
    val emb = Tables.embeddings(s, d)
    val dir = IndexStore.indexRoot(d, "sq8_c16_l2")
    IndexStore.buildIndexIfAbsent(dir, "vectors")(
      Similarity.sq8IndexWrite(emb, _, nCells = 16, lloydIters = 2))
    ordered(StreamingAnn.explodeTopK(
        drainQueryVecStream(s, d, "op116",
          StreamingAnn.sq8ProbeStream(_, dir, 5, nProbe = 4)), "sq_bp"),
      "q_id", "rank")
  }

  /** The serving matrix's last leg, closing its last unpruned path:
    * [[graft.streaming.StreamingAnn.ivfPqProbeStream]] drained the same
    * way — op100 scans the whole packed-code store per micro-batch
    * (PQ-flat ADC by definition); here the inlined-centroid cell choice
    * prunes the stream-static join to the probed cent_id partitions,
    * with each candidate still costing m LUT lookups. No rerank in a
    * stream, so the published score is −d2 and the oracle is the
    * composed replay STOPPED at the cell-pruned approximate
    * distances. */
  val op120StreamIvfPqProbe: Q = (s, d) => {
    import graft.streaming.StreamingAnn
    val emb = Tables.embeddings(s, d)
    val dir = IndexStore.indexRoot(d, "ivfpq_c16_l2_m8")
    IndexStore.buildIndexIfAbsent(dir, "vectors")(
      Similarity.ivfPqIndexWrite(emb, _, nCells = 16, ivfLloyd = 2,
        m = 8, nCents = 16, pqLloyd = 1))
    ordered(StreamingAnn.explodeTopK(
        drainQueryVecStream(s, d, "op120",
          StreamingAnn.ivfPqProbeStream(_, dir, 5, nProbe = 4)), "neg_d2"),
      "q_id", "rank")
  }

  /** op96's twin over the LSH index: [[graft.streaming.StreamingAnn
    * .lshProbeStream]] (per-row query bucketing with the regenerated
    * planes, stream-static join on the partitioned bucket store,
    * topKDistinct as the one streaming aggregation) drained the same
    * way — shares op68/op86's oracle, putting the second leg of the
    * online-serving trio under the hash gate. (The PQ leg emits ADC
    * distances without the exact rerank, so it has no batch-identical
    * oracle and stays spec-verified.) */
  val op97StreamLshProbe: Q = (s, d) => {
    import graft.streaming.StreamingAnn
    val emb = Tables.embeddings(s, d)
    val dir = IndexStore.indexRoot(d, "lsh_b4_t8")
    IndexStore.buildIndexIfAbsent(dir, "vectors")(
      Similarity.lshIndexWrite(emb, _, nBits = 4, nTables = 8))
    ordered(StreamingAnn.explodeTopK(
        drainQueryVecStream(s, d, "op97",
          StreamingAnn.lshProbeStream(_, dir, 5))),
      "q_id", "rank")
  }

  /** The third leg under the hash gate: [[graft.streaming.StreamingAnn
    * .pqAdcProbeStream]] drained the same way. The streaming PQ probe is
    * PURE asymmetric distance computation (the exact rerank is a join
    * after the aggregation — forbidden in a stream), so its oracle is
    * op83's replay STOPPED at the approximate distances — top-5 by
    * (d2, vec_id), score published as −d2 — RESTRICTED to each query's
    * probed cells. With this, ALL THREE online ANN probes hash-check
    * under real streaming execution.
    *
    * PRUNED (r12): the leg serves the cent_id-partitioned IVF-PQ store
    * at nProbe = 2 — the latency-biased serving point, vs op120's
    * recall-biased nProbe = 4 over the SAME persisted index (one
    * store, two serving configurations, both cell-pruned; the flat
    * full-store ADC scan this replaces survives only as
    * pqAdcProbeStream's documented cell-less baseline and in the batch
    * op83 path, where the shortlist+rerank bounds the damage). Per
    * micro-batch the code scan now reads 2/nCells of the store —
    * the last unpruned online serving path is gone. */
  val op100StreamPqAdc: Q = (s, d) => {
    import graft.streaming.StreamingAnn
    val emb = Tables.embeddings(s, d)
    val dir = IndexStore.indexRoot(d, "ivfpq_c16_l2_m8")
    IndexStore.buildIndexIfAbsent(dir, "vectors")(
      Similarity.ivfPqIndexWrite(emb, _, nCells = 16, ivfLloyd = 2,
        m = 8, nCents = 16, pqLloyd = 1))
    ordered(StreamingAnn.explodeTopK(
        drainQueryVecStream(s, d, "op100",
          StreamingAnn.pqAdcProbeStream(_, dir, 5, nProbe = 2)), "neg_d2"),
      "q_id", "rank")
  }

  /** Shared drain for the streaming ANN probe queries: file-source
    * stream of the fixture query vectors (vec_id < 8) → `probe` →
    * memory sink, Trigger.AvailableNow — one replay carries every query
    * in a single trigger, so the emitted top-k equals the batch probe
    * exactly. The file streaming source lists a directory, so the
    * single fixture file is exposed through a temp dir of symlinks
    * (the op51 recipe). Bench note: each invocation constructs and
    * starts a FRESH stream, so the measured time is mostly query
    * start + plan codegen — a real serving deployment pays that once
    * per stream, and the per-batch marginal cost is the pruned
    * stream-static join. */
  private def drainQueryVecStream(s: SparkSession, d: String, tag: String,
      probe: DataFrame => DataFrame): DataFrame =
    // the aggregate holds 8 groups → 4 shuffle partitions
    Drain.files(s, d, tag, "embeddings", "complete", Drain.width("4"))(st =>
      probe(st.filter(col("vec_id") < 8)))

  /** ANN recall-evaluation harness as a first-class query: per sampled
    * query, how many of the IVF probe's top-5 (op69 configuration) are
    * TRUE top-5 under the exact brute-force scorer — the eval every
    * serving deployment runs before trusting an index. recall_bp =
    * hits·10⁴/5 (exact integers). Scale protocol: ground truth is
    * brute force over a SMALL query sample × corpus (the standard
    * recall measurement — the sample is the knob, here vec_id < 8);
    * the candidate side is the partition-pruned probe. */
  val op110AnnRecall: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 8)
    val truth = Similarity.bruteForceTopK(queries, emb, 5)
      .select(col("q_id"), col("n_id"))
    // the probe under eval hits op84's shared prebuilt index (probe ≡
    // end-to-end, so the oracle's full replay is unchanged) — recall
    // eval is a read of the serving index, not a training run
    val ivfDir = IndexStore.indexRoot(d, "ivf_c16_l2")
    IndexStore.buildIndexIfAbsent(ivfDir, "cells")(
      Similarity.ivfIndexWrite(emb, _, nCells = 16, lloydIters = 2))
    val ann = Similarity.ivfProbe(queries, ivfDir, 5, nProbe = 4)
      .select(col("q_id"), col("n_id"))
    // ground truth and hit counts are bounded by sample-size x k —
    // broadcast so no plan ever sorts a probe output to join 40 rows
    val hits = ann.join(broadcast(truth), Seq("q_id", "n_id"))
      .groupBy(col("q_id")).agg(big(count(lit(1))).as("n_hits"))
    ordered(
      queries.select(col("vec_id").as("q_id"))
        .join(broadcast(hits), Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) * 2000L).as("recall_bp")),
      "q_id")
  }

  /** op288: kNN-graph construction by NN-Descent
    * ([[graft.functions.Similarity.nnDescent]]) — the linear-cost
    * kNN-graph build (candidates only ever reach through the current
    * graph, never all-pairs) that feeds semantic-dedup clustering and
    * graph-based ANN at corpus scale. Every step is deterministic
    * (LCG-permutation init on the dense-id contract, exact
    * integer cosine, id tiebreaks, lowest-id reverse cap), so the
    * oracle replays all three rounds exactly — the graph is hash-gated, not just
    * recall-gated. */
  val op288NnDescent: Q = (s, d) =>
    ordered(Similarity.nnDescent(Tables.embeddings(s, d),
        k = 16, rounds = 3, capR = 16),
      "u_id", "rank")

  /** op289: the op110 recall protocol applied to the op288 graph —
    * per sampled node, how many of its 16 NN-Descent neighbors are TRUE
    * top-16 under the exact scorer (recall_bp = hits·10⁴/16). The
    * standing quality gate a production kNN-graph build publishes next
    * to the artifact: ground truth over a small query sample × corpus,
    * the graph side read as built. */
  val op289NndRecall: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 8)
    val truth = Similarity.bruteForceTopK(queries, emb, 16)
      .select(col("q_id"), col("n_id"))
    val graph = Similarity.nnDescent(emb, k = 16, rounds = 3, capR = 16)
      .filter(col("u_id") < 8)
      .select(col("u_id").as("q_id"), col("n_id"))
    val hits = graph.join(broadcast(truth), Seq("q_id", "n_id"))
      .groupBy(col("q_id")).agg(big(count(lit(1))).as("n_hits"))
    ordered(
      queries.select(col("vec_id").as("q_id"))
        .join(broadcast(hits), Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) * 625L).as("recall_bp")),
      "q_id")
  }

  /** op290: graph-based ANN serving — beam search over the op288
    * NN-Descent graph ([[graft.functions.Similarity.graphSearch]]),
    * the NSW-style query path that completes the graph-ANN story:
    * op288 builds the artifact, op289 gates its quality, op290 serves
    * from it without ever consulting brute force. Deterministic end to
    * end (LCG entry set — the reproducible spelling of NSW's random
    * entry — exact integer cosine, id tiebreaks), so the oracle
    * replays the graph build AND the search hop by hop: the served
    * top-k is hash-gated, not just recall-gated. */
  val op290GraphAnn: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    ordered(Similarity.graphSearch(emb,
        Similarity.nnDescent(emb, k = 16, rounds = 3, capR = 16),
        nQueries = 8, beam = 12, hops = 3, kOut = 8),
      "q_id", "rank")
  }

  /** op292: STREAMING graph-ANN serving — [[graft.streaming
    * .StreamingAnn.graphProbeStream]] over the persisted NN-Descent
    * index, drained the standard way. The whole NSW beam walk is one
    * map-side expression per query row (GraphBeamTopK, bit-identical
    * to op290's batch search), so the serving plan is
    * project + explode + the one stateful TopKAgg — same collapse that
    * bought the SQ8 leg its 2×. Stream ≡ batch: shares op290's oracle
    * verbatim (build replayed edge by edge, search hop by hop). */
  val op292StreamGraphAnn: Q = (s, d) => {
    import graft.streaming.StreamingAnn
    val emb = Tables.embeddings(s, d)
    val dir = IndexStore.indexRoot(d, "nnd_k16_r3")
    IndexStore.buildIndexIfAbsent(dir, "graph")(
      Similarity.nndIndexWrite(emb, _, k = 16, rounds = 3, capR = 16))
    ordered(StreamingAnn.explodeTopK(
        drainQueryVecStream(s, d, "op292",
          StreamingAnn.graphProbeStream(_, dir, 8, beam = 12, hops = 3))),
      "q_id", "rank")
  }

  /** Build-if-absent both layers of the HNSW index: the op290/op292
    * NND base graph (shared store — op296/op297 reuse it, the
    * amortization EVERY graph-ANN leg rides) plus the
    * [[graft.functions.Similarity.hnswUpperWrite]] upper layer. */
  private def hnswStores(s: SparkSession, d: String): (String, String) = {
    val emb = Tables.embeddings(s, d)
    val baseDir = IndexStore.indexRoot(d, "nnd_k16_r3")
    IndexStore.buildIndexIfAbsent(baseDir, "graph")(
      Similarity.nndIndexWrite(emb, _, k = 16, rounds = 3, capR = 16))
    val upDir = IndexStore.indexRoot(d, "hnsw_up_m8_k8_r2")
    IndexStore.buildIndexIfAbsent(upDir, "upper_graph")(
      Similarity.hnswUpperWrite(emb, _, mod = 8, k = 8, rounds = 2,
        capR = 8))
    (baseDir, upDir)
  }

  /** op296: HNSW-style two-layer ANN search
    * ([[graft.functions.Similarity.hnswSearch]]) — the layer-stack
    * escalation op290's scaladoc names, made executable: a 2-hop walk
    * over the SPARSE 1-in-8 upper layer finds query-adjacent entries,
    * then the level-0 walk runs with ONE FEWER hop than op290 (2 vs 3)
    * from those entries instead of the LCG permutation. Both layers
    * serve from the persisted store (the base graph is op292's,
    * shared); fully deterministic, so the oracle replays both builds
    * and both walks and the served top-k is hash-gated. HnswSpec pins
    * the recall story (upper entries ≥ LCG entries at the same level-0
    * hop budget). */
  val op296HnswAnn: Q = (s, d) => {
    val (baseDir, upDir) = hnswStores(s, d)
    ordered(Similarity.hnswSearch(Tables.embeddings(s, d),
        s.read.parquet(s"$baseDir/graph"),
        s.read.parquet(s"$upDir/level1_map"),
        s.read.parquet(s"$upDir/upper_graph"),
        nQueries = 8, upperBeam = 8, upperHops = 2,
        beam = 12, hops = 2, kOut = 8),
      "q_id", "rank")
  }

  /** op297: STREAMING HNSW serving — [[graft.streaming.StreamingAnn
    * .hnswProbeStream]]: the upper walk AND the level-0 walk run inside
    * the one map-side GraphBeamTopK evaluation (the upper layer rides
    * in the same broadcast shard — +12.5% ids/edges, zero extra
    * vectors). Stream ≡ batch bit-identical: shares op296's oracle
    * verbatim. */
  val op297StreamHnsw: Q = (s, d) => {
    import graft.streaming.StreamingAnn
    val (baseDir, upDir) = hnswStores(s, d)
    ordered(StreamingAnn.explodeTopK(
        drainQueryVecStream(s, d, "op297",
          StreamingAnn.hnswProbeStream(_, baseDir, upDir, 8,
            upperBeam = 8, upperHops = 2, beam = 12, hops = 2))),
      "q_id", "rank")
  }

  /** op303: leading principal direction of the embedding corpus —
    * distributed Gram-matrix accumulation + deterministic integer
    * power iteration, the PCA-lite an embedding-quality dashboard runs
    * (a dominant direction with outsized mass = anisotropic embeddings,
    * the classic representation-collapse smell). Everything is exact
    * integers, so the oracle replays it bit for bit:
    *   - components quantize at floor(x·10³) (coarser than the cosine
    *     scorers' 10⁶ ON PURPOSE — the overflow headroom below);
    *   - gram(i,j) = Σ_v q(v,i)·q(v,j), ONE self-join-by-vector +
    *     hash aggregate: N·d² products folding into d² = 4096 cells
    *     (map-side partial — the standard distributed PCA step; at
    *     100 TB this is the only corpus-sized stage, and its output is
    *     metadata);
    *   - 3 power-iteration steps over the 4096-cell gram table, each a
    *     d²-row join + per-row rescale: y = G·x, then x' = y scaled
    *     back to ~10⁶ by s = max(max|y| div 10⁶, 1). The rescale
    *     divides MAGNITUDES and reapplies the sign, so truncation
    *     direction is engine-independent.
    *
    * Overflow bounds (the BIGINT-safety argument, and why 10³): |q| ≤
    * 10³ ⇒ |gram| ≤ N·10⁶, and the rescale pins |x| < 2·10⁶ every
    * step so the power-step bound |y| ≤ d·max|gram|·max|x| ≤
    * 64·(N·10⁶)·(2·10⁶) is per-step, not compounding. That worst case
    * crosses Long.MaxValue (9.2·10¹⁸) near N ≈ 7.2·10⁴ — the margin
    * is a CORPUS property, not a constant (at sf0.1's N = 2·10³ it is
    * 35×; a 10⁵-row corpus has none). Spark's non-ANSI sum wraps
    * silently, so the query GUARDS the step at runtime: the tight
    * row-mass bound max_i Σ_j |gram(i,j)| must stay ≤ Long.Max/2·10⁶,
    * else raise_error — past the gate, re-quantize coarser (10²) or
    * escalate the step to DECIMAL(38) (the op268 rule). Emits (dim,
    * pc1, second_moment): the dominant direction in the final x scale
    * plus the per-dimension diagonal mass. */
  /** The quantize-at-10³ Gram of an embedding frame: (i, j, c) with
    * c = Σ_v q(v,i)·q(v,j) — op303's corpus-sized stage, factored so
    * op305 builds it for the pinned reference slice too. Bounds:
    * |qv·qw| ≤ 10⁶ per element ⇒ the gram sum stays inside BIGINT
    * until N ≈ 9·10¹² — never the binding constraint; the power step
    * binds first (op303's scaladoc argument). */
  private def pcaGram(emb: DataFrame): DataFrame = {
    val q = emb
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("bigint").as("i"),
        floor(col("col").cast("double") * lit(1000d))
          .cast("bigint").as("qv"))
    q.join(q.select(col("vec_id"), col("i").as("j"),
        col("qv").as("qw")), "vec_id")
      .groupBy(col("i"), col("j")).agg(sum(col("qv") * col("qw")).as("c"))
  }

  /** op303's guarded 3-step integer power iteration over a
    * (i, j, c) gram table (pass it checkpointed — each step re-reads
    * it). Returns (i, x), the dominant direction in the final ~10⁶
    * scale. The runtime overflow gate: the power step is safe iff
    * max_i Σ_j |gram(i,j)| ≤ Long.Max / max|x|; the naive worst case
    * 64·N·10⁶·2·10⁶ crosses BIGINT near N ≈ 7.2·10⁴, so the check is
    * a 1-row scalar folded into the first step's lineage, not a
    * comment. g = 0 on the safe path — values untouched. */
  private def powerIterate(s: SparkSession, gram: DataFrame,
      tag: String): DataFrame = {
    val guard = gram.groupBy(col("i")).agg(sum(abs(col("c"))).as("rs"))
      .agg(max(col("rs")).as("mrs"))
      .select(when(col("mrs") > lit(Long.MaxValue / 2000000L),
        raise_error(concat(lit(s"$tag: gram row mass "), col("mrs"),
          lit(" overflows the BIGINT power step — re-quantize coarser " +
            "or escalate to DECIMAL(38)"))).cast("bigint"))
        .otherwise(lit(0L)).as("g"))
    var x = s.range(64).crossJoin(guard)
      .select(col("id").as("i"), (lit(1000000L) + col("g")).as("x"))
    (1 to 3).foreach { _ =>
      // bounds: |c·x| ≤ rowmass·max|x|, runtime-gated above to fit
      // BIGINT (at sf0.1: 64·2·10⁹·2·10⁶ ≈ 2.6·10¹⁷, 35× margin)
      val y = gram.join(x.select(col("i").as("j"), col("x")), "j")
        .groupBy(col("i")).agg(sum(col("c") * col("x")).as("y"))
      val sc = y.agg(greatest(expr("max(abs(y)) div 1000000"), lit(1L))
        .as("s"))
      x = y.crossJoin(sc)
        .select(col("i"),
          when(col("y") < 0, -expr("(-y) div s"))
            .otherwise(expr("y div s")).as("x"))
        .localCheckpoint()
    }
    x
  }

  val op303PcaPower: Q = (s, d) => {
    val gram = pcaGram(Tables.embeddings(s, d)).localCheckpoint()
    val x = powerIterate(s, gram, "op303")
    ordered(
      x.join(gram.filter(col("i") === col("j"))
          .select(col("i"), col("c").as("second_moment")), "i")
        .select(col("i").as("dim"), col("x").as("pc1"),
          col("second_moment")),
      "dim")
  }

  /** op304: STREAMING second-moment (Gram) maintenance — the online
    * half of op303 (the op169/op193 stream ≡ batch pattern applied to
    * the spectral probe): arriving embeddings fold into the d² = 4096
    * Gram cells through ONE streaming aggregation; the offline power
    * iteration (op303) reads the maintained state. Per arriving vector
    * the stateless stage emits its d² quantized products via two
    * chained posexplodes (no self-join — a stream cannot join itself),
    * then groupBy(i, j) sums them: integer addition is associative, so
    * cross-trigger folding is exact and the maintained matrix equals
    * the batch gram bit for bit — the oracle is op303's gram CTE
    * emitted as cells. State is d² counters regardless of corpus size.
    * Overflow bounds: the maintained cell is op303's gram sum —
    * |qv·qw| ≤ 10⁶ per element, BIGINT-safe until N ≈ 9·10¹² vectors
    * (the gram ACCUMULATION is never the binding constraint; op303's
    * POWER STEP binds first at N ≈ 7.2·10⁴ and is runtime-gated
    * there). */
  /** op304's stateless-then-stateful pipe: per arriving vector emit
    * its d² quantized products via two chained posexplodes (no
    * self-join — a stream cannot join itself), then groupBy(i, j)
    * sums them (factored so op305 runs it on its filtered arrivals). */
  private def streamedGram(st: DataFrame): DataFrame = {
    val q3 = st.select(
      transform(col("embedding"), x =>
        floor(x.cast("double") * lit(1000d)).cast("bigint")).as("q3"))
    q3.select(col("q3"), posexplode(col("q3")))
      .select(col("q3"), col("pos").cast("bigint").as("i"),
        col("col").as("qi"))
      .select(col("i"), col("qi"), posexplode(col("q3")))
      .select(col("i"), col("pos").cast("bigint").as("j"),
        // bounds: |qi·qj| ≤ 10⁶ ⇒ the cell sum is BIGINT-safe to
        // N ≈ 9·10¹² vectors (op303's scaladoc argument)
        (col("qi") * col("col")).as("p"))
      .groupBy(col("i"), col("j")).agg(sum(col("p")).as("c"))
  }

  val op304StreamGram: Q = (s, d) => {
    val drained = Drain.files(s, d, "op304", "embeddings",
      "complete", Drain.width("8"))(streamedGram)
    ordered(drained.select(col("i"), col("j"), col("c")), "i", "j")
  }

  /** op305: STREAMING spectral drift — the serving half of the
    * op303/op304 pair, the op193/op247 drift-gate shape applied to
    * representation collapse: a PINNED reference slice (even vec_ids —
    * by snapshot date in production) yields pc1_ref offline via
    * op303's guarded power iteration; the CURRENT slice (odd vec_ids)
    * ARRIVES online and folds into op304's maintained d²-cell Gram;
    * per trigger the power step re-runs on the maintained state and
    * the gate compares the two directions with the deterministic bp
    * cosine, alerting when pc1 has rotated past the threshold
    * (cos_bp < 9000 ⇒ drifted — an encoder upgrade or collapse moves
    * the dominant direction long before scalar metrics react; the
    * diagonal traces ride along for the dashboards). Integer Gram
    * maintenance is exact (op304's argument), so the drained state
    * equals the batch gram of the same slice bit for bit and the
    * whole gate replays in the oracle. Dot bounds: |x| < 2·10⁶ per
    * component ⇒ Σ₆₄ x_r·x_c ≤ 2.6·10¹⁴ — BIGINT-safe
    * unconditionally.
    *
    * 100 TB shape: the reference leg is one offline gram (paid once
    * per snapshot pin); the online leg's state is d² counters
    * regardless of arrival volume; the power step + cosine run on
    * d²-row metadata. Nothing downstream of the two grams is
    * corpus-sized. */
  val op305StreamSpectralDrift: Q = (s, d) => {
    val ref = pcaGram(Tables.embeddings(s, d)
      .where(col("vec_id") % 2 === 0)).localCheckpoint()
    val cur = Drain.files(s, d, "op305", "embeddings",
        "complete", Drain.width("8")) { st =>
        streamedGram(st.where(col("vec_id") % 2 === 1))
      }.localCheckpoint()
    val xr = powerIterate(s, ref, "op305").select(col("i"), col("x").as("xr"))
    val xc = powerIterate(s, cur, "op305").select(col("i"), col("x").as("xc"))
    val tr = ref.filter(col("i") === col("j")).agg(sum("c").as("trace_ref"))
    val tc = cur.filter(col("i") === col("j")).agg(sum("c").as("trace_cur"))
    ordered(
      xr.join(xc, "i")
        .agg(sum(expr("xr * xc")).as("dot"),
          sum(expr("xr * xr")).as("n2r"),
          sum(expr("xc * xc")).as("n2c"))
        .crossJoin(tr).crossJoin(tc)
        .select(
          Similarity.cosBpFrom(col("dot"), col("n2r"), col("n2c"))
            .as("cos_bp"),
          col("trace_ref"), col("trace_cur"))
        .select(col("cos_bp"),
          when(col("cos_bp") < 9000L, 1L).otherwise(0L).as("drifted"),
          big(col("trace_ref")).as("trace_ref"),
          big(col("trace_cur")).as("trace_cur")),
      "cos_bp")
  }

  /** op314: embedding kNN-classifier eval — leave-one-out majority
    * vote over the exact top-5 neighbors for a 64-query sample: the
    * standard probe of whether an embedding space SEPARATES its
    * labels (linear-probe-lite; the eval that catches an encoder
    * regression before any downstream model does). Neighbors come
    * from the op67 brute scorer (quantized integer cosine — the
    * hash-exact ground truth), the vote through [[ModeAgg]] (most
    * frequent label, ties to the smallest — exactly the oracle's
    * (count desc, label asc) pick).
    *
    * 100 TB shape: the op110 recall protocol — ground truth over a
    * SMALL query sample × corpus; a deployment swaps the brute leg
    * for any served ANN leg (op69/op83/op290…) and keeps the same
    * k-bounded vote + join, which never touch corpus-sized state. */
  val op314KnnClassify: Q = (s, d) => {
    import graft.functions.ModeAgg
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 64)
    val voted = Similarity.bruteForceTopK(queries, emb, 5)
      .join(emb.select(col("vec_id").as("n_id"),
        col("label").cast("bigint").as("n_label")), "n_id")
      .groupBy("q_id").agg(ModeAgg.mode(col("n_label")).as("m"))
    ordered(
      queries.select(col("vec_id").as("q_id"),
          col("label").cast("bigint").as("true_label"))
        .join(voted, "q_id")
        .select(col("q_id"), col("true_label"),
          big(col("m.value")).as("pred_label"),
          big(col("m.votes")).as("votes"),
          when(col("m.value") === col("true_label"), 1L).otherwise(0L)
            .as("correct")),
      "q_id")
  }

  /** op237: Matryoshka (truncated-dimension) retrieval eval — recall@5
    * of brute-force search over the FIRST 16 of 64 dims against the
    * full-dim exact top-5. MRL-style nested embeddings are trained so
    * any prefix is a usable sub-embedding; this measures what the 4×
    * cheaper prefix scorer costs in retrieval quality — the eval that
    * decides whether the serving tier can store/scan short prefixes
    * and rerank with full vectors. Both legs ride the op67 brute
    * scorer (quantized integer dot + deterministic bp cosine), so the
    * whole eval is hash-exact.
    *
    * 100 TB shape: the op110 recall protocol — ground truth over a
    * SMALL query sample × corpus; the prefix leg scans 1/4 the bytes
    * per vector (at scale: a separate short-prefix column pruned at
    * the parquet scan). Hit counting is sample×k-bounded, broadcast. */
  val op237MatryoshkaRecall: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 8)
    val truth = Similarity.bruteForceTopK(queries, emb, 5)
      .select(col("q_id"), col("n_id"))
    def trunc(df: DataFrame): DataFrame =
      df.withColumn("embedding", slice(col("embedding"), 1, 16))
    val approx = Similarity.bruteForceTopK(trunc(queries), trunc(emb), 5)
      .select(col("q_id"), col("n_id"))
    val hits = approx.join(broadcast(truth), Seq("q_id", "n_id"))
      .groupBy(col("q_id")).agg(big(count(lit(1))).as("n_hits"))
    ordered(
      queries.select(col("vec_id").as("q_id"))
        .join(broadcast(hits), Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) * 2000L).as("recall_bp")),
      "q_id")
  }

  /** Serving-matrix recall report (op121): recall@5 vs exact brute
    * force for every cell-pruned serving leg — IVF-flat, IVF-SQ8,
    * IVF-PQ — per query in one result: the eval a deployment runs to
    * pick a leg's speed/recall point (op110 generalized across the
    * matrix; the LSH and PQ-flat legs keep their own recall specs).
    * Probes run against the SAME prebuilt indexes op84/op115/op119
    * serve (bit-exact vs end-to-end), so the measured cost is
    * probe-only. The oracle fuses the brute replay with all three
    * approximate replays in ONE SQL — the three chains share the IVF
    * cell CTEs. */
  val op121RecallMatrix: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 8)
    val ivfDir = IndexStore.indexRoot(d, "ivf_c16_l2")
    IndexStore.buildIndexIfAbsent(ivfDir, "cells")(
      Similarity.ivfIndexWrite(emb, _, nCells = 16, lloydIters = 2))
    val sq8Dir = IndexStore.indexRoot(d, "sq8_c16_l2")
    IndexStore.buildIndexIfAbsent(sq8Dir, "vectors")(
      Similarity.sq8IndexWrite(emb, _, nCells = 16, lloydIters = 2))
    val ivfPqDir = IndexStore.indexRoot(d, "ivfpq_c16_l2_m8")
    IndexStore.buildIndexIfAbsent(ivfPqDir, "vectors")(
      Similarity.ivfPqIndexWrite(emb, _, nCells = 16, ivfLloyd = 2,
        m = 8, nCents = 16, pqLloyd = 1))
    // ground truth feeds all three hit-joins — materialize once
    val truth = Similarity.bruteForceTopK(queries, emb, 5)
      .select(col("q_id"), col("n_id")).localCheckpoint()
    val legs = Seq(
      "ivf" -> Similarity.ivfProbe(queries, ivfDir, 5, nProbe = 4),
      "ivfpq" -> Similarity.ivfPqProbe(queries, ivfPqDir, 5, nProbe = 4),
      "sq8" -> Similarity.sq8Probe(queries, sq8Dir, 5, nProbe = 4))
    val perLeg = legs.map { case (leg, df) =>
      val hits = df.select(col("q_id"), col("n_id"))
        .join(broadcast(truth), Seq("q_id", "n_id"))
        .groupBy(col("q_id")).agg(big(count(lit(1))).as("n_hits"))
      queries.select(col("vec_id").as("q_id"))
        .join(broadcast(hits), Seq("q_id"), "left")
        .select(lit(leg).as("leg"), col("q_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)) * 2000L).as("recall_bp"))
    }
    ordered(perLeg.reduce(_ unionByName _), "leg", "q_id")
  }

  /** Shared DuckDB replay of the integer-Lloyd IVF machinery (op69 and
    * op93): assignment = argmax of the FLOORED bigint cosine (matching
    * Spark's max_by on cosBpFrom output — comparing unfloored doubles
    * would break ties differently), means = per-position trunc-toward-
    * zero division (DuckDB CAST(double AS BIGINT) rounds; Spark's cast
    * truncates — trunc() bridges), empty cells keep their previous
    * centroid. [[ivfCellCtes]] ends at `cc` = the corpus with its
    * nearest post-refinement cell. */
  private[queries] val ivfCosTo = (vecA: String, n2A: String, vecB: String, n2B: String) =>
    s"""CASE WHEN $n2A = 0 OR $n2B = 0 THEN CAST(0 AS BIGINT)
      |ELSE CAST(floor(CAST(list_sum([$vecA[i+1] * $vecB[i+1] FOR i IN range(64)]) AS DOUBLE)
      |     / (sqrt(CAST($n2A AS DOUBLE)) * sqrt(CAST($n2B AS DOUBLE))) * 10000) AS BIGINT) END"""
      .stripMargin.replace("\n", " ")

  /** op69's full IVF-probe replay (4-cell probe, exact within-cell
    * rescoring, top-5) with an optional [lo, hi) cos_bp band applied
    * before ranking — `None` IS op69's oracle; op109 (hard-negative
    * mining) passes its band. */
  private def ivfProbeSql(band: Option[(Long, Long)]): String = {
    val cosTo = ivfCosTo
    val bandSql = band.fold("") { case (lo, hi) =>
      s" AND b.cos_bp >= $lo AND b.cos_bp < $hi" }
    s"""WITH $ivfCellCtes,
      |qc AS (
      |  SELECT vec_id AS q_id, v AS q_vec, n2 AS q_n2, cent_id FROM (
      |    SELECT nn.vec_id, nn.v, nn.n2, ct.cent_id,
      |           row_number() OVER (PARTITION BY nn.vec_id ORDER BY
      |             ${cosTo("nn.v", "nn.n2", "ct.cent_vec", "ct.cent_n2")} DESC,
      |             ct.cent_id) AS rn
      |    FROM n nn, c2 ct WHERE nn.vec_id < 8) WHERE rn <= 4),
      |scored AS (
      |  SELECT qc.q_id, cc.n_id,
      |         ${cosTo("qc.q_vec", "qc.q_n2", "cc.n_vec", "cc.n_n2")} AS cos_bp
      |  FROM cc JOIN qc ON cc.cent_id = qc.cent_id AND qc.q_id <> cc.n_id)
      |SELECT q_id, n_id, cos_bp, rank FROM (
      |  SELECT b.q_id, b.n_id, b.cos_bp,
      |         CAST(row_number() OVER (PARTITION BY b.q_id ORDER BY b.cos_bp DESC, b.n_id) AS BIGINT) AS rank
      |  FROM scored b WHERE 1=1$bandSql)
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  private[queries] lazy val ivfCellCtes: String = {
    val sumCols = (0 until 64).map(i => s"sum(v[${i + 1}]) AS s$i")
      .mkString(", ")
    val meanList = (0 until 64).map(i =>
      s"CAST(trunc(CAST(s$i AS DOUBLE) / cnt) AS BIGINT)").mkString("[", ", ", "]")
    def lloydIter(prev: String, cur: String) =
      s"""a$cur AS (
        |  SELECT vec_id, v, cent_id FROM (
        |    SELECT nn.vec_id, nn.v, ct.cent_id,
        |           row_number() OVER (PARTITION BY nn.vec_id ORDER BY
        |             ${ivfCosTo("nn.v", "nn.n2", "ct.cent_vec", "ct.cent_n2")} DESC,
        |             ct.cent_id) AS rn
        |    FROM n nn, $prev ct) WHERE rn = 1),
        |m$cur AS (SELECT cent_id, count(*) AS cnt, $sumCols FROM a$cur GROUP BY cent_id),
        |mm$cur AS (SELECT cent_id, $meanList AS cent_vec FROM m$cur),
        |$cur AS (
        |  SELECT cent_id, cent_vec,
        |         CAST(list_sum([cent_vec[i+1] * cent_vec[i+1] FOR i IN range(64)]) AS BIGINT) AS cent_n2
        |  FROM mm$cur
        |  UNION ALL
        |  SELECT cent_id, cent_vec, cent_n2 FROM $prev
        |  WHERE cent_id NOT IN (SELECT cent_id FROM mm$cur))""".stripMargin
    s"""q0 AS (
      |  SELECT vec_id,
      |         [CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
      |          FOR i IN range(64)] AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        CAST(list_sum([v[i+1] * v[i+1] FOR i IN range(64)]) AS BIGINT) AS n2
      |      FROM q0),
      |c0 AS (SELECT vec_id AS cent_id, v AS cent_vec, n2 AS cent_n2
      |       FROM n ORDER BY vec_id LIMIT 16),
      |${lloydIter("c0", "c1")},
      |${lloydIter("c1", "c2")},
      |cc AS (
      |  SELECT vec_id AS n_id, v AS n_vec, n2 AS n_n2, cent_id FROM (
      |    SELECT nn.vec_id, nn.v, nn.n2, ct.cent_id,
      |           row_number() OVER (PARTITION BY nn.vec_id ORDER BY
      |             ${ivfCosTo("nn.v", "nn.n2", "ct.cent_vec", "ct.cent_n2")} DESC,
      |             ct.cent_id) AS rn
      |    FROM n nn, c2 ct) WHERE rn = 1)""".stripMargin
  }

  /** Shared DuckDB replay of the PQ machinery through the ADC
    * approximate distances — exact replay of normalize + subspace Lloyd
    * + ADC: unit-normalize in integers (floor(v·1e6/‖v‖) from identical
    * integer sums — IEEE-exact), slice 8 subspaces, one unrolled Lloyd
    * pass per subspace (argmin of integer L2², trunc-division means),
    * per-(query, vector) summed partial distances. op83/op85 continue
    * with the 50-wide shortlist + exact rerank on the raw quantized
    * vectors; op100 (the streaming ADC probe, which cannot rerank)
    * stops at `approx`. Ends with CTEs `n` (raw quantized + norms) and
    * `approx` (q_id, vec_id, d2). */
  private lazy val pqAdcCtes: String =
    s"""q0 AS (
      |  SELECT vec_id,
      |         [CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
      |          FOR i IN range(64)] AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        CAST(list_sum([v[i+1] * v[i+1] FOR i IN range(64)]) AS BIGINT) AS n2
      |      FROM q0),
      |${pqAdcCtesFromN("")}""".stripMargin

  /** The PQ replay's CTE chain FROM the shared quantized table `n`
    * (normalize → subspace slices → one Lloyd pass → codes → ADC →
    * `${p}approx`), every CTE name prefixed with `p` so the chain can
    * compose with [[ivfCellCtes]] (which owns q0/n and its own c0/c1
    * names) in the IVF-PQ oracles. [[pqAdcCtes]] is the standalone
    * spelling with prefix "" and its own q0/n. */
  private def pqAdcCtesFromN(p: String): String = {
    val dot8 = (a: String, b: String) =>
      s"CAST(list_sum([$a[i+1] * $b[i+1] FOR i IN range(8)]) AS BIGINT)"
    val subSelects = (0 until 8).map { j =>
      s"SELECT vec_id, $j AS sub_j, nv[${j * 8 + 1}:${j * 8 + 8}] AS svec FROM ${p}norm"
    }.mkString("\n|  UNION ALL ")
    val sumCols8 = (0 until 8).map(i => s"sum(svec[${i + 1}]) AS s$i")
      .mkString(", ")
    val meanList8 = (0 until 8).map(i =>
      s"CAST(trunc(CAST(s$i AS DOUBLE) / cnt) AS BIGINT)").mkString("[", ", ", "]")
    s"""${p}norm AS (
      |  SELECT vec_id,
      |         CASE WHEN n2 = 0 THEN v
      |              ELSE [CAST(floor(CAST(v[i+1] AS DOUBLE) * 1000000
      |                         / sqrt(CAST(n2 AS DOUBLE))) AS BIGINT)
      |                    FOR i IN range(64)] END AS nv
      |  FROM n),
      |${p}sub0 AS (
      |  $subSelects),
      |${p}sub AS (SELECT vec_id, sub_j, svec,
      |          CAST(list_sum([svec[i+1] * svec[i+1] FOR i IN range(8)]) AS BIGINT) AS s2
      |        FROM ${p}sub0),
      |${p}c0 AS (
      |  SELECT sub_j,
      |         CAST(row_number() OVER (PARTITION BY sub_j ORDER BY vec_id) - 1 AS BIGINT) AS code,
      |         svec AS cent_vec, s2 AS cent_n2
      |  FROM ${p}sub
      |  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
      |${p}a1 AS (
      |  SELECT vec_id, sub_j, svec, code FROM (
      |    SELECT s.vec_id, s.sub_j, s.svec, ct.code,
      |           row_number() OVER (PARTITION BY s.vec_id, s.sub_j ORDER BY
      |             s.s2 - 2 * ${dot8("s.svec", "ct.cent_vec")} + ct.cent_n2,
      |             ct.code) AS rn
      |    FROM ${p}sub s JOIN ${p}c0 ct ON s.sub_j = ct.sub_j) WHERE rn = 1),
      |${p}m1 AS (SELECT sub_j, code, count(*) AS cnt, $sumCols8 FROM ${p}a1 GROUP BY sub_j, code),
      |${p}mm1 AS (SELECT sub_j, code, $meanList8 AS cent_vec FROM ${p}m1),
      |${p}c1 AS (
      |  SELECT sub_j, code, cent_vec,
      |         CAST(list_sum([cent_vec[i+1] * cent_vec[i+1] FOR i IN range(8)]) AS BIGINT) AS cent_n2
      |  FROM ${p}mm1
      |  UNION ALL
      |  SELECT c0.sub_j, c0.code, c0.cent_vec, c0.cent_n2 FROM ${p}c0 c0
      |  WHERE NOT EXISTS (SELECT 1 FROM ${p}mm1 mm1
      |                    WHERE mm1.sub_j = c0.sub_j AND mm1.code = c0.code)),
      |${p}codes AS (
      |  SELECT vec_id, sub_j, code FROM (
      |    SELECT s.vec_id, s.sub_j, ct.code,
      |           row_number() OVER (PARTITION BY s.vec_id, s.sub_j ORDER BY
      |             s.s2 - 2 * ${dot8("s.svec", "ct.cent_vec")} + ct.cent_n2,
      |             ct.code) AS rn
      |    FROM ${p}sub s JOIN ${p}c1 ct ON s.sub_j = ct.sub_j) WHERE rn = 1),
      |${p}adc AS (
      |  SELECT s.vec_id AS q_id, s.sub_j, ct.code,
      |         s.s2 - 2 * ${dot8("s.svec", "ct.cent_vec")} + ct.cent_n2 AS pd2
      |  FROM ${p}sub s JOIN ${p}c1 ct ON s.sub_j = ct.sub_j
      |  WHERE s.vec_id < 8),
      |${p}approx AS (
      |  SELECT adc.q_id, codes.vec_id, CAST(sum(adc.pd2) AS BIGINT) AS d2
      |  FROM ${p}codes codes JOIN ${p}adc adc
      |    ON codes.sub_j = adc.sub_j AND codes.code = adc.code
      |  WHERE adc.q_id <> codes.vec_id
      |  GROUP BY adc.q_id, codes.vec_id)""".stripMargin
  }

  private val knnBruteSql =
    """WITH q AS (
        |  SELECT vec_id,
        |         [CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
        |          FOR i IN range(64)] AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        CAST(list_sum([v[i+1] * v[i+1] FOR i IN range(64)]) AS DOUBLE) AS n2
        |      FROM q),
        |scored AS (
        |  SELECT qs.vec_id AS q_id, cs.vec_id AS n_id,
        |         CASE WHEN qs.n2 = 0 OR cs.n2 = 0 THEN CAST(0 AS BIGINT)
        |              ELSE CAST(floor(CAST(list_sum([qs.v[i+1] * cs.v[i+1] FOR i IN range(64)]) AS DOUBLE)
        |                   / (sqrt(qs.n2) * sqrt(cs.n2)) * 10000) AS BIGINT) END AS cos_bp
        |  FROM n qs, n cs WHERE qs.vec_id < 8 AND qs.vec_id <> cs.vec_id)
        |SELECT q_id, n_id, cos_bp, rank FROM (
        |  SELECT q_id, n_id, cos_bp,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, n_id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** One NN-Descent round as CTEs (`prev` → `cur`) over corpus table
    * `src` (vec_id, v, n2): reverse edges capped at the capR LOWEST
    * source ids, undirected union, neighbor-of-neighbor candidates ∪
    * the current graph, exact-integer rescore, keep-k by
    * (cos_bp DESC, id). Mirrors one loop body of
    * [[graft.functions.Similarity.nnDescent]] clause for clause. */
  private def nndRoundCte(prev: String, cur: String, k: Int,
      capR: Int, src: String): String = {
    val cosTo = ivfCosTo
    s"""${cur}_rev AS (
      |  SELECT u, w FROM (
      |    SELECT g.w AS u, g.u AS w,
      |           row_number() OVER (PARTITION BY g.w ORDER BY g.u) AS rn
      |    FROM $prev g) WHERE rn <= $capR),
      |${cur}_und AS (SELECT u, w FROM $prev UNION SELECT u, w FROM ${cur}_rev),
      |${cur}_cand AS (
      |  SELECT a.u, b.w FROM ${cur}_und a JOIN ${cur}_und b ON a.w = b.u
      |  WHERE a.u <> b.w
      |  UNION SELECT u, w FROM $prev),
      |$cur AS (
      |  SELECT u, w FROM (
      |    SELECT c.u, c.w,
      |           row_number() OVER (PARTITION BY c.u ORDER BY
      |             ${cosTo("a.v", "a.n2", "b.v", "b.n2")} DESC, c.w) AS rk
      |    FROM ${cur}_cand c JOIN $src a ON a.vec_id = c.u
      |                       JOIN $src b ON b.vec_id = c.w)
      |  WHERE rk <= $k)""".stripMargin
  }

  /** The quantized-corpus CTEs every NND replay shares: `q0` (vectors
    * as floor(x·10⁶) BIGINT lists) and `n` (vec_id, v, n2). */
  private val nndCorpusCtes: String =
    s"""q0 AS (
      |  SELECT vec_id,
      |         [CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
      |          FOR i IN range(64)] AS v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v,
      |        CAST(list_sum([v[i+1] * v[i+1] FOR i IN range(64)]) AS BIGINT) AS n2
      |      FROM q0)""".stripMargin

  /** One full NN-Descent chain over corpus table `src` (vec_id must be
    * dense 0..N-1): LCG-permutation init (pure arithmetic on the
    * dense-id contract, exactly Spark's `pmod(vec_id*48271 + j*1299721,
    * N)` with the self hit dropped) + `rounds` unrolled
    * [[nndRoundCte]] rounds. Ends at CTE `<pfx><rounds>` = the final
    * (u, w) graph. The prefix keeps TWO chains composable in one
    * replay — [[hnswAnnSql]] runs a base chain and an upper-layer
    * chain side by side. */
  private def nndChain(pfx: String, src: String, k: Int, rounds: Int,
      capR: Int): String = {
    val init = s"""${pfx}0 AS (
      |  SELECT u, w FROM (
      |    SELECT s.vec_id AS u,
      |           (s.vec_id * 48271 + t.j * 1299721)
      |             % (SELECT count(*) FROM $src) AS w
      |    FROM $src s, range(1, ${k + 1}) t(j)) WHERE w <> u)""".stripMargin
    init + ",\n" + (1 to rounds)
      .map(r => nndRoundCte(s"$pfx${r - 1}", s"$pfx$r", k, capR, src))
      .mkString(",\n")
  }

  /** Full NN-Descent replay over the embeddings table: corpus CTEs +
    * the `g`-prefixed [[nndChain]]. Ends at `g<rounds>`. */
  private def nndCtes(k: Int, rounds: Int, capR: Int): String =
    nndCorpusCtes + ",\n" + nndChain("g", "n", k, rounds, capR)

  private def nndGraphSql(k: Int, rounds: Int, capR: Int): String = {
    val cosTo = ivfCosTo
    s"""WITH ${nndCtes(k, rounds, capR)}
      |SELECT u_id, rank, n_id, cos_bp FROM (
      |  SELECT g.u AS u_id, g.w AS n_id,
      |         ${cosTo("a.v", "a.n2", "b.v", "b.n2")} AS cos_bp,
      |         CAST(row_number() OVER (PARTITION BY g.u ORDER BY
      |           ${cosTo("a.v", "a.n2", "b.v", "b.n2")} DESC, g.w) AS BIGINT) AS rank
      |  FROM g$rounds g JOIN n a ON a.vec_id = g.u
      |                  JOIN n b ON b.vec_id = g.w)
      |ORDER BY u_id, rank""".stripMargin
  }

  private def nndRecallSql(k: Int, rounds: Int, capR: Int): String = {
    val cosTo = ivfCosTo
    s"""WITH ${nndCtes(k, rounds, capR)},
      |truth AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT qs.vec_id AS q_id, cs.vec_id AS n_id,
      |           row_number() OVER (PARTITION BY qs.vec_id ORDER BY
      |             ${cosTo("qs.v", "qs.n2", "cs.v", "cs.n2")} DESC, cs.vec_id) AS rk
      |    FROM n qs, n cs WHERE qs.vec_id < 8 AND qs.vec_id <> cs.vec_id)
      |  WHERE rk <= $k),
      |hits AS (
      |  SELECT g.u AS q_id, CAST(count(*) AS BIGINT) AS n_hits
      |  FROM g$rounds g JOIN truth t ON t.q_id = g.u AND t.n_id = g.w
      |  WHERE g.u < 8 GROUP BY g.u)
      |SELECT q.vec_id AS q_id,
      |       COALESCE(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
      |       COALESCE(h.n_hits, CAST(0 AS BIGINT)) * ${10000 / k} AS recall_bp
      |FROM n q LEFT JOIN hits h ON h.q_id = q.vec_id
      |WHERE q.vec_id < 8 ORDER BY q_id""".stripMargin
  }

  /** Rescore + keep-`width` as a CTE: deduplicate `src` (q_id, cand),
    * drop self hits, exact-integer rescore vs the query, keep the best
    * `width` by (cos_bp DESC, id) — one beamWalk topBeam step.
    * Candidate vectors always resolve through the FULL corpus `n`
    * (upper-layer candidates are corpus members too). */
  private def beamTopCte(src: String, cur: String, width: Int): String = {
    val cosTo = ivfCosTo
    s"""$cur AS (
      |  SELECT q_id, cand FROM (
      |    SELECT d.q_id, d.cand,
      |           row_number() OVER (PARTITION BY d.q_id ORDER BY
      |             ${cosTo("q.q_vec", "q.q_n2", "c.v", "c.n2")} DESC, d.cand) AS rk
      |    FROM (SELECT DISTINCT q_id, cand FROM $src) d
      |    JOIN qs q ON q.q_id = d.q_id
      |    JOIN n c ON c.vec_id = d.cand
      |    WHERE d.cand <> d.q_id)
      |  WHERE rk <= $width)""".stripMargin
  }

  /** `hops` beam-walk rounds over edge table `graph` (u, w), starting
    * from beam CTE `<pfx>0`: each hop is UNION(beam, beam⋈graph) →
    * [[beamTopCte]] — clause for clause the loop body of
    * [[graft.functions.Similarity.graphSearch]]'s beamWalk. Ends at
    * `<pfx><hops>`. */
  private def beamHopCtes(pfx: String, graph: String, beam: Int,
      hops: Int): String =
    (1 to hops).map { r =>
      s"""${pfx}h$r AS (
        |  SELECT b.q_id, g.w AS cand FROM $pfx${r - 1} b JOIN $graph g ON g.u = b.cand
        |  UNION SELECT q_id, cand FROM $pfx${r - 1}),
        |${beamTopCte(s"${pfx}h$r", s"$pfx$r", beam)}""".stripMargin
    }.mkString(",\n")

  /** Final-beam rescore: the served (q_id, rank, n_id, cos_bp) top-kOut
    * rows from beam CTE `lastBeam`. */
  private def beamOutSql(lastBeam: String, kOut: Int): String = {
    val cosTo = ivfCosTo
    s"""SELECT q_id, rank, n_id, cos_bp FROM (
      |  SELECT b.q_id, b.cand AS n_id,
      |         ${cosTo("q.q_vec", "q.q_n2", "c.v", "c.n2")} AS cos_bp,
      |         CAST(row_number() OVER (PARTITION BY b.q_id ORDER BY
      |           ${cosTo("q.q_vec", "q.q_n2", "c.v", "c.n2")} DESC, b.cand) AS BIGINT) AS rank
      |  FROM $lastBeam b JOIN qs q ON q.q_id = b.q_id JOIN n c ON c.vec_id = b.cand)
      |WHERE rank <= $kOut ORDER BY q_id, rank""".stripMargin
  }

  /** op303's DuckDB replay: quantize at 10³, the same N·d² gram
    * aggregation, and the 3 power-iteration steps unrolled — the
    * magnitude-division-plus-sign spelling keeps truncation direction
    * engine-independent. Overflow bounds as on the query: safe while
    * N ≲ 7.2·10⁴ (the power step's binding constraint — the Spark
    * side gates it at runtime; DuckDB sums in HUGEINT and the CAST
    * back errors on any wrap, so the oracle side self-checks). */
  /** The 3 unrolled power-iteration steps over `<pfx>gram` → `<pfx>x3`
    * — the magnitude-division-plus-sign spelling keeps truncation
    * direction engine-independent. Prefixed so op305 runs two
    * independent chains (reference/current) in one statement. */
  private def powerCtes(pfx: String): String = {
    val iters = (1 to 3).map { r =>
      s"""${pfx}y$r AS (SELECT g.i, CAST(sum(g.c * x.x) AS BIGINT) AS y
         |  FROM ${pfx}gram g JOIN ${pfx}x${r - 1} x ON x.i = g.j GROUP BY 1),
         |${pfx}s$r AS (SELECT CAST(greatest(max(abs(y)) // 1000000, 1) AS BIGINT) AS s
         |  FROM ${pfx}y$r),
         |${pfx}x$r AS MATERIALIZED (
         |  SELECT i, CAST(CASE WHEN y < 0 THEN -((-y) // s) ELSE y // s END
         |    AS BIGINT) AS x
         |  FROM ${pfx}y$r CROSS JOIN ${pfx}s$r)""".stripMargin
    }.mkString(",\n")
    s"""${pfx}x0 AS (SELECT CAST(t.i AS BIGINT) AS i, CAST(1000000 AS BIGINT) AS x
      |       FROM range(64) t(i)),
      |$iters""".stripMargin
  }

  /** op303's DuckDB replay body (see [[powerCtes]]/[[gramCtesFor]]). */
  private def pcaPowerSql: String =
    s"""WITH $gramCtes,
      |${powerCtes("")}
      |SELECT x.i AS dim, CAST(x.x AS BIGINT) AS pc1, g.c AS second_moment
      |FROM x3 x JOIN gram g ON g.i = x.i AND g.j = x.i
      |ORDER BY dim""".stripMargin

  /** The quantize-at-10³ + Gram CTEs op303/op304/op305 share, emitted
    * as `<pfx>q`/`<pfx>gram` over the `whereSql` slice (bounds:
    * |qv·qw| ≤ 10⁶ per element, so the sum fits BIGINT at fixture
    * scale — op303's scaladoc carries the full argument). */
  private def gramCtesFor(pfx: String, whereSql: String): String =
    s"""${pfx}q AS MATERIALIZED (
      |  SELECT vec_id, t.i,
      |         CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 1000) AS BIGINT) AS qv
      |  FROM embeddings, range(64) t(i) WHERE $whereSql),
      |${pfx}gram AS MATERIALIZED (
      |  SELECT a.i AS i, b.i AS j, CAST(sum(a.qv * b.qv) AS BIGINT) AS c
      |  FROM ${pfx}q a JOIN ${pfx}q b ON a.vec_id = b.vec_id GROUP BY 1, 2)""".stripMargin

  private def gramCtes: String = gramCtesFor("", "TRUE")

  /** op305's oracle: both grams replayed over their slices, both
    * power chains unrolled, then the bp cosine + threshold gate —
    * clause for clause the Spark query (the streamed gram ≡ the batch
    * gram of the odd slice is op304's exactness argument). */
  private def spectralDriftSql: String =
    s"""WITH ${gramCtesFor("r", "vec_id % 2 = 0")},
      |${powerCtes("r")},
      |${gramCtesFor("c", "vec_id % 2 = 1")},
      |${powerCtes("c")},
      |dt AS (SELECT CAST(sum(a.x * b.x) AS BIGINT) AS dot,
      |              CAST(sum(a.x * a.x) AS BIGINT) AS n2r,
      |              CAST(sum(b.x * b.x) AS BIGINT) AS n2c
      |       FROM rx3 a JOIN cx3 b ON b.i = a.i),
      |cs AS (SELECT CASE WHEN n2r = 0 OR n2c = 0 THEN CAST(0 AS BIGINT)
      |         ELSE CAST(floor(CAST(dot AS DOUBLE)
      |           / (sqrt(CAST(n2r AS DOUBLE)) * sqrt(CAST(n2c AS DOUBLE)))
      |           * 10000) AS BIGINT) END AS cos_bp FROM dt),
      |tr AS (SELECT CAST(sum(c) AS BIGINT) AS trace_ref FROM rgram WHERE i = j),
      |tc AS (SELECT CAST(sum(c) AS BIGINT) AS trace_cur FROM cgram WHERE i = j)
      |SELECT cos_bp,
      |       CAST(CASE WHEN cos_bp < 9000 THEN 1 ELSE 0 END AS BIGINT) AS drifted,
      |       trace_ref, trace_cur
      |FROM cs CROSS JOIN tr CROSS JOIN tc
      |ORDER BY cos_bp""".stripMargin

  /** op304's oracle: the maintained stream state must equal the batch
    * gram bit for bit — [[gramCtes]] emitted as cells. */
  private def streamGramSql: String =
    s"""WITH $gramCtes
      |SELECT i, j, c FROM gram ORDER BY i, j""".stripMargin

  /** op290's DuckDB replay: the [[nndCtes]] graph + beam search
    * unrolled `hops` times ([[beamHopCtes]]). */
  private def graphAnnSql(k: Int, rounds: Int, capR: Int,
      beam: Int, hops: Int, kOut: Int): String =
    s"""WITH ${nndCtes(k, rounds, capR)},
      |qs AS (SELECT vec_id AS q_id, v AS q_vec, n2 AS q_n2 FROM n WHERE vec_id < 8),
      |e0 AS (
      |  SELECT q.q_id,
      |         (q.q_id * 48271 + t.j * 1299721) % (SELECT count(*) FROM n) AS cand
      |  FROM qs q, range(1, ${beam + 1}) t(j)),
      |${beamTopCte("e0", "b0", beam)},
      |${beamHopCtes("b", s"g$rounds", beam, hops)}
      |${beamOutSql(s"b$hops", kOut)}""".stripMargin

  /** op296/op297's DuckDB replay — the full two-layer HNSW search:
    * base NND chain (`g`), the deterministic 1-in-`mod` member subset
    * dense-re-ranked (`um`/`un`), the upper NND chain (`u`) in dense
    * l_id space, upper edges mapped back to original ids (`ue`), the
    * short upper walk (LCG entries over the dense ranks → `ub*`), and
    * the level-0 walk seeded by the upper walk's final beam (`b*`) —
    * clause for clause [[graft.functions.Similarity.hnswSearch]]. */
  private def hnswAnnSql(k: Int, rounds: Int, capR: Int, mod: Int,
      upK: Int, upRounds: Int, upCapR: Int, upBeam: Int, upHops: Int,
      beam: Int, hops: Int, kOut: Int): String =
    s"""WITH ${nndCtes(k, rounds, capR)},
      |um AS (
      |  SELECT vec_id AS orig_id,
      |         CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS l_id
      |  FROM n WHERE (vec_id * 48271 + 7) % $mod = 0),
      |un AS (SELECT um.l_id AS vec_id, nn.v, nn.n2
      |       FROM um JOIN n nn ON nn.vec_id = um.orig_id),
      |${nndChain("u", "un", upK, upRounds, upCapR)},
      |ue AS (SELECT a.orig_id AS u, b.orig_id AS w
      |       FROM u$upRounds g JOIN um a ON a.l_id = g.u
      |                         JOIN um b ON b.l_id = g.w),
      |qs AS (SELECT vec_id AS q_id, v AS q_vec, n2 AS q_n2 FROM n WHERE vec_id < 8),
      |ue0 AS (
      |  SELECT e.q_id, um.orig_id AS cand FROM (
      |    SELECT q.q_id,
      |           (q.q_id * 48271 + t.j * 1299721)
      |             % (SELECT count(*) FROM un) AS l_id
      |    FROM qs q, range(1, ${upBeam + 1}) t(j)) e
      |  JOIN um ON um.l_id = e.l_id),
      |${beamTopCte("ue0", "ub0", upBeam)},
      |${beamHopCtes("ub", "ue", upBeam, upHops)},
      |${beamTopCte(s"ub$upHops", "b0", beam)},
      |${beamHopCtes("b", s"g$rounds", beam, hops)}
      |${beamOutSql(s"b$hops", kOut)}""".stripMargin

  /** Shared SQ8 replay through the approximate scores: probed cells,
    * int8 codes, code norms, per-candidate sq_bp. op112/op115 continue
    * with shortlist + exact rerank; op116 (the streaming probe, which
    * cannot rerank) stops at `approx`. */
  private lazy val sq8ApproxCtes: String = {
      val cosTo = ivfCosTo
      s"""qc AS (
        |  SELECT vec_id AS q_id, v AS q_vec, n2 AS q_n2, cent_id FROM (
        |    SELECT nn.vec_id, nn.v, nn.n2, ct.cent_id,
        |           row_number() OVER (PARTITION BY nn.vec_id ORDER BY
        |             ${cosTo("nn.v", "nn.n2", "ct.cent_vec", "ct.cent_n2")} DESC,
        |             ct.cent_id) AS rn
        |    FROM n nn, c2 ct WHERE nn.vec_id < 8) WHERE rn <= 4),
        |sq AS (
        |  SELECT n_id, cent_id,
        |    CASE WHEN mx = 0 THEN n_vec
        |         ELSE [CAST(floor(CAST(n_vec[i+1] * 127 AS DOUBLE)
        |                / CAST(mx AS DOUBLE)) AS BIGINT) FOR i IN range(64)]
        |    END AS cvec
        |  FROM (SELECT n_id, cent_id, n_vec,
        |          list_max(list_transform(n_vec, x -> abs(x))) AS mx
        |        FROM cc)),
        |c2n AS (SELECT n_id, cent_id, cvec,
        |          CAST(list_sum([cvec[i+1] * cvec[i+1] FOR i IN range(64)]) AS BIGINT) AS c_n2
        |        FROM sq),
        |approx AS (
        |  SELECT qc.q_id, c.n_id,
        |         ${cosTo("qc.q_vec", "qc.q_n2", "c.cvec", "c.c_n2")} AS sq_bp
        |  FROM c2n c JOIN qc ON c.cent_id = qc.cent_id AND qc.q_id <> c.n_id)"""
        .stripMargin
  }

  /** op118/op119/op100's DuckDB replay: the op69 IVF-cell CTEs compose
    * with the op83 PQ-ADC chain (prefixed `p` — [[pqAdcCtesFromN]]) over
    * the SHARED quantized table `n`; `pruned` restricts the approximate
    * distances to each query's `nProbe` probed cells. op118/op119
    * continue with the 50-wide shortlist + exact rerank; the streaming
    * probes, which cannot rerank, stop at `pruned` — top-5 by
    * (d2, vec_id), score published as −d2 — at nProbe = 4 (op120,
    * recall-biased) and nProbe = 2 (op100, latency-biased). */
  private def ivfPqSql(rerank: Boolean, nProbe: Int = 4): String = {
    val cosTo = ivfCosTo
    val pruned =
      s"""qc AS (
        |  SELECT vec_id AS q_id, cent_id FROM (
        |    SELECT nn.vec_id, ct.cent_id,
        |           row_number() OVER (PARTITION BY nn.vec_id ORDER BY
        |             ${cosTo("nn.v", "nn.n2", "ct.cent_vec", "ct.cent_n2")} DESC,
        |             ct.cent_id) AS rn
        |    FROM n nn, c2 ct WHERE nn.vec_id < 8) WHERE rn <= $nProbe),
        |pruned AS (
        |  SELECT a.q_id, a.vec_id, a.d2
        |  FROM papprox a JOIN cc ON a.vec_id = cc.n_id
        |                 JOIN qc ON a.q_id = qc.q_id AND cc.cent_id = qc.cent_id)"""
        .stripMargin
    val tail =
      if (rerank)
        s""",
          |short AS (SELECT q_id, vec_id AS n_id FROM (
          |  SELECT q_id, vec_id,
          |         row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS sr
          |  FROM pruned) WHERE sr <= 50),
          |scored AS (
          |  SELECT short.q_id, short.n_id,
          |         ${cosTo("a.n_vec", "a.n_n2", "b.n_vec", "b.n_n2")} AS cos_bp
          |  FROM short JOIN cc a ON short.q_id = a.n_id
          |             JOIN cc b ON short.n_id = b.n_id)
          |SELECT q_id, n_id, cos_bp, rank FROM (
          |  SELECT q_id, n_id, cos_bp,
          |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, n_id) AS BIGINT) AS rank
          |  FROM scored)
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
      else
        s"""
          |SELECT q_id, n_id, neg_d2, rank FROM (
          |  SELECT q_id, vec_id AS n_id, CAST(-d2 AS BIGINT) AS neg_d2,
          |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS BIGINT) AS rank
          |  FROM pruned)
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    s"""WITH $ivfCellCtes,
      |${pqAdcCtesFromN("p")},
      |$pruned$tail""".stripMargin
  }

  private lazy val sq8AnnSql: String = {
      val cosTo = ivfCosTo
      s"""WITH $ivfCellCtes,
        |$sq8ApproxCtes,
        |short AS (SELECT q_id, n_id FROM (
        |  SELECT q_id, n_id,
        |         row_number() OVER (PARTITION BY q_id ORDER BY sq_bp DESC, n_id) AS sr
        |  FROM approx) WHERE sr <= 50),
        |scored AS (
        |  SELECT short.q_id, short.n_id,
        |         ${cosTo("a.n_vec", "a.n_n2", "b.n_vec", "b.n_n2")} AS cos_bp
        |  FROM short JOIN cc a ON short.q_id = a.n_id
        |             JOIN cc b ON short.n_id = b.n_id)
        |SELECT q_id, n_id, cos_bp, rank FROM (
        |  SELECT q_id, n_id, cos_bp,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, n_id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  /** op110's DuckDB replay: the IVF probe and the brute-force ground
    * truth fused in one SQL, joined for per-query hit counts. */
  /** op121's DuckDB replay: ONE SQL fusing the brute-force ground truth
    * with all three cell-pruned serving legs — the IVF cell CTEs are
    * shared, sq8ApproxCtes contributes the probed-cell table `qc` and
    * the code scores, the prefixed PQ chain contributes `papprox`; each
    * leg's top-5 joins the brute top-5 for hit counts. */
  private lazy val recallMatrixSql: String = {
    val cosTo = ivfCosTo
    def top5(from: String): String =
      s"""SELECT q_id, n_id FROM (
        |  SELECT q_id, n_id,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, n_id) AS rank
        |  FROM $from) WHERE rank <= 5""".stripMargin
    def rerank5(shortFrom: String, orderCol: String, asc: String): String =
      s"""SELECT q_id, n_id FROM (
        |  SELECT q_id, n_id,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, n_id) AS rank
        |  FROM (
        |    SELECT short.q_id, short.n_id,
        |           ${cosTo("a.n_vec", "a.n_n2", "b.n_vec", "b.n_n2")} AS cos_bp
        |    FROM (SELECT q_id, n_id FROM (
        |        SELECT q_id, n_id,
        |               row_number() OVER (PARTITION BY q_id ORDER BY $orderCol $asc, n_id) AS sr
        |        FROM $shortFrom) WHERE sr <= 50) short
        |    JOIN cc a ON short.q_id = a.n_id
        |    JOIN cc b ON short.n_id = b.n_id)) WHERE rank <= 5""".stripMargin
    s"""WITH $ivfCellCtes,
      |$sq8ApproxCtes,
      |${pqAdcCtesFromN("p")},
      |ivf_sc AS (
      |  SELECT qc.q_id, cc.n_id,
      |         ${cosTo("qc.q_vec", "qc.q_n2", "cc.n_vec", "cc.n_n2")} AS cos_bp
      |  FROM cc JOIN qc ON cc.cent_id = qc.cent_id AND qc.q_id <> cc.n_id),
      |ivf5 AS (${top5("ivf_sc")}),
      |sq8cand AS (SELECT q_id, n_id, sq_bp FROM approx),
      |sq85 AS (${rerank5("sq8cand", "sq_bp", "DESC")}),
      |pq_pruned AS (
      |  SELECT a.q_id, a.vec_id AS n_id, a.d2
      |  FROM papprox a JOIN cc ON a.vec_id = cc.n_id
      |                 JOIN qc ON a.q_id = qc.q_id AND cc.cent_id = qc.cent_id),
      |pq5 AS (${rerank5("pq_pruned", "d2", "ASC")}),
      |bsc AS (
      |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |         ${cosTo("a.v", "a.n2", "b.v", "b.n2")} AS cos_bp
      |  FROM n a, n b WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id),
      |b5 AS (${top5("bsc")}),
      |legtop AS (
      |  SELECT 'ivf' AS leg, q_id, n_id FROM ivf5
      |  UNION ALL SELECT 'ivfpq', q_id, n_id FROM pq5
      |  UNION ALL SELECT 'sq8', q_id, n_id FROM sq85),
      |h AS (SELECT legtop.leg, legtop.q_id, count(*) AS n_hits
      |      FROM legtop JOIN b5 ON legtop.q_id = b5.q_id AND legtop.n_id = b5.n_id
      |      GROUP BY legtop.leg, legtop.q_id),
      |qx AS (SELECT l.leg, v.vec_id AS q_id
      |       FROM (SELECT DISTINCT leg FROM legtop) l,
      |            (SELECT vec_id FROM n WHERE vec_id < 8) v)
      |SELECT qx.leg, qx.q_id,
      |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  CAST(coalesce(h.n_hits, 0) * 2000 AS BIGINT) AS recall_bp
      |FROM qx LEFT JOIN h ON qx.leg = h.leg AND qx.q_id = h.q_id
      |ORDER BY qx.leg, qx.q_id""".stripMargin
  }

  /** op237: both retrieval legs (full-dim truth, 16-dim prefix) replay
    * the op67 quantized-cosine chain; recall = hit-join of the two
    * top-5 sets. */
  private lazy val matryoshkaRecallSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    [CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
      |     FOR i IN range(64)] AS v,
      |    [CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
      |     FOR i IN range(16)] AS v16
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, v16,
      |    CAST(list_sum([v[i+1] * v[i+1] FOR i IN range(64)]) AS DOUBLE)
      |      AS n2,
      |    CAST(list_sum([v16[i+1] * v16[i+1] FOR i IN range(16)]) AS DOUBLE)
      |      AS m2
      |  FROM q),
      |bscored AS (
      |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |    CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN CAST(0 AS BIGINT)
      |      ELSE CAST(floor(
      |        CAST(list_sum([a.v[i+1] * b.v[i+1] FOR i IN range(64)])
      |             AS DOUBLE) / (sqrt(a.n2) * sqrt(b.n2)) * 10000)
      |        AS BIGINT) END AS cos_bp
      |  FROM n a, n b WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id),
      |btop AS (SELECT q_id, n_id FROM (
      |  SELECT q_id, n_id, row_number() OVER
      |    (PARTITION BY q_id ORDER BY cos_bp DESC, n_id) AS rank
      |  FROM bscored) WHERE rank <= 5),
      |mscored AS (
      |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |    CASE WHEN a.m2 = 0 OR b.m2 = 0 THEN CAST(0 AS BIGINT)
      |      ELSE CAST(floor(
      |        CAST(list_sum([a.v16[i+1] * b.v16[i+1] FOR i IN range(16)])
      |             AS DOUBLE) / (sqrt(a.m2) * sqrt(b.m2)) * 10000)
      |        AS BIGINT) END AS cos_bp
      |  FROM n a, n b WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id),
      |mtop AS (SELECT q_id, n_id FROM (
      |  SELECT q_id, n_id, row_number() OVER
      |    (PARTITION BY q_id ORDER BY cos_bp DESC, n_id) AS rank
      |  FROM mscored) WHERE rank <= 5),
      |h AS (SELECT mtop.q_id, count(*) AS n_hits
      |      FROM mtop JOIN btop
      |        ON mtop.q_id = btop.q_id AND mtop.n_id = btop.n_id
      |      GROUP BY 1)
      |SELECT qq.vec_id AS q_id,
      |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  CAST(coalesce(h.n_hits, 0) * 2000 AS BIGINT) AS recall_bp
      |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 8) qq
      |LEFT JOIN h ON qq.vec_id = h.q_id
      |ORDER BY q_id""".stripMargin

  private lazy val annRecallSql: String = {
      val cosTo = ivfCosTo
      s"""WITH $ivfCellCtes,
        |qc AS (
        |  SELECT vec_id AS q_id, v AS q_vec, n2 AS q_n2, cent_id FROM (
        |    SELECT nn.vec_id, nn.v, nn.n2, ct.cent_id,
        |           row_number() OVER (PARTITION BY nn.vec_id ORDER BY
        |             ${cosTo("nn.v", "nn.n2", "ct.cent_vec", "ct.cent_n2")} DESC,
        |             ct.cent_id) AS rn
        |    FROM n nn, c2 ct WHERE nn.vec_id < 8) WHERE rn <= 4),
        |iscored AS (
        |  SELECT qc.q_id, cc.n_id,
        |         ${cosTo("qc.q_vec", "qc.q_n2", "cc.n_vec", "cc.n_n2")} AS cos_bp
        |  FROM cc JOIN qc ON cc.cent_id = qc.cent_id AND qc.q_id <> cc.n_id),
        |ivf AS (SELECT q_id, n_id FROM (
        |  SELECT q_id, n_id,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, n_id) AS rank
        |  FROM iscored) WHERE rank <= 5),
        |bscored AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
        |         ${cosTo("a.v", "a.n2", "b.v", "b.n2")} AS cos_bp
        |  FROM n a, n b WHERE a.vec_id < 8 AND b.vec_id <> a.vec_id),
        |btop AS (SELECT q_id, n_id FROM (
        |  SELECT q_id, n_id,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, n_id) AS rank
        |  FROM bscored) WHERE rank <= 5),
        |h AS (SELECT ivf.q_id, count(*) AS n_hits
        |      FROM ivf JOIN btop ON ivf.q_id = btop.q_id AND ivf.n_id = btop.n_id
        |      GROUP BY ivf.q_id)
        |SELECT q.vec_id AS q_id,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(coalesce(h.n_hits, 0) * 2000 AS BIGINT) AS recall_bp
        |FROM (SELECT vec_id FROM n WHERE vec_id < 8) q
        |LEFT JOIN h ON q.vec_id = h.q_id
        |ORDER BY q_id""".stripMargin
  }

  val defs: Map[String, Q] = Map(
    "op66_embed_dup" -> op66EmbedDup,
    "op67_knn_brute" -> op67KnnBrute,
    "op67_knn_topk_agg" -> op67KnnTopKAgg,
    "op68_ann_lsh" -> op68AnnLsh,
    "op69_ann_ivf" -> op69AnnIvf,
    "op83_pq_ann" -> op83PqAnn,
    "op84_ivf_probe" -> op84IvfProbe,
    "op85_pq_probe" -> op85PqProbe,
    "op86_lsh_probe" -> op86LshProbe,
    "op96_stream_ivf_probe" -> op96StreamIvfProbe,
    "op97_stream_lsh_probe" -> op97StreamLshProbe,
    "op100_stream_pq_adc" -> op100StreamPqAdc,
    "op109_hard_negatives" -> op109HardNegatives,
    "op110_ann_recall" -> op110AnnRecall,
    "op237_matryoshka_recall" -> op237MatryoshkaRecall,
    "op112_sq8_ann" -> op112Sq8Ann,
    "op115_sq8_probe" -> op115Sq8Probe,
    "op116_stream_sq8_probe" -> op116StreamSq8Probe,
    "op118_ivfpq_ann" -> op118IvfPqAnn,
    "op119_ivfpq_probe" -> op119IvfPqProbe,
    "op120_stream_ivfpq_probe" -> op120StreamIvfPqProbe,
    "op121_recall_matrix" -> op121RecallMatrix,
    "op288_nn_descent" -> op288NnDescent,
    "op289_nnd_recall" -> op289NndRecall,
    "op290_graph_ann" -> op290GraphAnn,
    "op292_stream_graph_ann" -> op292StreamGraphAnn,
    "op296_hnsw_ann" -> op296HnswAnn,
    "op297_stream_hnsw" -> op297StreamHnsw,
    "op303_pca_power" -> op303PcaPower,
    "op304_stream_gram" -> op304StreamGram,
    "op305_stream_spectral_drift" -> op305StreamSpectralDrift,
    "op314_knn_classify" -> op314KnnClassify)

  private val baseOracle: Map[String, String] = Map(
    "op83_pq_ann" -> {
      val cosRaw =
        s"""CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN CAST(0 AS BIGINT)
          |ELSE CAST(floor(CAST(list_sum([a.v[i+1] * b.v[i+1] FOR i IN range(64)]) AS DOUBLE)
          |     / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))) * 10000) AS BIGINT) END"""
          .stripMargin.replace("\n", " ")
      s"""WITH $pqAdcCtes,
        |short AS (
        |  SELECT q_id, vec_id AS n_id FROM (
        |    SELECT q_id, vec_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY d2, vec_id) AS sr
        |    FROM approx) WHERE sr <= 50),
        |scored AS (
        |  SELECT short.q_id, short.n_id, $cosRaw AS cos_bp
        |  FROM short JOIN n a ON short.q_id = a.vec_id
        |             JOIN n b ON short.n_id = b.vec_id)
        |SELECT q_id, n_id, cos_bp, rank FROM (
        |  SELECT q_id, n_id, cos_bp,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, n_id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    },
    // the streaming PQ probe is PURE ADC (rerank is a join after the
    // aggregation — forbidden in a stream), so its oracle is the replay
    // STOPPED at the approx distances, restricted to the query's
    // nProbe = 2 probed cells (the latency-biased serving point over
    // the same store op120 probes at nProbe = 4)
    "op100_stream_pq_adc" -> ivfPqSql(rerank = false, nProbe = 2),
    "op69_ann_ivf" -> ivfProbeSql(None),
    "op109_hard_negatives" -> ivfProbeSql(Some((2500L, 9500L))),
    "op68_ann_lsh" -> {
      // exact replay of the multi-table sign-LSH join: the md5-seeded
      // hyperplanes quantize to floor(w·1e6) longs — inlined here as
      // literals — and bucket bits come from LONG dot products, the same
      // integer arithmetic SignLshBuckets runs (associative, so the
      // bucket of a vector is identical on both engines)
      val tables = (0 until 8).map { t =>
        val planes = graft.functions.Similarity.hyperplanes(4, 64, t)
          .map(_.map(w => math.floor(w * 1000000d).toLong))
        val bits = planes.zipWithIndex.map { case (w, b) =>
          val lst = w.mkString("[", ", ", "]")
          s"(CASE WHEN list_sum([v[i+1] * ($lst)[i+1] FOR i IN range(64)]) >= 0 THEN ${1L << b} ELSE 0 END)"
        }.mkString("\n|      + ")
        s"""SELECT vec_id, $t AS tbl,
          |      $bits AS bucket
          |    FROM qv""".stripMargin
      }.mkString("\n|  UNION ALL ")
      s"""WITH qv AS (
        |  SELECT vec_id,
        |         [CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
        |          FOR i IN range(64)] AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        CAST(list_sum([v[i+1] * v[i+1] FOR i IN range(64)]) AS DOUBLE) AS n2
        |      FROM qv),
        |bk AS (
        |  $tables),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
        |  FROM bk q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
        |  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id),
        |scored AS (
        |  SELECT cand.q_id, cand.n_id,
        |         CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN CAST(0 AS BIGINT)
        |              ELSE CAST(floor(CAST(list_sum([a.v[i+1] * b.v[i+1] FOR i IN range(64)]) AS DOUBLE)
        |                   / (sqrt(a.n2) * sqrt(b.n2)) * 10000) AS BIGINT) END AS cos_bp
        |  FROM cand JOIN n a ON cand.q_id = a.vec_id
        |            JOIN n b ON cand.n_id = b.vec_id)
        |SELECT q_id, n_id, cos_bp, rank FROM (
        |  SELECT q_id, n_id, cos_bp,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, n_id) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    },
    "op66_embed_dup" ->
      """WITH q AS (
        |  SELECT vec_id,
        |         [CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
        |          FOR i IN range(64)] AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        CAST(list_sum([v[i+1] * v[i+1] FOR i IN range(64)]) AS DOUBLE) AS n2
        |      FROM q)
        |SELECT * FROM (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |         CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN CAST(0 AS BIGINT)
        |              ELSE CAST(floor(CAST(list_sum([a.v[i+1] * b.v[i+1] FOR i IN range(64)]) AS DOUBLE)
        |                   / (sqrt(a.n2) * sqrt(b.n2)) * 10000) AS BIGINT) END AS cos_bp
        |  FROM n a, n b WHERE a.vec_id < b.vec_id)
        |WHERE cos_bp >= 9500 ORDER BY a_id, b_id""".stripMargin,
    "op67_knn_topk_agg" -> knnBruteSql,
    "op67_knn_brute" -> knnBruteSql)

  val oracle: Map[String, String] = baseOracle ++ Map(
    "op84_ivf_probe" -> baseOracle("op69_ann_ivf"),
    "op85_pq_probe" -> baseOracle("op83_pq_ann"),
    "op86_lsh_probe" -> baseOracle("op68_ann_lsh"),
    // streaming execution of the same probe over the same index: one
    // AvailableNow replay carries every query in a single trigger, so
    // the emitted top-k is bit-identical to the batch probe
    "op96_stream_ivf_probe" -> baseOracle("op69_ann_ivf"),
    "op97_stream_lsh_probe" -> baseOracle("op68_ann_lsh"),
    // probe(prebuilt SQ8 index) ≡ the end-to-end op112 by construction
    "op115_sq8_probe" -> sq8AnnSql,
    "op112_sq8_ann" -> sq8AnnSql,
    "op110_ann_recall" -> annRecallSql,
    "op237_matryoshka_recall" -> matryoshkaRecallSql,
    "op121_recall_matrix" -> recallMatrixSql,
    // probe(prebuilt IVF-PQ index) ≡ the end-to-end op118; the
    // streaming leg (op120) cannot rerank, so its oracle stops at the
    // cell-pruned approximate distances
    "op118_ivfpq_ann" -> ivfPqSql(rerank = true),
    "op119_ivfpq_probe" -> ivfPqSql(rerank = true),
    "op120_stream_ivfpq_probe" -> ivfPqSql(rerank = false),
    // the streaming SQ8 probe cannot rerank — its oracle is the shared
    // replay stopped at the approximate scores
    "op116_stream_sq8_probe" ->
      s"""WITH $ivfCellCtes,
        |$sq8ApproxCtes
        |SELECT q_id, n_id, sq_bp, rank FROM (
        |  SELECT q_id, n_id, sq_bp,
        |         CAST(row_number() OVER (PARTITION BY q_id ORDER BY sq_bp DESC, n_id) AS BIGINT) AS rank
        |  FROM approx)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // NN-Descent is deterministic end to end (LCG-permutation init,
    // exact integer cosine, id tiebreaks, lowest-id reverse cap) — the
    // oracle replays all three rounds and hash-gates the GRAPH itself
    "op288_nn_descent" -> nndGraphSql(k = 16, rounds = 3, capR = 16),
    "op289_nnd_recall" -> nndRecallSql(k = 16, rounds = 3, capR = 16),
    // beam search is deterministic too (LCG entry set, exact integer
    // cosine, id tiebreaks) — the oracle replays build + search
    "op290_graph_ann" -> graphAnnSql(k = 16, rounds = 3, capR = 16,
      beam = 12, hops = 3, kOut = 8),
    // the streaming leg is bit-identical to the batch walk, so it
    // shares op290's replay verbatim — the stream ≡ batch gate
    "op292_stream_graph_ann" -> graphAnnSql(k = 16, rounds = 3, capR = 16,
      beam = 12, hops = 3, kOut = 8),
    // the two-layer HNSW search is deterministic like the flat walk —
    // the oracle replays BOTH graph builds and BOTH walks; the
    // streaming twin is bit-identical and shares the replay verbatim
    "op296_hnsw_ann" -> hnswAnnSql(k = 16, rounds = 3, capR = 16,
      mod = 8, upK = 8, upRounds = 2, upCapR = 8, upBeam = 8, upHops = 2,
      beam = 12, hops = 2, kOut = 8),
    "op297_stream_hnsw" -> hnswAnnSql(k = 16, rounds = 3, capR = 16,
      mod = 8, upK = 8, upRounds = 2, upCapR = 8, upBeam = 8, upHops = 2,
      beam = 12, hops = 2, kOut = 8),
    "op303_pca_power" -> pcaPowerSql,
    "op304_stream_gram" -> streamGramSql,
    "op305_stream_spectral_drift" -> spectralDriftSql,
    // op314: the op67 brute CTEs widened to the 64-query sample, then
    // the (count desc, label asc) vote — ModeAgg's exact tie rule
    "op314_knn_classify" ->
      """WITH q AS (
        |  SELECT vec_id,
        |         [CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
        |          FOR i IN range(64)] AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v,
        |        CAST(list_sum([v[i+1] * v[i+1] FOR i IN range(64)]) AS DOUBLE) AS n2
        |      FROM q),
        |scored AS (
        |  SELECT qs.vec_id AS q_id, cs.vec_id AS n_id,
        |         CASE WHEN qs.n2 = 0 OR cs.n2 = 0 THEN CAST(0 AS BIGINT)
        |              ELSE CAST(floor(CAST(list_sum([qs.v[i+1] * cs.v[i+1] FOR i IN range(64)]) AS DOUBLE)
        |                   / (sqrt(qs.n2) * sqrt(cs.n2)) * 10000) AS BIGINT) END AS cos_bp
        |  FROM n qs, n cs WHERE qs.vec_id < 64 AND qs.vec_id <> cs.vec_id),
        |top5 AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY cos_bp DESC, n_id) AS rank
        |    FROM scored) WHERE rank <= 5),
        |votes AS (
        |  SELECT t.q_id, CAST(e.label AS BIGINT) AS n_label, count(*) AS c
        |  FROM top5 t JOIN embeddings e ON e.vec_id = t.n_id
        |  GROUP BY 1, 2),
        |pred AS (
        |  SELECT q_id, n_label AS pred_label, c AS votes FROM (
        |    SELECT q_id, n_label, c,
        |           row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_label) AS rn
        |    FROM votes) WHERE rn = 1)
        |SELECT e.vec_id AS q_id, CAST(e.label AS BIGINT) AS true_label,
        |       CAST(p.pred_label AS BIGINT) AS pred_label,
        |       CAST(p.votes AS BIGINT) AS votes,
        |       CAST(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END AS BIGINT) AS correct
        |FROM pred p JOIN embeddings e ON e.vec_id = p.q_id
        |ORDER BY q_id""".stripMargin)
}
