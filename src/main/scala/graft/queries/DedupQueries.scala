package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Similarity}
import graft.sources.Tables
import graft.streaming.Drain
import Det.{big, ordered}

/** Deduplication / decontamination pack (split out of TrainQueries in
  * r11 — same keys, same oracles, zero behavior change): exact and
  * n-gram dedup, MinHash banding + survivors + clusters, SimHash,
  * containment, semantic dedup, span scrubbing, bloom/broadcast
  * decontamination, and the STREAMING incremental/near-dup/gate legs.
  * Every pairing path is banded/bucketed/blocked — never all-pairs
  * (the scale argument per family is in SCALE.md).
  */
object DedupQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Exact dedup: min-id per distinct text + multiplicity. */
  val op60DedupExact: Q = (s, d) =>
    ordered(
      Dedup.exactKeepMin(Tables.documents(s, d), "text", "doc_id"),
      "keep_id")

  /** Shingles seen in more than this many docs are dropped before the
    * pairing join (both engines) — the anti-quadratic-blowup cap. */
  private[queries] val shingleDocFreqCap = 100L

  /** N-gram (trigram) Jaccard near-dup pairs at ≥ 70% — inverted-index
    * join with the document-frequency cap active (the 100 TB shape: join
    * fan-out bounded by docs·n_sh·cap, not by the hottest shingle²). */
  val op61DedupNgram: Q = (s, d) =>
    ordered(
      Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text", 7000L,
        Some(shingleDocFreqCap)),
      "doc_a", "doc_b")

  /** Same pairs via prefix filtering (ppjoin) — exact, sub-quadratic
    * candidates; shares op61's oracle. */
  val op61DedupNgramPrefix: Q = (s, d) =>
    ordered(
      Dedup.jaccardPairsPrefix(Tables.documents(s, d), "doc_id", "text", 7000L),
      "doc_a", "doc_b")

  /** Same pairs with the SPELLING CHOSEN FROM CORPUS STATISTICS
    * ([[Dedup.jaccardPairsAuto]] — one planning scalar decides between
    * the inverted-index join and prefix filtering, the operator-
    * selection analog of AQE's runtime stats): both spellings are
    * result-identical, so cost-based planning itself runs under the
    * hash gate via op61-prefix's uncapped oracle. */
  val op61DedupNgramAuto: Q = (s, d) =>
    ordered(
      Dedup.jaccardPairsAuto(Tables.documents(s, d), "doc_id", "text", 7000L),
      "doc_a", "doc_b")

  /** op227: containment (asymmetric-Jaccard) detection — directed
    * pairs where ≥ 80% of the inner doc's trigram set lives inside the
    * outer doc: the quote/boilerplate/doc-inside-doc case a symmetric
    * jaccard gate misses whenever the inner is much smaller than the
    * outer (J ÷ the union stays low while C → 1). Same inverted-index
    * candidates, doc-frequency cap, and count semantics as op61 —
    * containment costs nothing beyond the dedup pass that already
    * runs. */
  val op227Containment: Q = (s, d) =>
    ordered(
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
        8000L, Some(shingleDocFreqCap)),
      "inner_doc", "outer_doc")

  /** MinHash signatures (k=8) via the Kirsch-Mitzenmacher construction:
    * ONE md5 per shingle (vs k in the per-permutation spelling), the k
    * permutations are affine combinations of its two 30-bit halves —
    * pure integer arithmetic, so the DuckDB oracle replays it exactly. */
  val op62MinhashSig: Q = (s, d) =>
    ordered(
      Dedup.minhashSignatureFast(Tables.documents(s, d), "doc_id", "text", 8),
      "doc_id")

  /** MinHash+LSH candidate pairs (k=16, bands of 4) — hash-checked: the
    * oracle replays the banded join (16 KM sigs + md5-prefix band hash);
    * the spec additionally validates candidates ⊇ true near-dups. */
  val op63MinhashPairs: Q = (s, d) =>
    ordered(
      Dedup.minhashCandidates(Tables.documents(s, d), "doc_id", "text"),
      "doc_a", "doc_b")

  /** op276: MinHash estimator fidelity — per LSH candidate pair, the
    * estimated Jaccard (agreement over 16 KM sigs), the exact Jaccard
    * (candidate-restricted overlap), and the signed error: the eval
    * that says whether k=16 is enough for the dedup threshold in use
    * (op110's recall eval, aimed at the sketch instead of the index).
    * See [[graft.functions.Dedup.minhashFidelity]]. */
  val op276MinhashFidelity: Q = (s, d) =>
    ordered(
      Dedup.minhashFidelity(Tables.documents(s, d), "doc_id", "text"),
      "doc_a", "doc_b")

  /** Near-dup survivors: corpus minus greater-id members of ≥80% pairs
    * (doc-frequency cap active, mirroring op61). */
  val op64DedupSurvivors: Q = (s, d) =>
    ordered(
      Dedup.survivors(Tables.documents(s, d), "doc_id", "text", 8000L,
        Some(shingleDocFreqCap))
        .select(col("doc_id"), col("lang"), col("source")),
      "doc_id")

  /** MinHash-LSH dedup END-TO-END at ≥80%: band-collision candidates →
    * exact Jaccard verification on candidates only → survivors — the
    * composition a web-scale curation run actually executes (op63 shows
    * the candidate half, op64 the verify-everything half; this is the
    * production join of the two). Hash-checked: the oracle replays
    * signatures, bands, candidate join AND the candidate-restricted
    * verification. */
  val op98MinhashSurvivors: Q = (s, d) =>
    ordered(
      Dedup.survivorsMinhash(Tables.documents(s, d), "doc_id", "text", 8000L)
        .select(col("doc_id"), col("lang"), col("source")),
      "doc_id")

  /** Transitive near-dup clusters at ≥70%: every document labeled with
    * the min doc_id reachable through near-dup edges (connected
    * components via min-label propagation; recursive-CTE oracle).
    *
    * DECISION (r6, closing the r5 verdict item): op77 builds/reads the
    * SAME persisted `clusters_j7000_cap100` artifact its consumers
    * (op92 split, op114 histogram) read — the op84/op115 index
    * pattern. The first invocation per dataset pays the label-
    * propagation build (that cost stays visible exactly once, like
    * every other index build); every later invocation — and every
    * bench rep after the first — measures the read. Deterministic
    * clustering + all-bigint storage keep the cached path bit-identical
    * to recomputing, so the recursive-CTE oracle is unchanged. The
    * end-to-end spelling remains [[Dedup.dedupClusters]]. */
  val op77DedupClusters: Q = (s, d) => {
    val dir = IndexStore.indexRoot(d, "clusters_j7000_cap100", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "clusters") { tmp =>
      Dedup.dedupClusters(Tables.documents(s, d), "doc_id", "text",
          7000L, Some(shingleDocFreqCap))
        .write.mode("overwrite").parquet(s"$tmp/clusters")
    }
    ordered(s.read.parquet(s"$dir/clusters"), "doc_id")
  }

  /** SimHash-60 fingerprints — bit-sliced integer aggregation, hash-checked
    * against a DuckDB replay of the same md5-bridge arithmetic. */
  val op65Simhash: Q = (s, d) =>
    ordered(
      Dedup.simhash60(Tables.documents(s, d), "doc_id", "text"),
      "doc_id")

  /** Cross-modal paraphrase mining — the two fixture tables share ids
    * (embedding i embeds document i), so the embedding near-dup miner
    * and the text verifier COMPOSE: mine candidate pairs with op66's
    * production shape ([[Similarity.nearDupPairsLsh]], 12-bit × 8-table
    * sign-LSH buckets) at a paraphrase-level 2500 bp threshold, then
    * classify each pair by its exact text trigram Jaccard — ≥ 70%
    * lexical duplicate (crawl mirror / boilerplate), below that a
    * SEMANTIC-only match (paraphrase class, invisible to every n-gram
    * dedup pass). The report that tells a curation pipeline how much of
    * its semantic duplication lexical dedup already catches.
    *
    * Scale: candidate volume is bucket-bounded (op66's shape); the
    * Jaccard verification joins the shingle index on the CANDIDATE
    * pairs only (op98's verification shape) — nothing quadratic
    * anywhere. Hash-checked end-to-end: the oracle replays the 12-bit
    * plane buckets (first NON-VACUOUS check of the bucket-pair miner —
    * op66's brute-force twin oracle holds vacuously at its 9500 bp
    * production threshold, where the fixture has no pairs) plus the
    * candidate-restricted overlap. Recall below ~60° is the documented
    * LSH trade (the oracle replays the same buckets, so the check is
    * exact regardless). */
  val op101ParaphraseMine: Q = (s, d) => {
    // two consumers (the overlap aggregation and the final left join):
    // without the checkpoint the whole LSH mining pipeline runs twice
    val pairs = Similarity.nearDupPairsLsh(Tables.embeddings(s, d), 2500L)
      .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"), col("cos_bp"))
      .localCheckpoint()
    val index = Dedup.shingleIndexHashed(Tables.documents(s, d),
      "doc_id", "text").localCheckpoint()
    val counts = Dedup.shingleCounts(index)
    val ia = index.select(col("doc_id").as("doc_a"), col("shingle"))
    val ib = index.select(col("doc_id").as("doc_b"), col("shingle"))
    val overlap = pairs.select(col("doc_a"), col("doc_b"))
      .join(ia, "doc_a")
      .join(ib, Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("bigint").as("overlap"))
    ordered(
      pairs
        .join(overlap, Seq("doc_a", "doc_b"), "left")
        .join(counts.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("n_sh", "n_a"), Seq("doc_a"), "left")
        .join(counts.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("n_sh", "n_b"), Seq("doc_b"), "left")
        // no shared shingle (or an under-3-token doc) ⇒ jaccard 0
        .withColumn("jaccard_bp",
          coalesce((col("overlap") * 10000L /
              (col("n_a") + col("n_b") - col("overlap"))).cast("bigint"),
            lit(0L)))
        .withColumn("kind",
          when(col("jaccard_bp") >= 7000L, lit("lexical"))
            .otherwise(lit("semantic")))
        .select(col("doc_a"), col("doc_b"), col("cos_bp"),
          col("jaccard_bp"), col("kind")),
      "doc_a", "doc_b")
  }

  /** The incremental cross-run dedup pipeline under the hash gate: a
    * persisted fingerprint store built from the "previously accepted"
    * slice (doc_id % 3 == 0; cached in the content-keyed index dir),
    * the full corpus streamed through [[graft.streaming
    * .IncrementalDedup.dedupAgainstStoreBloom]] — bloom fast path,
    * store anti-join for suspects only, in-stream first-occurrence
    * dedup — via AvailableNow into a memory sink. The query emits the
    * SET of newly-accepted fingerprints: which duplicate ROW survives
    * dropDuplicates is arrival-order-dependent, but the fp set is not,
    * so DuckDB replays it exactly (md5-60 fingerprints minus the
    * store's). Real streaming execution of the bloom path under the
    * same hash gate as every batch query. */
  val op104StreamIncrDedup: Q = (s, d) => {
    import graft.streaming.IncrementalDedup
    val dir = IndexStore.indexRoot(d, "fp_store_mod3", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "fps") { tmp =>
      IncrementalDedup.fingerprints(
          Tables.documents(s, d).filter(col("doc_id") % 3 === 0), "text")
        .write.mode("overwrite").parquet(s"$tmp/fps")
    }
    ordered(
      drainDocStream(s, d, "op104", st =>
        IncrementalDedup.dedupAgainstStoreBloom(st, s"$dir/fps", "text")
          .select(col("fp"))),
      "fp")
  }

  /** [[drainQueryVecStream]]'s twin for the documents table, append
    * mode (dedup emits rows, not a running aggregate). */
  private def drainDocStream(s: SparkSession, d: String, tag: String,
      xform: DataFrame => DataFrame): DataFrame =
    Drain.files(s, d, tag, "documents", "append", Drain.width("8"))(xform)

  /** op134: the ONLINE decontamination gate — op82/op102's streaming
    * leg. The benchmark slice (doc_id % 50 == 0, the op82 split)
    * persists as a distinct md5-60 shingle store; the rest of the
    * corpus streams through [[graft.streaming.StreamingDecontaminate
    * .flagAgainstStoreBloom]] — bloom fast path, exact semi-join
    * confirm for suspects, one output row per arrival sharing ANY
    * benchmark shingle. The count-threshold scoring stays batch
    * (op82's ≥8 gate); this is the pre-admission flag a real ingest
    * runs first. Oracle: the same md5-60 hash join replayed on the
    * cross-slice shingle sets. */
  val op134StreamDecontaminate: Q = (s, d) => {
    import graft.streaming.StreamingDecontaminate
    val dir = IndexStore.indexRoot(d, "bench_shingles_mod50", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "shingles") { tmp =>
      StreamingDecontaminate.storeWrite(
        Tables.documents(s, d).filter(col("doc_id") % 50 === 0),
        "doc_id", "text", tmp)
    }
    ordered(
      drainDocStream(s, d, "op134", st =>
        StreamingDecontaminate.flagAgainstStoreBloom(
          st.filter(col("doc_id") % 50 =!= 0), dir, "doc_id", "text")),
      "doc_id")
  }

  /** op132: streaming NEAR-dup detection — op104's exact-fingerprint
    * story upgraded to MinHash+LSH. The "previously accepted" slice
    * (doc_id % 3 == 0, op104's split) persists as a band + shingle-array
    * store (content-keyed index cache); the REST of the corpus streams
    * through [[graft.streaming.StreamingNearDedup.matchesAgainstStore]]
    * — per-row KM signatures (no stateful agg), stream-static band
    * join, candidate-restricted exact-Jaccard confirm — via AvailableNow
    * into a memory sink. Output: every (arrival, store doc) pair
    * confirmed at ≥ 80%. Oracle: op98's full replay (signatures, bands,
    * candidate join, verification) RESTRICTED to cross-slice pairs —
    * real streaming execution under the same hash gate as the batch
    * dedup family. */
  val op132StreamNearDedup: Q = (s, d) => {
    import graft.streaming.StreamingNearDedup
    val dir = IndexStore.indexRoot(d, "neardup_store_mod3_k16r4", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "docs") { tmp =>
      StreamingNearDedup.storeWrite(
        Tables.documents(s, d).filter(col("doc_id") % 3 === 0),
        "doc_id", "text", tmp)
    }
    ordered(
      drainDocStream(s, d, "op132", st =>
        StreamingNearDedup.matchesAgainstStore(
          st.filter(col("doc_id") % 3 =!= 0), dir, "doc_id", "text", 8000L)),
      "doc_id", "dup_of")
  }

  /** Benchmark decontamination: flag training documents sharing ≥ 8
    * trigram shingles with any held-out benchmark document (mock
    * benchmark = doc_id % 50 == 0). Train/test leakage detection — the
    * step every training corpus runs before release. The benchmark side
    * is bounded by benchmark size (tiny vs the corpus), so it broadcasts
    * and the corpus-side index never shuffles for the probe. */
  val op82Decontaminate: Q = (s, d) => {
    // no materialization: each side is a one-pass consumer, and the
    // doc_id filters push below the shingle explode, so the bench side
    // shingles only the 2% benchmark slice and the train side the rest —
    // one full shingle pass total. (Eagerly localCheckpoint-ing the whole
    // index here cost more than the recompute it saved — the pattern pays
    // in op64 where the capped index feeds BOTH sides of a self-join.)
    val idx = Dedup.shingleIndexHashed(Tables.documents(s, d),
      "doc_id", "text")
    val bench = idx.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bench_id"), col("shingle"))
    val train = idx.filter(col("doc_id") % 50 =!= 0)
    ordered(
      train.join(broadcast(bench), "shingle")
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("overlap"))
        .filter(col("overlap") >= 8)
        .groupBy(col("doc_id"))
        .agg(big(max(col("overlap"))).as("max_overlap"),
             big(countDistinct(col("bench_id"))).as("n_bench_hits")),
      "doc_id")
  }

  /** op82 in the regime where the held-out set does NOT broadcast — the
    * 100 TB decontamination spelling. A benchmark suite of ~10⁹ n-grams
    * is ~50 GB as joinable rows (too big for a broadcast) but ~1.2 GB
    * as a Bloom filter at 10 bits/key, so: build the filter over the
    * bench shingles (map-side-partial aggregate — one filter per task
    * moves, no rows), prefilter the train side per-row (codegen'd
    * might-contain, zero shuffle, no false negatives), then an exact
    * shuffle join over the SURVIVORS confirms and counts — bloom false
    * positives die in the join, so the output is bit-identical to op82
    * (same oracle). The corpus-side shuffle carries only true hits plus
    * the fpp fraction instead of every shingle in the corpus. The bench
    * side is shingled twice (filter build + confirm join) — two passes
    * over the 2% slice instead of materializing it. */
  val op102BloomDecontaminate: Q = (s, d) => {
    val idx = Dedup.shingleIndexHashed(Tables.documents(s, d),
      "doc_id", "text")
    val bench = idx.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("bench_id"), col("shingle"))
    val bf = graft.functions.Bloom.buildBytes(bench, col("shingle"),
      1000000L, 8L * 1024 * 1024)
    val train = idx.filter(col("doc_id") % 50 =!= 0)
      .filter(graft.functions.Bloom.mightContain(bf, col("shingle")))
    ordered(
      train.join(bench, "shingle") // deliberately unhinted: models the
        // non-broadcastable bench; AQE may still pick broadcast at toy SF
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("overlap"))
        .filter(col("overlap") >= 8)
        .groupBy(col("doc_id"))
        .agg(big(max(col("overlap"))).as("max_overlap"),
             big(countDistinct(col("bench_id"))).as("n_bench_hits")),
      "doc_id")
  }

  /** Sub-document duplicate-span scrubbing (Lee et al. 2022 / CCNet
    * repeated-paragraph removal at fixed 8-token granularity): spans
    * occurring in ≥ 2 distinct documents scrub out, kept spans
    * reassemble in order. See [[Dedup.scrubDuplicateSpans]] for the
    * linear-in-tokens scale shape. */
  val op103SpanScrub: Q = (s, d) =>
    ordered(
      Dedup.scrubDuplicateSpans(Tables.documents(s, d), "doc_id", "text",
        8, 2L),
      "doc_id")

  /** Dup-cluster size histogram (op114): how much of the corpus sits in
    * duplicate clusters of which size — the dedup-planning companion to
    * the data card (a fat tail of big clusters = mirrored crawls worth a
    * targeted pass; n_docs column shows the doc mass at each size).
    * Reads the SAME persisted cluster artifact as op92 (content-keyed
    * cache, built once per dataset); the histogram itself is two
    * bounded aggregates over (doc_id, cluster). */
  val op114ClusterHistogram: Q = (s, d) => {
    val dir = IndexStore.indexRoot(d, "clusters_j7000_cap100", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "clusters") { tmp =>
      Dedup.dedupClusters(Tables.documents(s, d), "doc_id", "text",
          7000L, Some(shingleDocFreqCap))
        .write.mode("overwrite").parquet(s"$tmp/clusters")
    }
    val clu = s.read.parquet(s"$dir/clusters")
    ordered(
      clu.groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz"))
        .agg(big(count(lit(1))).as("n_clusters"),
          big(sum(col("sz"))).as("n_docs"))
        .select(big(col("sz")).as("cluster_size"), col("n_clusters"),
          col("n_docs")),
      "cluster_size")
  }

  /** Semantic dedup (SemDeDup): cluster the embedding space with the
    * IVF centroids, then drop vectors dominated by a lower-id ≥ 25%
    * cosine neighbor WITHIN their cluster — pair volume is cell-bounded
    * (Σ|cell|², not N²). Fixture threshold 2500 bp sits in the upper
    * tail of the random-embedding cosine distribution so drops actually
    * occur; a production corpus runs ≥ 9500. Survivors out. */
  val op93SemDedup: Q = (s, d) => {
    // same amortization as op84-86/op92: the Lloyd training + cell
    // assignment persists once per dataset (all-bigint ⇒ bit-exact
    // round-trip) and the query measures the within-cell dominance
    // dedup itself. Oracle unchanged — cells are deterministic.
    val dir = IndexStore.indexRoot(d, "semcells_c16_l2")
    IndexStore.buildIndexIfAbsent(dir, "cells") { tmp =>
      Similarity.semCells(Tables.embeddings(s, d), nCells = 16,
          lloydIters = 2)
        .write.mode("overwrite").parquet(s"$tmp/cells")
    }
    ordered(
      Similarity.semDedupFromCells(s.read.parquet(s"$dir/cells"), 2500L),
      "vec_id")
  }

  /** op130: stride-1 exact-substring dedup profile (Lee et al. 2022) —
    * per doc, duplicated 40-char windows and the longest cross-doc
    * duplicated substring, fingerprinted in one linear pass by the
    * RollingHashWindows codegen expression. */
  val op130CharDup: Q = (s, d) =>
    ordered(
      Dedup.charDupProfile(Tables.documents(s, d), "doc_id", "text", 40),
      "doc_id")

  /** Shared recursive-CTE block computing (doc_id, cluster) — op77's
    * connected components over the ≥70% Jaccard graph; reused by op92's
    * split assignment. Callers prepend `WITH RECURSIVE` and select from
    * `clu`. */
  private[queries] lazy val clusterCtes =
    s"""sh AS (SELECT DISTINCT doc_id, shingle FROM ($trigramSql)),
      |keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
      |shc AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
      |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
      |       FROM shc a JOIN shc b USING (shingle) WHERE a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |p AS (SELECT doc_a, doc_b
      |      FROM ov JOIN cnt ca ON ov.doc_a = ca.doc_id
      |              JOIN cnt cb ON ov.doc_b = cb.doc_id
      |      WHERE overlap * 10000 // (ca.n_sh + cb.n_sh - overlap) >= 7000),
      |e AS (SELECT doc_a AS s, doc_b AS t FROM p
      |      UNION ALL SELECT doc_b, doc_a FROM p),
      |reach(s, t) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.s, e.t FROM reach r JOIN e ON e.s = r.t),
      |clu AS (SELECT s AS doc_id, min(t) AS cluster FROM reach GROUP BY s)""".stripMargin

  private[queries] val trigramSql =
    """SELECT doc_id, unnest([string_split(text,' ')[i+1] || ' ' ||
      |       string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3]
      |       FOR i IN range(greatest(len(string_split(text,' ')) - 2, 0))]) AS shingle
      |FROM documents""".stripMargin

  /** Shared by op82 (broadcast regime) and op102 (bloom-prefilter
    * regime): both compute the same ≥8-shingle benchmark overlap. */
  private lazy val decontaminateSql =
    s"""WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ($trigramSql)),
      |b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 50 = 0),
      |t AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
      |ov AS (SELECT t.doc_id, b.bench_id, count(*) AS overlap
      |       FROM t JOIN b USING (shingle)
      |       GROUP BY 1, 2 HAVING count(*) >= 8)
      |SELECT doc_id, CAST(max(overlap) AS BIGINT) AS max_overlap,
      |       CAST(count(DISTINCT bench_id) AS BIGINT) AS n_bench_hits
      |FROM ov GROUP BY doc_id ORDER BY doc_id""".stripMargin


  val defs: Map[String, Q] = Map(
    "op60_dedup_exact" -> op60DedupExact,
    "op61_dedup_ngram" -> op61DedupNgram,
    "op61_dedup_ngram_prefix" -> op61DedupNgramPrefix,
    "op61_dedup_ngram_auto" -> op61DedupNgramAuto,
    "op227_containment" -> op227Containment,
    "op62_minhash_sig" -> op62MinhashSig,
    "op63_minhash_pairs" -> op63MinhashPairs,
    "op64_dedup_survivors" -> op64DedupSurvivors,
    "op98_minhash_survivors" -> op98MinhashSurvivors,
    "op276_minhash_fidelity" -> op276MinhashFidelity,
    "op65_simhash" -> op65Simhash,
    "op101_paraphrase_mine" -> op101ParaphraseMine,
    "op93_sem_dedup" -> op93SemDedup,
    "op77_dedup_clusters" -> op77DedupClusters,
    "op82_decontaminate" -> op82Decontaminate,
    "op102_bloom_decontaminate" -> op102BloomDecontaminate,
    "op103_span_scrub" -> op103SpanScrub,
    "op104_stream_incr_dedup" -> op104StreamIncrDedup,
    "op132_stream_near_dedup" -> op132StreamNearDedup,
    "op134_stream_decontaminate" -> op134StreamDecontaminate,
    "op114_cluster_histogram" -> op114ClusterHistogram,
    "op130_char_dup_profile" -> op130CharDup)

  private val baseOracle: Map[String, String] = Map(
    "op60_dedup_exact" ->
      """SELECT text, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "op61_dedup_ngram" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ($trigramSql)),
        |keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |shc AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
        |       FROM shc a JOIN shc b USING (shingle) WHERE a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(overlap AS BIGINT) AS overlap,
        |       CAST(ca.n_sh AS BIGINT) AS n_a, CAST(cb.n_sh AS BIGINT) AS n_b,
        |       CAST(overlap * 10000 // (ca.n_sh + cb.n_sh - overlap) AS BIGINT) AS jaccard_bp
        |FROM ov JOIN cnt ca ON ov.doc_a = ca.doc_id
        |        JOIN cnt cb ON ov.doc_b = cb.doc_id
        |WHERE overlap * 10000 // (ca.n_sh + cb.n_sh - overlap) >= 7000
        |ORDER BY doc_a, doc_b""".stripMargin,
    "op227_containment" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ($trigramSql)),
        |keep AS (SELECT shingle FROM sh GROUP BY shingle
        |         HAVING count(*) <= 100),
        |shc AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         count(*) AS overlap
        |       FROM shc a JOIN shc b USING (shingle)
        |       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |dir AS (SELECT doc_a AS inner_doc, doc_b AS outer_doc, overlap
        |        FROM ov
        |        UNION ALL SELECT doc_b, doc_a, overlap FROM ov),
        |j AS (SELECT d.inner_doc, d.outer_doc, d.overlap,
        |        ci.n_sh AS n_inner, co.n_sh AS n_outer
        |      FROM dir d JOIN cnt ci ON d.inner_doc = ci.doc_id
        |        JOIN cnt co ON d.outer_doc = co.doc_id)
        |SELECT inner_doc, outer_doc, CAST(overlap AS BIGINT) AS overlap,
        |  CAST(n_inner AS BIGINT) AS n_inner,
        |  CAST(n_outer AS BIGINT) AS n_outer,
        |  CAST(overlap * 10000 // n_inner AS BIGINT) AS containment_bp,
        |  CAST(overlap * 10000 // (n_inner + n_outer - overlap)
        |       AS BIGINT) AS jaccard_bp
        |FROM j WHERE overlap * 10000 // n_inner >= 8000
        |ORDER BY inner_doc, outer_doc""".stripMargin,
    "op61_dedup_ngram_prefix" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ($trigramSql)),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
        |       FROM sh a JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(overlap AS BIGINT) AS overlap,
        |       CAST(ca.n_sh AS BIGINT) AS n_a, CAST(cb.n_sh AS BIGINT) AS n_b,
        |       CAST(overlap * 10000 // (ca.n_sh + cb.n_sh - overlap) AS BIGINT) AS jaccard_bp
        |FROM ov JOIN cnt ca ON ov.doc_a = ca.doc_id
        |        JOIN cnt cb ON ov.doc_b = cb.doc_id
        |WHERE overlap * 10000 // (ca.n_sh + cb.n_sh - overlap) >= 7000
        |ORDER BY doc_a, doc_b""".stripMargin,
    "op62_minhash_sig" -> {
      // Kirsch-Mitzenmacher: sig_i = min((h1·(2i+1) + h2) mod 2^31) where
      // (h1, h2) are the 30-bit halves of the shared 60-bit md5 hash
      val sigCols = (0 until 8).map(i =>
        s"CAST(min((h1 * ${2 * i + 1} + h2) % 2147483648) AS BIGINT) AS sig_0$i")
        .mkString(",\n|       ")
      s"""WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ($trigramSql)),
        |h AS (SELECT doc_id,
        |        ('0x' || substring(md5(shingle), 1, 15))::BIGINT % 1073741824 AS h1,
        |        (('0x' || substring(md5(shingle), 1, 15))::BIGINT // 1073741824) % 1073741824 AS h2
        |      FROM sh)
        |SELECT doc_id,
        |       $sigCols
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "op93_sem_dedup" -> {
      // SemDeDup replay: shared Lloyd-cell CTEs, then within-cell
      // dominance — b drops iff some a < b in its cell is ≥ 2500 bp
      // similar (the id-greedy rule semDedup implements)
      s"""WITH ${AnnQueries.ivfCellCtes},
        |p AS (
        |  SELECT DISTINCT b.n_id AS drop_id
        |  FROM cc a JOIN cc b
        |    ON a.cent_id = b.cent_id AND a.n_id < b.n_id
        |  WHERE ${AnnQueries.ivfCosTo("a.n_vec", "a.n_n2", "b.n_vec", "b.n_n2")} >= 2500)
        |SELECT n_id AS vec_id, CAST(cent_id AS BIGINT) AS cent_id
        |FROM cc WHERE n_id NOT IN (SELECT drop_id FROM p)
        |ORDER BY vec_id""".stripMargin
    },
    "op63_minhash_pairs" -> {
      // exact replay of the banded LSH join: 16 KM minhashes (as op62),
      // band hash = 15-hex-char md5 prefix of the comma-joined 4-sig
      // band (the same md5 bridge Dedup.lshBands uses via md5Hash60 —
      // joining on the truncated prefix, not the full md5, keeps even
      // prefix-collision pairs identical between engines)
      val sigCols = (0 until 16).map(i =>
        s"CAST(min((h1 * ${2 * i + 1} + h2) % 2147483648) AS BIGINT) AS s$i")
        .mkString(",\n|         ")
      val bandSelects = (0 until 4).map { b =>
        val parts = (b * 4 until b * 4 + 4)
          .map(i => s"CAST(s$i AS VARCHAR)").mkString(", ")
        s"SELECT doc_id, $b AS band_idx, substring(md5(concat_ws(',', $parts)), 1, 15) AS bh FROM sig"
      }.mkString("\n|  UNION ALL ")
      s"""WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ($trigramSql)),
        |h AS (SELECT doc_id,
        |        ('0x' || substring(md5(shingle), 1, 15))::BIGINT % 1073741824 AS h1,
        |        (('0x' || substring(md5(shingle), 1, 15))::BIGINT // 1073741824) % 1073741824 AS h2
        |      FROM sh),
        |sig AS (SELECT doc_id,
        |         $sigCols
        |      FROM h GROUP BY doc_id),
        |bands AS (
        |  $bandSelects)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh
        |WHERE a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin
    },
    "op98_minhash_survivors" -> {
      // op63's full candidate replay (16 KM sigs, 4 bands, md5-prefix
      // band hash) + exact overlap restricted to the candidate pairs +
      // the op64-style greater-id drop at ≥80%
      val sigCols = (0 until 16).map(i =>
        s"CAST(min((h1 * ${2 * i + 1} + h2) % 2147483648) AS BIGINT) AS s$i")
        .mkString(",\n|         ")
      val bandSelects = (0 until 4).map { b =>
        val parts = (b * 4 until b * 4 + 4)
          .map(i => s"CAST(s$i AS VARCHAR)").mkString(", ")
        s"SELECT doc_id, $b AS band_idx, substring(md5(concat_ws(',', $parts)), 1, 15) AS bh FROM sig"
      }.mkString("\n|  UNION ALL ")
      s"""WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ($trigramSql)),
        |h AS (SELECT doc_id,
        |        ('0x' || substring(md5(shingle), 1, 15))::BIGINT % 1073741824 AS h1,
        |        (('0x' || substring(md5(shingle), 1, 15))::BIGINT // 1073741824) % 1073741824 AS h2
        |      FROM sh),
        |sig AS (SELECT doc_id,
        |         $sigCols
        |      FROM h GROUP BY doc_id),
        |bands AS (
        |  $bandSelects),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh
        |  WHERE a.doc_id < b.doc_id),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |ov AS (SELECT cand.doc_a, cand.doc_b, count(*) AS overlap
        |       FROM cand JOIN sh a ON a.doc_id = cand.doc_a
        |                 JOIN sh b ON b.doc_id = cand.doc_b
        |                          AND b.shingle = a.shingle
        |       GROUP BY 1, 2),
        |drops AS (SELECT DISTINCT doc_b AS drop_id
        |          FROM ov JOIN cnt ca ON ov.doc_a = ca.doc_id
        |                  JOIN cnt cb ON ov.doc_b = cb.doc_id
        |          WHERE overlap * 10000 // (ca.n_sh + cb.n_sh - overlap) >= 8000)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT drop_id FROM drops)
        |ORDER BY doc_id""".stripMargin
    },
    "op276_minhash_fidelity" -> {
      // op98's candidate chain (16 KM sigs, 4 bands) + per-pair sig
      // agreement + candidate-restricted exact overlap, zero-overlap
      // false collisions kept via the left join
      val sigCols = (0 until 16).map(i =>
        s"CAST(min((h1 * ${2 * i + 1} + h2) % 2147483648) AS BIGINT) AS s$i")
        .mkString(",\n|         ")
      val bandSelects = (0 until 4).map { b =>
        val parts = (b * 4 until b * 4 + 4)
          .map(i => s"CAST(s$i AS VARCHAR)").mkString(", ")
        s"SELECT doc_id, $b AS band_idx, substring(md5(concat_ws(',', $parts)), 1, 15) AS bh FROM sig"
      }.mkString("\n|  UNION ALL ")
      val agree = (0 until 16)
        .map(i => s"(CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END)")
        .mkString(" +\n|      ")
      s"""WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ($trigramSql)),
        |h AS (SELECT doc_id,
        |        ('0x' || substring(md5(shingle), 1, 15))::BIGINT % 1073741824 AS h1,
        |        (('0x' || substring(md5(shingle), 1, 15))::BIGINT // 1073741824) % 1073741824 AS h2
        |      FROM sh),
        |sig AS (SELECT doc_id,
        |         $sigCols
        |      FROM h GROUP BY doc_id),
        |bands AS (
        |  $bandSelects),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh
        |  WHERE a.doc_id < b.doc_id),
        |est AS (
        |  SELECT c.doc_a, c.doc_b, CAST($agree AS BIGINT) AS n_agree
        |  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
        |              JOIN sig sb ON sb.doc_id = c.doc_b),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |ov AS (SELECT cand.doc_a, cand.doc_b, count(*) AS overlap
        |       FROM cand JOIN sh a ON a.doc_id = cand.doc_a
        |                 JOIN sh b ON b.doc_id = cand.doc_b
        |                          AND b.shingle = a.shingle
        |       GROUP BY 1, 2),
        |fin AS (
        |  SELECT e.doc_a, e.doc_b, e.n_agree,
        |    CAST(e.n_agree * 10000 // 16 AS BIGINT) AS est_bp,
        |    CAST(coalesce(o.overlap, 0) * 10000 //
        |      (ca.n_sh + cb.n_sh - coalesce(o.overlap, 0)) AS BIGINT)
        |      AS exact_bp
        |  FROM est e
        |  LEFT JOIN ov o ON o.doc_a = e.doc_a AND o.doc_b = e.doc_b
        |  JOIN cnt ca ON e.doc_a = ca.doc_id
        |  JOIN cnt cb ON e.doc_b = cb.doc_id)
        |SELECT doc_a, doc_b, n_agree, est_bp, exact_bp,
        |  CAST(est_bp - exact_bp AS BIGINT) AS err_bp
        |FROM fin ORDER BY doc_a, doc_b""".stripMargin
    },
    "op64_dedup_survivors" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ($trigramSql)),
        |keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |shc AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
        |       FROM shc a JOIN shc b USING (shingle) WHERE a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |drops AS (SELECT DISTINCT doc_b AS drop_id
        |          FROM ov JOIN cnt ca ON ov.doc_a = ca.doc_id
        |                  JOIN cnt cb ON ov.doc_b = cb.doc_id
        |          WHERE overlap * 10000 // (ca.n_sh + cb.n_sh - overlap) >= 8000)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id NOT IN (SELECT drop_id FROM drops)
        |ORDER BY doc_id""".stripMargin,
    "op65_simhash" -> {
      // bit-sliced weighted majority over the shared 60-bit md5 hash —
      // pure integer arithmetic, replayed exactly (see Dedup.simhash60)
      val sliceCols = (0 until 60).map(j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN w ELSE -w END) AS s$j")
        .mkString(",\n|         ")
      val fpExpr = (0 until 60).map(j =>
        s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
        .mkString(" +\n|         ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |tw AS (SELECT doc_id, token, count(*) AS w FROM tok GROUP BY 1, 2),
        |h AS (SELECT doc_id, w,
        |        ('0x' || substring(md5(token), 1, 15))::BIGINT AS h
        |      FROM tw),
        |s AS (SELECT doc_id,
        |         $sliceCols
        |      FROM h GROUP BY doc_id)
        |SELECT doc_id,
        |       CAST($fpExpr AS BIGINT) AS simhash
        |FROM s ORDER BY doc_id""".stripMargin
    },
    "op101_paraphrase_mine" -> {
      // exact replay of the 12-bit × 8-table sign-LSH bucket-pair miner
      // (same md5-seeded quantized planes inlined as literals — the
      // op68 generator at op66's near-dup geometry) + cosine filter at
      // 2500 bp + candidate-restricted trigram-overlap classification
      val tables = (0 until 8).map { t =>
        val planes = graft.functions.Similarity.hyperplanes(12, 64, t)
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
        |  SELECT DISTINCT l.vec_id AS doc_a, r.vec_id AS doc_b
        |  FROM bk l JOIN bk r ON l.tbl = r.tbl AND l.bucket = r.bucket
        |  WHERE l.vec_id < r.vec_id),
        |p AS (
        |  SELECT cand.doc_a, cand.doc_b,
        |         CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN CAST(0 AS BIGINT)
        |              ELSE CAST(floor(CAST(list_sum([a.v[i+1] * b.v[i+1] FOR i IN range(64)]) AS DOUBLE)
        |                   / (sqrt(a.n2) * sqrt(b.n2)) * 10000) AS BIGINT) END AS cos_bp
        |  FROM cand JOIN n a ON cand.doc_a = a.vec_id
        |            JOIN n b ON cand.doc_b = b.vec_id),
        |pf AS (SELECT * FROM p WHERE cos_bp >= 2500),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM ($trigramSql)),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |ov AS (SELECT pf.doc_a, pf.doc_b, count(*) AS overlap
        |       FROM pf JOIN sh a ON a.doc_id = pf.doc_a
        |               JOIN sh b ON b.doc_id = pf.doc_b
        |                        AND b.shingle = a.shingle
        |       GROUP BY 1, 2),
        |j AS (
        |  SELECT pf.doc_a, pf.doc_b, pf.cos_bp,
        |         CAST(coalesce(ov.overlap * 10000
        |           // (ca.n_sh + cb.n_sh - ov.overlap), 0) AS BIGINT) AS jaccard_bp
        |  FROM pf LEFT JOIN ov ON pf.doc_a = ov.doc_a AND pf.doc_b = ov.doc_b
        |          LEFT JOIN cnt ca ON pf.doc_a = ca.doc_id
        |          LEFT JOIN cnt cb ON pf.doc_b = cb.doc_id)
        |SELECT doc_a, doc_b, cos_bp, jaccard_bp,
        |       CASE WHEN jaccard_bp >= 7000 THEN 'lexical'
        |            ELSE 'semantic' END AS kind
        |FROM j ORDER BY doc_a, doc_b""".stripMargin
    },
    "op82_decontaminate" -> decontaminateSql,
    // op102 is op82 with a bloom PREFILTER + exact confirm — no false
    // negatives means the result set is identical, so the oracle is too
    "op102_bloom_decontaminate" -> decontaminateSql,
    "op104_stream_incr_dedup" ->
      """WITH fps AS (SELECT DISTINCT
        |  ('0x' || substring(md5('fp:' || text), 1, 15))::BIGINT AS fp
        |  FROM documents),
        |store AS (SELECT DISTINCT
        |  ('0x' || substring(md5('fp:' || text), 1, 15))::BIGINT AS fp
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT fp FROM fps WHERE fp NOT IN (SELECT fp FROM store)
        |ORDER BY fp""".stripMargin,
    "op134_stream_decontaminate" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ($trigramSql)),
        |b AS (SELECT DISTINCT ('0x' || substring(md5(shingle), 1, 15))::BIGINT AS h
        |      FROM sh WHERE doc_id % 50 = 0),
        |t AS (SELECT DISTINCT doc_id,
        |        ('0x' || substring(md5(shingle), 1, 15))::BIGINT AS h
        |      FROM sh WHERE doc_id % 50 <> 0)
        |SELECT DISTINCT doc_id FROM t JOIN b USING (h)
        |ORDER BY doc_id""".stripMargin,
    "op132_stream_near_dedup" -> {
      // op98's full replay (16 KM sigs, 4 md5-prefix bands, candidate
      // join, candidate-restricted exact overlap) RESTRICTED to pairs
      // between the persisted store slice (doc_id % 3 = 0) and the
      // streamed slice (the rest) at >= 80%
      val sigCols = (0 until 16).map(i =>
        s"CAST(min((h1 * ${2 * i + 1} + h2) % 2147483648) AS BIGINT) AS s$i")
        .mkString(",\n|         ")
      val bandSelects = (0 until 4).map { b =>
        val parts = (b * 4 until b * 4 + 4)
          .map(i => s"CAST(s$i AS VARCHAR)").mkString(", ")
        s"SELECT doc_id, $b AS band_idx, substring(md5(concat_ws(',', $parts)), 1, 15) AS bh FROM sig"
      }.mkString("\n|  UNION ALL ")
      s"""WITH sh AS (SELECT DISTINCT doc_id, shingle FROM ($trigramSql)),
        |h AS (SELECT doc_id,
        |        ('0x' || substring(md5(shingle), 1, 15))::BIGINT % 1073741824 AS h1,
        |        (('0x' || substring(md5(shingle), 1, 15))::BIGINT // 1073741824) % 1073741824 AS h2
        |      FROM sh),
        |sig AS (SELECT doc_id,
        |         $sigCols
        |      FROM h GROUP BY doc_id),
        |bands AS (
        |  $bandSelects),
        |cand AS (
        |  SELECT DISTINCT b.doc_id AS doc_id, a.doc_id AS dup_of
        |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh
        |  WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |ov AS (SELECT cand.doc_id, cand.dup_of, count(*) AS overlap
        |       FROM cand JOIN sh s ON s.doc_id = cand.doc_id
        |                 JOIN sh t ON t.doc_id = cand.dup_of
        |                          AND t.shingle = s.shingle
        |       GROUP BY 1, 2)
        |SELECT ov.doc_id, ov.dup_of,
        |       CAST(overlap * 10000 // (ca.n_sh + cb.n_sh - overlap) AS BIGINT) AS jaccard_bp
        |FROM ov JOIN cnt ca ON ov.doc_id = ca.doc_id
        |        JOIN cnt cb ON ov.dup_of = cb.doc_id
        |WHERE overlap * 10000 // (ca.n_sh + cb.n_sh - overlap) >= 8000
        |ORDER BY ov.doc_id, ov.dup_of""".stripMargin
    },
    "op103_span_scrub" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |            len(string_split(text, ' ')) AS n FROM documents),
        |c AS (SELECT doc_id, toks,
        |        unnest(range(greatest((n + 7) // 8, 1))) AS i FROM t),
        |s AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |        array_to_string(toks[i*8+1 : i*8+8], ' ') AS span FROM c),
        |d AS (SELECT span FROM (SELECT span, count(DISTINCT doc_id) AS nd
        |                        FROM s GROUP BY span) WHERE nd >= 2),
        |f AS (SELECT s.doc_id, s.pos, s.span, d.span IS NOT NULL AS dup
        |      FROM s LEFT JOIN d ON s.span = d.span)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_scrubbed,
        |  coalesce(string_agg(CASE WHEN NOT dup THEN span END,
        |                      ' ' ORDER BY pos), '') AS text_clean
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "op77_dedup_clusters" ->
      s"""WITH RECURSIVE
        |$clusterCtes
        |SELECT doc_id, CAST(cluster AS BIGINT) AS cluster
        |FROM clu ORDER BY doc_id""".stripMargin,
    "op114_cluster_histogram" ->
      s"""WITH RECURSIVE
        |$clusterCtes,
        |sz AS (SELECT cluster, count(*) AS sz FROM clu GROUP BY cluster)
        |SELECT CAST(sz AS BIGINT) AS cluster_size,
        |  CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(sz) AS BIGINT) AS n_docs
        |FROM sz GROUP BY sz ORDER BY cluster_size""".stripMargin,
    // op130: the oracle joins on raw window STRINGS where Spark joins on
    // rolling hashes — a hash collision would break the row match, so
    // the pass certifies injectivity at this scale
    "op130_char_dup_profile" ->
      """WITH wins AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |         substring(text, CAST(i AS INTEGER), 40) AS s
        |  FROM documents,
        |       LATERAL (SELECT unnest(generate_series(1, length(text) - 39)) AS i) g
        |  WHERE length(text) >= 40),
        |hot AS (SELECT s FROM wins GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        |flag AS (SELECT w.doc_id, w.pos, (h.s IS NOT NULL) AS dup
        |         FROM wins w LEFT JOIN hot h ON w.s = h.s),
        |isl AS (SELECT doc_id,
        |               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |        FROM flag WHERE dup),
        |runs AS (SELECT doc_id, count(*) AS run FROM isl GROUP BY doc_id, grp),
        |mx AS (SELECT doc_id, max(run) AS maxrun FROM runs GROUP BY doc_id),
        |agg AS (SELECT doc_id, count(*) AS n_windows,
        |               sum(CASE WHEN dup THEN 1 ELSE 0 END) AS n_dup
        |        FROM flag GROUP BY doc_id)
        |SELECT a.doc_id, CAST(a.n_windows AS BIGINT) AS n_windows,
        |       CAST(a.n_dup AS BIGINT) AS n_dup,
        |       CAST(coalesce(m.maxrun + 39, 0) AS BIGINT) AS longest_dup
        |FROM agg a LEFT JOIN mx m USING (doc_id) ORDER BY a.doc_id""".stripMargin)

  val oracle: Map[String, String] = baseOracle ++ Map(
    // both exact-jaccard spellings are result-identical, so the
    // cost-chosen one shares the uncapped prefix oracle
    "op61_dedup_ngram_auto" -> baseOracle("op61_dedup_ngram_prefix"))
}
