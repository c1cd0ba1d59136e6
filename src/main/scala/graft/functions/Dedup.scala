package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design:
  *  - exact dedup is a hash aggregate on the content key — map-side partial
  *    aggregation, one shuffle keyed by content hash (not raw text: group on
  *    md5 to keep shuffle rows small at 100 TB — here text is the key for
  *    oracle transparency, swap `keyCol` for md5(text) at scale);
  *  - n-gram Jaccard uses an inverted shingle index: only documents sharing
  *    a shingle are ever paired, so cost follows true collision volume, not
  *    n². The shingle join shuffles on shingle; hot shingles (stopword runs)
  *    should be dropped by a document-frequency cap before joining;
  *  - MinHash compresses each doc to k 60-bit mins (one aggregate pass),
  *    LSH bands turn candidate generation into an equi-join on band hashes —
  *    the standard sub-quadratic path. All hashes are md5-derived and
  *    cross-engine reproducible (no JVM-private hash functions).
  */
object Dedup {

  /** Exact dedup: keep the smallest id per identical content value.
    * Returns (keep_id, n_copies) per distinct content. */
  def exactKeepMin(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).cast("bigint").as("keep_id"),
           count(lit(1)).cast("bigint").as("n_copies"))

  /** Distinct (doc, shingle) inverted-index table. Tokens are projected
    * once below the explode so the trigram lambda reads a materialized
    * array instead of re-splitting the text per element. */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        explode(TextOps.trigramsOfTokens(col("toks"))).as("shingle"))
      .distinct()

  /** Inverted index keyed by xxhash64(shingle) instead of the raw string:
    * every downstream shuffle/join/aggregate moves 8-byte longs instead
    * of ~30-byte text (the distinct itself included) — the difference is
    * network bytes at cluster scale. xxhash64 (not md5): the key is
    * INTERNAL (outputs carry doc ids and counts, so the oracle's
    * raw-string joins still match), and the codegen'd xxhash64 is an
    * order of magnitude cheaper than the md5-hex chain. Deterministic
    * (fixed seed) across runs/partitionings; collisions ~2⁻⁶⁴ per pair. */
  def shingleIndexHashed(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // fused trigram hashing (one per-row loop; bit-identical to
    // xxhash64(trigramsOfTokens(...)), equality-spec'd) — avoids the
    // per-element lambda interpretation + throwaway trigram strings of
    // the builtin spelling. Measured neutral at sf0.1 (these queries are
    // join/shuffle-dominated); the saving is allocation volume, which
    // grows with corpus size while the fixture's ~2.8M trigrams don't
    val hashes = ColumnBridge.column(graft.expressions.TrigramHash64(
      ColumnBridge.expression(TextOps.tokens(col(textCol)))))
    df.select(col(idCol).as("doc_id"), explode(hashes).as("shingle"))
      .distinct()
  }

  /** Shingle-count per document (distinct shingles). */
  def shingleCounts(index: DataFrame): DataFrame =
    index.groupBy(col("doc_id")).agg(count(lit(1)).cast("bigint").as("n_sh"))

  /** Candidate pairs (a<b) with shingle-overlap counts, via self-join of
    * the inverted index. `maxDocFreq` drops ubiquitous shingles first —
    * without it, one hot shingle creates a quadratic blowup. */
  def overlapPairs(index: DataFrame, maxDocFreq: Option[Long] = None): DataFrame = {
    val idx = maxDocFreq match {
      case Some(cap) =>
        // anti-join away the HOT set (df > cap) instead of inner-joining
        // the huge kept set. No broadcast hint: the hot set is usually
        // tiny (AQE broadcasts it from runtime stats) but is NOT bounded
        // by construction — a corpus where many shingles exceed the cap
        // must fall back to a shuffle anti-join, not OOM the driver.
        // Materialized: the capped index feeds BOTH sides of the pairing
        // self-join, so without it the df aggregate + anti-join run twice
        val hot = index.groupBy(col("shingle"))
          .agg(count(lit(1)).as("df")).filter(col("df") > cap)
          .select(col("shingle"))
        index.join(hot, Seq("shingle"), "left_anti").localCheckpoint()
      case None => index
    }
    val a = idx.select(col("doc_id").as("doc_a"), col("shingle"))
    val b = idx.select(col("doc_id").as("doc_b"), col("shingle"))
    a.join(b, "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("bigint").as("overlap"))
  }

  /** Jaccard similarity in basis points (exact integer arithmetic):
    * 10000*|A∩B| / (|A|+|B|-|A∩B|). Returns pairs ≥ `minBp`.
    *
    * `maxDocFreq` caps the shingles entering the pairing join (shingle
    * counts per doc stay uncapped): a shingle in d documents produces
    * O(d²) join rows, so ONE boilerplate shingle shared by 1% of a 10⁹-doc
    * corpus is a 10¹⁴-row blowup. The cap bounds join fan-out by
    * docs·cap·maxDocFreq — the difference between "scales" and "doesn't".
    * Overlap (and thus jaccard) becomes a lower bound for pairs that
    * shared a hot shingle; true near-dups share many rare shingles and
    * keep their score. */
  /** Directed CONTAINMENT pairs — C(inner ⊆ outer) = |A∩B|/|A| in bp,
    * both directions of every candidate pair, kept where containment ≥
    * minBp; the symmetric jaccard rides along for contrast. This is
    * the quote/boilerplate-inside-document detector: a small doc fully
    * embedded in a large one scores containment ~10⁴ while its jaccard
    * (÷ the UNION) can sit far below any dedup threshold — the
    * asymmetric case op61's symmetric gate structurally misses.
    * Candidate generation, doc-frequency cap, and count semantics are
    * exactly [[jaccardPairs]]'s (overlap over the capped index, sizes
    * over the uncapped one). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      minBp: Long, maxDocFreq: Option[Long] = None): DataFrame = {
    val index = shingleIndexHashed(df, idCol, textCol).localCheckpoint()
    val counts = shingleCounts(index)
    val base = overlapPairs(index, maxDocFreq)
      .join(counts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
    val directed = base.select(col("doc_a").as("inner_doc"),
        col("doc_b").as("outer_doc"), col("overlap"),
        col("n_a").as("n_inner"), col("n_b").as("n_outer"))
      .union(base.select(col("doc_b"), col("doc_a"), col("overlap"),
        col("n_b"), col("n_a")))
    directed
      .withColumn("containment_bp",
        (col("overlap") * 10000L / col("n_inner")).cast("bigint"))
      .withColumn("jaccard_bp",
        (col("overlap") * 10000L /
          (col("n_inner") + col("n_outer") - col("overlap")))
          .cast("bigint"))
      .filter(col("containment_bp") >= minBp)
      .select(col("inner_doc"), col("outer_doc"), col("overlap"),
        col("n_inner"), col("n_outer"), col("containment_bp"),
        col("jaccard_bp"))
  }

  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      minBp: Long, maxDocFreq: Option[Long] = None): DataFrame =
    // the distinct index is small (≪ corpus: one row per distinct
    // doc-shingle pair) and consumed 4× (self-join sides + two count
    // joins) — materialize once instead of recomputing the explode chain
    jaccardFromIndex(shingleIndexHashed(df, idCol, textCol).localCheckpoint(),
      minBp, maxDocFreq)

  private def jaccardFromIndex(index: DataFrame, minBp: Long,
      maxDocFreq: Option[Long]): DataFrame = {
    // counts feeds two joins but is NOT checkpointed: the duplicated
    // aggregate subtrees are identical, so ReuseExchange shares the
    // shuffle (measured: an eager checkpoint here is neutral-to-worse)
    val counts = shingleCounts(index)
    overlapPairs(index, maxDocFreq)
      .join(counts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard_bp",
        (col("overlap") * 10000L / (col("n_a") + col("n_b") - col("overlap")))
          .cast("bigint"))
      .filter(col("jaccard_bp") >= minBp)
      .select(col("doc_a"), col("doc_b"), col("overlap"), col("n_a"),
        col("n_b"), col("jaccard_bp"))
  }

  /** Exact Jaccard pairs via prefix filtering (ppjoin-style): under a
    * global rarest-first shingle order, two sets with jaccard ≥ τ must
    * share an element within their (n - ⌈τ·n⌉ + 1)-prefixes — so only
    * prefix collisions generate candidates, and the full overlap is then
    * computed for candidates only. Exactly equal to [[jaccardPairs]]
    * (same oracle), but candidate volume follows the similar-pair count
    * instead of the shared-shingle count: the scale path for large
    * corpora where even the inverted-index join blows up.
    *
    * Measured crossover: at sf0.1 (5k docs, ~2.8M shared-shingle rows)
    * the baseline is ~2× FASTER — the prefix machinery (doc-frequency
    * join, per-doc window, candidate-restricted overlap) only pays once
    * the shared-shingle join dominates. Pick per corpus statistics.
    */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
      minBp: Long): DataFrame =
    jaccardPrefixFromIndex(
      shingleIndexHashed(df, idCol, textCol).localCheckpoint(), minBp)

  private def jaccardPrefixFromIndex(index: DataFrame, minBp: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = shingleCounts(index)
    val dfreq = index.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
    // rarest-first global order; tiebreak on shingle for determinism.
    // (A grouped collect_list + array_sort + slice spelling was measured
    // ~25% SLOWER here — interpreted array ops cost more than the
    // window's sort — so the window stays.)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    val prefix = index
      .join(dfreq, "shingle")
      .join(counts, "doc_id")
      .withColumn("rn", row_number().over(w))
      // t = ⌈τ·n⌉ in integer arithmetic; prefix keeps n - t + 1 shingles
      .withColumn("t", expr(s"(n_sh * $minBp + 9999) div 10000"))
      .filter(col("rn") <= col("n_sh") - col("t") + 1)
      .select(col("doc_id"), col("shingle"))
    val pa = prefix.select(col("doc_id").as("doc_a"), col("shingle"))
    val pb = prefix.select(col("doc_id").as("doc_b"), col("shingle"))
    val cand = pa.join(pb, "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // exact overlap, restricted to candidates
    val ia = index.select(col("doc_id").as("doc_a"), col("shingle"))
    val ib = index.select(col("doc_id").as("doc_b"), col("shingle"))
    val overlap = cand.join(ia, "doc_a")
      .join(ib, Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("bigint").as("overlap"))
    overlap
      .join(counts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard_bp",
        (col("overlap") * 10000L / (col("n_a") + col("n_b") - col("overlap")))
          .cast("bigint"))
      .filter(col("jaccard_bp") >= minBp)
      .select(col("doc_a"), col("doc_b"), col("overlap"), col("n_a"),
        col("n_b"), col("jaccard_bp"))
  }

  /** Cost-based choice between the two exact-jaccard spellings. The
    * pairing join emits exactly Σ_s df(s)·(df(s)−1)/2 rows over the
    * shingle document frequencies — computable from one tiny aggregate
    * over the index BEFORE running either algorithm (the same statistic
    * AQE-style planning would want, gathered for one extra scan of the
    * materialized index). When that candidate volume stays within
    * `ratio`× the index size, the plain inverted-index join wins (the
    * prefix machinery — df join, per-doc window, candidate-restricted
    * overlap — costs more than it saves); past it, prefix filtering's
    * pruned candidates win. Measured calibration on the sf0.1 corpus:
    * at pairs/rows ≈ 5 the plain join is still ~15% faster, so the
    * default crossover sits at 10×. Returns true when prefix should
    * run. */
  private[graft] def preferPrefix(index: DataFrame, ratio: Double): Boolean = {
    val row = index.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      // df is unbounded here (the stat runs BEFORE any doc-frequency
      // cap), so the quadratic term accumulates in DECIMAL(38,0): at
      // df ≈ 10⁹ one shingle contributes ~5×10¹⁷ and a BIGINT sum
      // over shingles wraps. Planning stat only — one scalar row.
      .agg(sum(expr("CAST(df AS DECIMAL(19,0)) * (df - 1) / 2"))
           .cast("decimal(38,0)").as("pairs"),
           sum(col("df")).as("rows"))
      .collect()(0)
    val pairs = Option(row.get(0))
      .fold(BigDecimal(0))(v => BigDecimal(v.asInstanceOf[java.math.BigDecimal]))
    val rows = Option(row.get(1)).fold(0L)(_.asInstanceOf[Long])
    pairs > BigDecimal(ratio) * rows
  }

  /** Exact jaccard pairs with the spelling chosen from corpus statistics
    * (both spellings are result-identical — spec'd): a planning-time
    * driver decision from one scalar aggregate, the operator-selection
    * analog of AQE's runtime statistics. */
  def jaccardPairsAuto(df: DataFrame, idCol: String, textCol: String,
      minBp: Long, ratio: Double = 10.0): DataFrame = {
    val index = shingleIndexHashed(df, idCol, textCol).localCheckpoint()
    if (preferPrefix(index, ratio)) jaccardPrefixFromIndex(index, minBp)
    else jaccardFromIndex(index, minBp, None)
  }

  /** Near-dup survivors: documents that are not the greater side of any
    * pair at ≥ minBp (i.e. keep the smallest doc_id of each near-dup
    * cluster edge). Anti-join — no state beyond the pair set. */
  def survivors(df: DataFrame, idCol: String, textCol: String,
      minBp: Long, maxDocFreq: Option[Long] = None): DataFrame = {
    val dupped = jaccardPairs(df, idCol, textCol, minBp, maxDocFreq)
      .select(col("doc_b").as("drop_id")).distinct()
    df.join(dupped, df(idCol) === dupped("drop_id"), "left_anti")
  }

  /** LSH band values: bands of `r` consecutive signature components,
    * hashed to one 60-bit value each → (doc_id, band_idx, band_hash). */
  def lshBands(sig: DataFrame, k: Int, r: Int): DataFrame = {
    require(k % r == 0, s"k=$k must be divisible by band width r=$r")
    val bands = (0 until k / r).map { b =>
      val cols = (b * r until (b + 1) * r)
        .map(i => col(f"sig_$i%02d").cast("string"))
      struct(lit(b).as("band_idx"),
        TextOps.md5Hash60(concat_ws(",", cols: _*)).as("band_hash"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx").as("band_idx"),
        col("band.band_hash").as("band_hash"))
  }

  /** MinHash signature via the Kirsch-Mitzenmacher construction: ONE md5
    * per shingle yields two 30-bit halves (h1, h2); permutation i is the
    * affine combination (h1·(2i+1) + h2) mod 2^31. Hashing cost per
    * shingle is constant in k (a per-permutation-md5 spelling
    * costs k md5s per shingle — 16× the work at k=16). The affine formula
    * is pure integer arithmetic on the md5-60 halves, so the DuckDB
    * oracle replays the signatures exactly (op62) — which is also why the
    * base hash must stay md5-60, never a JVM-private or xxhash64 hash.
    */
  def minhashSignatureFast(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    minhashSignatureFastFromIndex(shingleIndex(df, idCol, textCol), k)

  /** [[minhashSignatureFast]] over a prebuilt raw-string (doc_id,
    * shingle) index — lets callers that also need the index for exact
    * verification ([[survivorsMinhash]]) shingle the corpus ONCE. */
  private def minhashSignatureFastFromIndex(index: DataFrame,
      k: Int): DataFrame = {
    // md5-60 base hash (NOT xxhash64): signature values are oracle-checked,
    // so the hash must be replayable in SQL on the raw shingle strings
    val h = index
      .withColumn("h", TextOps.md5Hash60(col("shingle")))
      .withColumn("h1", (col("h") % 1073741824L).cast("bigint"))
      .withColumn("h2", expr("(h div 1073741824) % 1073741824"))
    val aggs = (0 until k).map { i =>
      min((col("h1") * (2 * i + 1) + col("h2")) % 2147483648L)
        .cast("bigint").as(f"sig_$i%02d")
    }
    h.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Candidate pairs from LSH band collisions (a<b, distinct). */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, r: Int = 4): DataFrame =
    minhashCandidatesFromIndex(shingleIndex(df, idCol, textCol), k, r)

  private def minhashCandidatesFromIndex(index: DataFrame, k: Int,
      r: Int): DataFrame = {
    // band table is tiny (docs × k/r rows) and self-joined — materialize
    val bands = lshBands(minhashSignatureFastFromIndex(index, k), k, r)
      .localCheckpoint()
    val a = bands.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_hash"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band_idx"), col("band_hash"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** The production web-scale dedup composition, end-to-end: MinHash+LSH
    * candidate generation ([[minhashCandidates]]) → EXACT Jaccard
    * verification restricted to candidates → drop the greater id of
    * every verified ≥ `minBp` pair. This is the shape a 10⁹-document
    * curation run actually executes — candidate volume follows band
    * collisions (sub-quadratic by construction, no doc-frequency cap
    * needed because nothing ever joins on raw shingles), and the exact
    * verification touches only candidate pairs, so false LSH collisions
    * cost one overlap count instead of surviving into the output.
    * Recall is bounded by the banding (1-(1-j^r)^(k/r) per pair — ≈1 at
    * j ≥ 0.8 with k=16, r=4); pairs the bands miss are the documented
    * ANN trade, exactly as in [[graft.functions.Similarity]]'s paths.
    * All hashes are md5-derived ⇒ the full chain (signatures, bands,
    * candidate set, verified overlap) replays exactly in SQL. */
  def survivorsMinhash(df: DataFrame, idCol: String, textCol: String,
      minBp: Long, k: Int = 16, r: Int = 4): DataFrame = {
    // shingle the corpus ONCE: the raw-string index feeds the minhash
    // signatures (which need md5 on raw shingles — oracle-replayable)
    // AND, re-keyed by xxhash64, the exact verification joins (internal
    // key — overlap counts are hash-agnostic, and 8-byte longs beat
    // ~30-byte strings through every downstream shuffle)
    val raw = shingleIndex(df, idCol, textCol).localCheckpoint()
    val cand = minhashCandidatesFromIndex(raw, k, r)
    val index = raw.select(col("doc_id"),
      xxhash64(col("shingle")).as("shingle"))
    val counts = shingleCounts(index)
    val ia = index.select(col("doc_id").as("doc_a"), col("shingle"))
    val ib = index.select(col("doc_id").as("doc_b"), col("shingle"))
    val overlap = cand.join(ia, "doc_a")
      .join(ib, Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("bigint").as("overlap"))
    val dropped = overlap
      .join(counts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .filter((col("overlap") * 10000L /
        (col("n_a") + col("n_b") - col("overlap"))).cast("bigint") >= minBp)
      .select(col("doc_b").as("drop_id")).distinct()
    df.join(dropped, df(idCol) === dropped("drop_id"), "left_anti")
  }

  /** MinHash estimator fidelity (op276): for every LSH candidate pair,
    * the ESTIMATED Jaccard (sig-agreement fraction over k minhashes)
    * beside the EXACT Jaccard (overlap count restricted to candidates —
    * the op98 verification leg), and their signed error. This is the
    * eval leg the minhash family was missing: op110 scores ANN recall
    * against brute force, op276 scores the sketch against the set —
    * the number that justifies (or indicts) k when the dedup gate's
    * threshold sits near the estimator's noise floor.
    *
    * 100 TB shape: candidate volume = band collisions (sub-quadratic);
    * the agreement count is a k-column comparison on the |cand| rows;
    * the exact leg reuses the already-shingled index. Nothing here
    * exceeds the dedup pass that already runs. */
  def minhashFidelity(df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, r: Int = 4): DataFrame = {
    val raw = shingleIndex(df, idCol, textCol).localCheckpoint()
    val sigs = minhashSignatureFastFromIndex(raw, k).localCheckpoint()
    val bands = lshBands(sigs, k, r)
    val ba = bands.select(col("doc_id").as("doc_a"), col("band_idx"),
      col("band_hash"))
    val bb = bands.select(col("doc_id").as("doc_b"), col("band_idx"),
      col("band_hash"))
    val cand = ba.join(bb, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sa = sigs.select(col("doc_id").as("doc_a") +:
      (0 until k).map(i => col(f"sig_$i%02d").as(s"a$i")): _*)
    val sb = sigs.select(col("doc_id").as("doc_b") +:
      (0 until k).map(i => col(f"sig_$i%02d").as(s"b$i")): _*)
    val agree = (0 until k)
      .map(i => s"(CASE WHEN a$i = b$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val est = cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("n_agree", expr(s"CAST($agree AS BIGINT)"))
      .select("doc_a", "doc_b", "n_agree")
    val index = raw.select(col("doc_id"),
      xxhash64(col("shingle")).as("shingle"))
    val counts = shingleCounts(index)
    val ia = index.select(col("doc_id").as("doc_a"), col("shingle"))
    val ib = index.select(col("doc_id").as("doc_b"), col("shingle"))
    val overlap = cand.join(ia, "doc_a")
      .join(ib, Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("bigint").as("overlap"))
    est
      // false LSH collisions can share ZERO shingles — the left join +
      // coalesce keeps them (they are exactly the estimator's failures)
      .join(overlap, Seq("doc_a", "doc_b"), "left")
      .withColumn("ov", coalesce(col("overlap"), lit(0L)))
      .join(counts.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("est_bp", expr(s"n_agree * 10000 div $k"))
      .withColumn("exact_bp", expr("ov * 10000 div (n_a + n_b - ov)"))
      .select(col("doc_a"), col("doc_b"), col("n_agree"), col("est_bp"),
        col("exact_bp"), (col("est_bp") - col("exact_bp")).as("err_bp"))
  }

  /** Transitive near-dup clusters: connected components over the pair
    * graph, labeling every document with the minimum doc_id reachable
    * through near-dup edges (A~B, B~C ⇒ A,B,C share one representative —
    * the pairwise `survivors` view under-merges exactly these chains).
    *
    * Algorithm: [[Components.minLabels]] with one pointer jump per
    * round (cluster ids are doc ids, so one self-join chases the
    * pointer): convergence is O(log diameter) — 20 rounds covers chains
    * of length 2²⁰, making the hard cap unreachable in practice rather
    * than a silent wrong-answer mode. Singleton documents keep
    * themselves as representative. */
  def dedupClusters(df: DataFrame, idCol: String, textCol: String,
      minBp: Long, maxDocFreq: Option[Long] = None,
      maxRounds: Int = 20): DataFrame = {
    val pairs = jaccardPairs(df, idCol, textCol, minBp, maxDocFreq)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .localCheckpoint()
    val edges = pairs.union(pairs.select(col("dst"), col("src")))
    // propagate over the EDGE-VERTEX SUBGRAPH only: a document with no
    // qualifying pair can never change label, so it stays out of every
    // per-round join and is appended as its own singleton cluster at the
    // end — the iteration scales with the duplicate subgraph, not the
    // corpus (at 100 TB those differ by orders of magnitude; at fixture
    // scale the restriction is overhead-neutral — kept for the scale
    // contract, measured within noise of the full-corpus iteration)
    val verts = edges.select(col("src").as("doc_id")).distinct()
      .localCheckpoint()
    val (labels, _) = Components.minLabels(edges,
      verts.select(col("doc_id").as("v")), jumps = 1, maxRounds)
    // singletons (no qualifying pair) keep themselves as representative
    labels.select(col("v").as("doc_id"), col("lab").as("cluster"))
      .unionByName(
        df.select(col(idCol).as("doc_id"))
          .join(verts, Seq("doc_id"), "left_anti")
          .withColumn("cluster", col("doc_id")))
  }

  /** SimHash-60: weighted majority of per-token hash bits. Tokens hashed
    * with md5Hash60; bit j of the fingerprint is 1 iff the count-weighted
    * sum of (bit_j ? +w : -w) over distinct tokens is positive.
    *
    * Bit-sliced spelling: 60 codegen'd `sum(if(bit_j, w, -w))` columns in
    * ONE hash aggregate — bounded state (60 longs per doc), map-side
    * partial-aggregatable, no arrays. (The previous collect_list +
    * aggregate/zip_with fold ran interpreted per element and per-doc
    * state grew with token count.) Pure integer arithmetic on the shared
    * 60-bit md5 hash, so the DuckDB oracle replays it exactly. */
  /** Leakage-safe split assignment over ANY precomputed clustering —
    * (id, cluster) in, (id, cluster, bucket, split) out. The split
    * hangs off a content-independent hash of the cluster REPRESENTATIVE
    * (`h(cluster) mod 100`, train < trainPct ≤ val < trainPct+valPct ≤
    * test), so co-clustered rows (near-duplicates, semantic duplicates
    * — whatever the upstream clustering groups) can never straddle a
    * split boundary, assignments survive reruns/resharding, and a
    * growing corpus never moves an existing cluster between splits
    * (new members join their cluster's split). op92 composes this with
    * [[dedupClusters]]; it composes equally with
    * [[Similarity.semDedup]]'s cells. Per-row hash + CASE — free at any
    * scale on top of the clustering that feeds it.
    *
    * The cluster label is hashed through its STRING form directly —
    * numeric AND string-labeled clusterings both work (an intermediate
    * bigint cast would turn string labels into nulls and silently
    * collapse the whole split). The label's own type passes through. */
  def splitByCluster(clusters: DataFrame, idCol: String = "doc_id",
      clusterCol: String = "cluster",
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct > 0 && trainPct + valPct < 100,
      "need train/val/test all non-empty")
    val bucket =
      TextOps.md5Hash60(concat(lit("split:"), col(clusterCol).cast("string"))) % 100
    clusters.select(col(idCol), col(clusterCol))
      .withColumn("bucket", bucket.cast("bigint"))
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** Duplicate-SPAN scrubbing — sub-document dedup, the fixed-granularity
    * spelling of exact-substring dedup (Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"; CCNet's repeated-
    * paragraph removal): whole-doc dedup misses the boilerplate
    * (headers, license blocks, navigation chrome) that repeats INSIDE
    * otherwise-unique documents. Each document tiles into non-overlapping
    * `spanTokens`-token spans (last span may be short; empty docs yield
    * one empty span, so every input row survives to the output); a span
    * whose text occurs in ≥ `minDocs` DISTINCT documents is scrubbed,
    * and the kept spans reassemble in order. Output: (doc_id, n_spans,
    * n_scrubbed, text_clean) — a fully-scrubbed document keeps its row
    * with empty text.
    *
    * Scale shape: one posexplode (rows ≈ corpus tokens / spanTokens),
    * the hot-span table via distinct (doc,span-hash) pairs → count ≥
    * minDocs (both map-side-partial shuffles on the span hash), a left
    * join of spans to that table (build side is the boilerplate set —
    * small in practice, AQE broadcasts it from runtime stats; no hint
    * because it is not a priori bounded), and one reassembly groupBy
    * keyed by doc (state bounded by a single document). No all-pairs
    * anything: cost is linear in corpus tokens at any scale. Spans key
    * by xxhash64 in the joins (8 bytes moves instead of the span text)
    * — the same collision-accepted trade as [[shingleIndexHashed]],
    * which the string-keyed DuckDB oracle cross-checks at test scale. */
  def scrubDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      spanTokens: Int, minDocs: Long): DataFrame = {
    require(spanTokens > 0 && minDocs >= 2, "need spanTokens>0, minDocs>=2")
    val k = spanTokens
    // ceil(n/k) spans, at least 1: floor on doubles is exact for any
    // realistic token count (< 2^53), and `/` on int columns is double
    val nSpans = greatest(
      floor((size(col("__toks")) + (k - 1)) / k).cast("int"), lit(1))
    val spansArr = transform(sequence(lit(0), nSpans - 1),
      i => array_join(slice(col("__toks"), i * k + 1, lit(k)), " "))
    val spans = df
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), posexplode(spansArr).as(Seq("pos", "span")))
      .withColumn("h", xxhash64(col("span")))
    val hot = spans.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"), lit(true).as("__dup"))
    spans.join(hot, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_spans"),
        sum(when(col("__dup"), 1L).otherwise(0L)).cast("bigint")
          .as("n_scrubbed"),
        // collect_list skips nulls, so only kept spans enter; struct
        // sorts by its first field (pos), restoring document order
        array_join(transform(array_sort(collect_list(
            when(col("__dup").isNull, struct(col("pos"), col("span"))))),
          x => x.getField("span")), " ").as("text_clean"))
  }

  /** Stride-1 char-level duplicate-substring profile (the exact-substring
    * dedup primitive of Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): for every document, how many of its
    * length-`win` character windows also occur in ANOTHER document, and
    * the length of its longest cross-document duplicated substring.
    *
    * A substring of length M ≥ win shared by two docs produces exactly
    * M−win+1 consecutive duplicated window positions, so
    * `longest_dup = max_consecutive_run + win − 1` recovers the true
    * maximal repeat length — stride-1 windows (unlike op103's
    * non-overlapping tiles) cannot straddle-miss a repeat.
    *
    * Scale: the [[graft.expressions.RollingHashWindows]] expression
    * fingerprints each doc in ONE linear pass, so the shuffle moves an
    * 8-byte key per char position, never window text. Three bounded
    * shuffles: the hot-window count (state = distinct windows), the
    * hash join back (AQE broadcasts the hot set when small — its size
    * is the corpus' repeated-content volume, not a priori bounded, same
    * trade as [[scrubDuplicateSpans]]), and the per-doc aggregate
    * (state = one doc's positions). The packed double-hash key is
    * collision-accepted (~2⁻⁶⁰ per pair — one ~30-bit leg demonstrably
    * birthday-collides at sf0.01); the DuckDB oracle joins on raw
    * window STRINGS, certifying injectivity at test scale. */
  def charDupProfile(df: DataFrame, idCol: String, textCol: String,
      win: Int, minDocs: Long = 2L): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    require(win >= 2 && minDocs >= 2, "need win>=2, minDocs>=2")
    val hashes = ColumnBridge.column(graft.expressions.RollingHashWindows(
      ColumnBridge.expression(col(textCol)), win))
    val wins = df
      .filter(length(col(textCol)) >= win)
      .select(col(idCol).as("doc_id"), posexplode(hashes).as(Seq("pos", "h")))
    val hot = wins.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"), lit(true).as("__dup"))
    val flagged = wins.join(hot, Seq("h"), "left")
    // gaps-and-islands over duplicated positions: consecutive runs share
    // (pos - row_number) within a doc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = flagged.filter(col("__dup"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id")).agg(max(col("run")).as("maxrun"))
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("bigint").as("n_windows"),
        sum(when(col("__dup"), 1L).otherwise(0L)).cast("bigint").as("n_dup"))
      .join(runs, Seq("doc_id"), "left")
      .withColumn("longest_dup",
        coalesce(col("maxrun") + (win - 1), lit(0L)).cast("bigint"))
      .drop("maxrun")
  }

  def simhash60(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("w"))
      .withColumn("h", TextOps.md5Hash60(col("token")))
    val slices = (0 until 60).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, col("w"))
        .otherwise(-col("w"))).as(s"s$j")
    }
    val fingerprint = (0 until 60).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    tok.groupBy(col("doc_id")).agg(slices.head, slices.tail: _*)
      .select(col("doc_id"), fingerprint.as("simhash"))
  }

  /** Hamming distance, driver-side form (tests / thresholds). */
  def hammingDist(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
