package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Similarity, TextOps}
import graft.sources.Tables
import Det.{big, ordered}

/** Curation / mixture / packing pack over the `documents` /
  * `embeddings` fixtures (north-star extensions; first-class operators
  * alongside SURVEY.md §2): stratified and weighted sampling, sequence
  * packing, mixture balancing (uniform-cap, cutoff, temperature),
  * token budgeting, quality gates + gate stats, leak-safe splits,
  * corpus statistics, source overlap, DSIR importance weighting,
  * sessionized telemetry→text, and the deterministic corpus shuffle.
  * The r11 split moved the sibling families into their own packs:
  * [[DedupQueries]], [[AnnQueries]], [[TextQueries]],
  * [[LakehouseQueries]], with shared store infra in [[IndexStore]].
  *
  * Oracle strategy: all scores are exact integers (basis points) or
  * md5-derived hashes, so DuckDB reproduces them bit-for-bit; float-native
  * variants (cosine with double accumulation, simhash) are covered by
  * ScalaTest instead (rows-only driver check).
  */
object TrainQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Telemetry → training text: batch sessionization of the events
    * stream (30-minute inactivity gap: lag + cumulative-sum window, the
    * classic batch spelling of op53's streaming session windows) and
    * assembly of each session's event-type sequence into a behavior
    * DOCUMENT — the step that turns interaction logs into text the
    * dedup/quality/packing operators consume downstream.
    *
    * Scale: ONE shuffle keyed by user — the window partitions by
    * user_id, and the (user_id, sess_id) aggregate reuses that
    * partitioning (user_id hash-partitioning satisfies the clustered
    * distribution on a superset key — spec-asserted single Exchange).
    * Per-user window state and per-session collect_list are bounded by
    * one user's events. Ties break on event_id, so ordering — and the
    * assembled text — is deterministic under any partitioning. Time is
    * truncated to MICROseconds on both engines (DuckDB coerces the
    * TIMESTAMP(NANOS) parquet to µs — the op51-53 precedent). */
  val op105SessionDocs: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"), col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val sess = ev
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts_us") - col("prev_ts") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"))
    ordered(
      sess.groupBy(col("user_id"), col("sess_id"))
        .agg(big(count(lit(1))).as("n_events"),
          min(col("ts_us")).cast("bigint").as("sess_start_us"),
          (max(col("ts_us")) - min(col("ts_us"))).cast("bigint")
            .as("duration_us"),
          array_join(transform(array_sort(collect_list(
              struct(col("ts_us"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")), " ").as("behavior_text")),
      "user_id", "sess_id")
  }

  /** Deterministic corpus shuffle: every training run shuffles its
    * corpus once before packing (op87) so gradient batches decorrelate —
    * and the order must be REPRODUCIBLE (resume mid-epoch, re-shard,
    * re-run bit-identically). Position = rank of md5(seed ‖ doc_id):
    * content-independent, seed-switchable, stable under any
    * partitioning. The global rank is computed WITHOUT a global sort:
    * rows bucket by the hash's first byte (256 ranges whose
    * lexicographic order equals the hash order), rank within buckets in
    * parallel, and add broadcast bucket offsets from a 256-row
    * cumulative sum — the scalable global-index shape; no single
    * partition ever sees more than ~1/256 of the corpus. `shard` is the
    * round-robin writer assignment downstream epoch readers consume. */
  val op107CorpusShuffle: Q = (s, d) =>
    ordered(
      hashShufflePositions(Tables.documents(s, d).select(col("doc_id")))
        .select(col("doc_id"), col("pos"),
          ((col("pos") - 1L) % 16L).as("shard")),
      "doc_id")

  /** op107's core, reusable: append the global shuffle position
    * (rank of md5("shuf:42:" ‖ doc_id), ties to doc_id) to ANY frame
    * carrying a unique `doc_id` — computed without a global sort (256
    * hash-prefix buckets rank in parallel; broadcast offsets from a
    * 256-row cumsum). All input columns pass through. NOTE: the input
    * subtree is evaluated twice (offsets aggregate + rank window) —
    * callers whose input is post-shuffle (not a bare scan) should
    * materialize it first (op113 localCheckpoints its survivors). */
  private[graft] def hashShufflePositions(df: DataFrame): DataFrame = {
    val h = df
      .withColumn("h",
        md5(concat(lit("shuf:42:"), col("doc_id").cast("string"))))
      .withColumn("bucket", substring(col("h"), 1, 2))
    val perBucket = row_number().over(
      Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id")))
    val offsets = h.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        (sum(col("cnt")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          - col("cnt")).cast("bigint"))
      .select(col("bucket"), col("off"))
    h.withColumn("rn", perBucket.cast("bigint"))
      .join(broadcast(offsets), "bucket")
      .withColumn("pos", col("off") + col("rn"))
      .drop("h", "bucket", "rn", "off")
  }

  /** END-TO-END curation pipeline (op113): quality gate (op90's rules)
    * → exact dedup (min-id survivor per distinct text) → deterministic
    * corpus shuffle (op107's rank) → shard assignment → sequence
    * packing (op87's concatenate-and-cut at 64 tokens, streams keyed
    * by shard in shuffle order) — the one-call manifest a training run
    * consumes, proving the operators COMPOSE: every stage is the
    * already-oracle-checked operator, chained.
    *
    * Scale: gate is scan-stage (zero shuffles), dedup is one text-hash
    * shuffle, the shuffle rank is bucket-parallel (no global sort),
    * packing is one shard-keyed window — the same shapes as the
    * standalone ops; survivors materialize once (localCheckpoint) so
    * the offsets pass doesn't recompute the dedup. */
  val op113CurationPipeline: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val t = doc.select(col("doc_id"), col("text"),
        TextOps.tokens(col("text")).as("toks"),
        TextOps.tokenCountWs(col("text")).as("n_words"),
        TextOps.meanTokenLenBp(col("text")).as("mean_len_bp"),
        TextOps.markerCount(col("text"), TextQueries.enStop).as("stop_hits"))
      .withColumn("distinct_bp",
        expr("size(array_distinct(toks)) * 10000 div n_words").cast("bigint"))
    val gated = t.filter(col("n_words") >= 20L &&
        col("mean_len_bp").between(40000L, 47000L) &&
        col("distinct_bp") >= 5000L && col("stop_hits") >= 2L)
      .select(col("doc_id"), col("text"))
    val survivors = gated.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), TextOps.tokenCountWs(col("text")).as("n_tok"))
      .localCheckpoint()
    val sh = hashShufflePositions(survivors)
      .withColumn("shard", ((col("pos") - 1L) % 8L).cast("bigint"))
    val w = Window.partitionBy(col("shard")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ordered(
      sh.withColumn("tok_off",
          coalesce(sum(col("n_tok")).over(w), lit(0L)).cast("bigint"))
        .filter(col("n_tok") > 0)
        .select(col("doc_id"), col("pos"), col("shard"), col("n_tok"),
          col("tok_off"),
          explode(sequence(expr("tok_off div 64"),
            expr("(tok_off + n_tok - 1) div 64"))).as("pack_id"))
        .select(col("doc_id"), col("pos"), col("shard"), col("n_tok"),
          col("tok_off"), col("pack_id").cast("bigint").as("pack_id"),
          greatest(col("pack_id") * 64L - col("tok_off"), lit(0L))
            .cast("bigint").as("start_in_doc"),
          least((col("pack_id") + 1L) * 64L - col("tok_off"), col("n_tok"))
            .cast("bigint").as("end_in_doc")),
      "doc_id", "pack_id")
  }

  /** op239: DSIR-style importance scoring — every document scored by
    * the log-likelihood ratio of a TARGET unigram model (the src0
    * slice) against the SOURCE model (the rest), add-one smoothed:
    * the data-selection primitive behind importance resampling
    * (select web documents that look like the curated target). Per
    * the house ln contract, the ratio is ONE double division of
    * exact integers and ln is quantized to floor(·×10⁶) micro-units
    * per DISTINCT TOKEN — per-document scores are then pure integer
    * sums of those micro-weights, so the whole score replays
    * bit-for-bit. `sel` flags the above-target-likelihood half.
    *
    * 100 TB shape: the float work lives on the VOCAB grid (one ln per
    * distinct token), never per token occurrence; the document score
    * is one token-keyed join against the broadcast-sized weight table
    * + a map-combinable sum. Corpus-sized passes: exactly two
    * (count, score). */
  val op239DsirImportance: Q = (s, d) => {
    val tok = Tables.documents(s, d).select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("token"))
    val cnt = tok.groupBy("token").agg(
      sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ct"),
      sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("cs"))
    val tot = cnt.agg(sum("ct").as("nt"), sum("cs").as("ns"),
      big(count(lit(1))).as("v"))
    val w = cnt.crossJoin(broadcast(tot))
      .withColumn("w_micro", expr(
        "CAST(floor(ln(CAST((ct + 1) * (ns + v) AS DOUBLE) / " +
          "CAST((cs + 1) * (nt + v) AS DOUBLE)) * 1000000) AS BIGINT)"))
      .select("token", "w_micro")
    ordered(
      tok.join(w, "token")
        .groupBy("doc_id")
        .agg(big(count(lit(1))).as("n_tokens"),
          sum("w_micro").as("dsir_micro"))
        .withColumn("sel", expr(
          "CAST(CASE WHEN dsir_micro >= 0 THEN 1 ELSE 0 END AS BIGINT)")),
      "doc_id")
  }

  /** Deterministic stratified sampling: keep a document iff the salted
    * md5 hash of its CONTENT falls under its stratum's rate — the
    * reproducible sampling method for production pipelines (no RNG
    * state: stable under re-partitioning, re-sharding, and re-runs, and
    * identical copies sample identically). Per-source rates 25/50/75/100%
    * derived from the stratum id. Pure per-row filter — narrow,
    * shuffle-free, pushes to the scan at any scale. */
  val op79SampleStratified: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val ratePct = ((expr("CAST(substring(source, 4) AS INT)") % 4 + 1) * 25)
      .cast("bigint")
    ordered(
      doc.select(col("doc_id"), col("source"),
          (TextOps.md5Hash60(concat(lit("sample:"), col("text"))) % 100)
            .cast("bigint").as("h_bucket"),
          ratePct.as("rate_pct"))
        .filter(col("h_bucket") < col("rate_pct")),
      "doc_id")
  }

  /** Deterministic sequence packing — concatenate-and-cut context-window
    * packing, the standard LLM training-batch prep: per source,
    * documents concatenate in doc_id order and the token stream is cut
    * every 64 tokens; a document spans packs
    * (tok_off div 64)..((tok_off+n_tok−1) div 64) and contributes the
    * token range [start_in_doc, end_in_doc) to each. Entirely integer
    * arithmetic (cumulative sums + div), so DuckDB replays it exactly.
    *
    * Scale: one shuffle keyed by the pack partition (source here; at
    * 100 TB a (source, shard) key sized so each shard's token stream
    * fits a task) + an in-partition sort — the cumsum never needs a
    * global order. Packs are balanced by construction: every pack except
    * each stream's last holds exactly 64 tokens (spec'd). */
  val op87PackSequences: Q = (s, d) =>
    ordered(
      TextOps.packSequences(Tables.documents(s, d), "doc_id", "source",
        "text", 64L),
      "doc_id", "pack_id")

  /** Dataset mixture construction — resample a multi-source corpus to
    * TARGET mixture weights (the "data mixing" step of training-set
    * assembly): per-source weight w = stratum%4+1; the largest feasible
    * no-upsampling scale is K = min over sources of (n div w), giving
    * each source an exact quota of w·K docs; the quota is filled by the
    * docs with the smallest content hash (rank by (h, doc_id) — a
    * deterministic reservoir, stable under resharding/reruns). Output
    * proportions match the weights exactly regardless of input skew
    * (spec'd).
    *
    * Scale: one bounded counts aggregate (map-side partials), a 1-row K
    * broadcast, and a per-source window. The exact-rank window is the
    * oracle-checkable spelling; at 100 TB replace it with a per-source
    * hash CUTOFF from approx quantiles of h — the filter becomes
    * scan-pushable and the quota approximate, the standard trade. */
  val op88Mixture: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val w = (expr("CAST(substring(source, 4) AS INT)") % 4 + 1).cast("bigint")
    val t = doc.select(col("doc_id"), col("source"),
      TextOps.md5Hash60(concat(lit("mix:"), col("text"))).as("h"), w.as("w"))
    // counts feeds BOTH the shared scale K and the per-source quotas —
    // materialize the (sources)-row frame so the corpus is counted once,
    // not once per consumer subtree
    val counts = t.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), first(col("w")).as("w"))
      .localCheckpoint()
    val k = broadcast(counts.agg(min(expr("n div w")).as("__k")))
    val quota = counts.crossJoin(k)
      .select(col("source"), (col("w") * col("__k")).as("quota"))
    val wnd = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    ordered(
      t.withColumn("mix_rank", row_number().over(wnd).cast("bigint"))
        .join(broadcast(quota), "source")
        .filter(col("mix_rank") <= col("quota"))
        .select(col("doc_id"), col("source"), col("h").as("mix_hash"),
          col("mix_rank"), col("quota").cast("bigint").as("quota")),
      "doc_id")
  }

  /** Dataset mixture via HASH CUTOFF — the scan-pushable scale spelling
    * [[op88Mixture]]'s doc promises: instead of ranking each source with
    * a window, each source keeps documents whose content hash lands
    * under a per-source cutoff `rate_ppm = quota·10⁶ div n`. Selection
    * is then a pure per-row predicate (`h mod 10⁶ < rate_ppm`) after a
    * broadcast join of the tiny per-source rate table — no window, no
    * per-source sort, and the surviving work is one bounded counts
    * aggregate plus a narrow filter that evaluates in the scan stage at
    * any corpus size. The quota becomes binomial-approximate (the
    * standard trade vs op88's exact reservoir; the spec bounds the
    * deviation), while determinism is untouched: the cutoff is integer
    * arithmetic over exact counts, so reruns, resharding and the DuckDB
    * twin agree bit-for-bit. */
  val op89MixtureCutoff: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val w = (expr("CAST(substring(source, 4) AS INT)") % 4 + 1).cast("bigint")
    val t = doc.select(col("doc_id"), col("source"),
      TextOps.md5Hash60(concat(lit("mix:"), col("text"))).as("h"), w.as("w"))
    // materialized once — feeds both K and the rate table (one corpus
    // count instead of one per consumer subtree)
    val counts = t.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), first(col("w")).as("w"))
      .localCheckpoint()
    val k = broadcast(counts.agg(min(expr("n div w")).as("__k")))
    // ppm resolution: quota·10⁶ stays far inside BIGINT for any per-source
    // count a single engine would ever hold (overflow at n ~ 9·10¹²)
    val rates = counts.crossJoin(k)
      .select(col("source"),
        expr("w * __k * 1000000 div n").cast("bigint").as("rate_ppm"))
    ordered(
      t.join(broadcast(rates), "source")
        // h is a non-negative 60-bit hash, so % matches DuckDB's %
        .filter(col("h") % 1000000L < col("rate_ppm"))
        .select(col("doc_id"), col("source"),
          (col("h") % 1000000L).cast("bigint").as("h_ppm"),
          col("rate_ppm")),
      "doc_id")
  }

  /** Temperature-scaled mixture (α-sampling at τ = 0.5) — the
    * multilingual/multi-source BALANCING recipe (mT5/XLM-R style):
    * sampling mass ∝ n^τ flattens source skew without forcing equal
    * quotas; low-resource sources keep proportionally more of their
    * docs. Deterministic cross-engine arithmetic: s = floor(10⁶·√n)
    * (sqrt is IEEE correctly-rounded — bit-identical on both engines),
    * the target total is half the corpus, per-source
    * quota = floor(double(T)·double(s)/double(Σs)) capped at n (no
    * upsampling) — ONE double multiply+divide of identical integers,
    * deterministic on both engines even past 2⁵³ (same IEEE ops, same
    * rounding) — and selection is op89's scan-pushable hash cutoff
    * (rate_ppm = quota·10⁶ div n; per-row predicate after a broadcast
    * rate join).
    *
    * Scale: identical to op89 — one bounded counts aggregate, a 1-row
    * totals broadcast, a sources-row rate table, a narrow scan-stage
    * filter. Quotas are binomial-approximate like op89's; determinism
    * is exact. */
  val op111MixtureTemperature: Q = (s, d) =>
    ordered(temperatureMixture(Tables.documents(s, d)), "doc_id")

  /** op111's core, reusable over any (doc_id, source, text) frame (the
    * spec feeds a skew-planted synthetic corpus to see the flattening
    * the uniform fixtures can't show). */
  private[graft] def temperatureMixture(doc: DataFrame): DataFrame = {
    val t = doc.select(col("doc_id"), col("source"),
      TextOps.md5Hash60(concat(lit("mix:"), col("text"))).as("h"))
    val counts = t.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .withColumn("s",
        expr("CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)"))
      .localCheckpoint()
    val tot = broadcast(
      counts.agg(sum(col("n")).as("__tot"), sum(col("s")).as("__ssum")))
    val rates = counts.crossJoin(tot)
      .select(col("source"), col("n"),
        least(
          expr("CAST(floor(CAST(__tot div 2 AS DOUBLE) * CAST(s AS DOUBLE)" +
            " / CAST(__ssum AS DOUBLE)) AS BIGINT)"),
          col("n")).as("quota"))
      .select(col("source"),
        expr("quota * 1000000 div n").cast("bigint").as("rate_ppm"))
    t.join(broadcast(rates), "source")
      .filter(col("h") % 1000000L < col("rate_ppm"))
      .select(col("doc_id"), col("source"),
        (col("h") % 1000000L).cast("bigint").as("h_ppm"),
        col("rate_ppm"))
  }

  /** Token-BUDGET data selection — the budget-driven cousin of the
    * mixture ops (op88/89 fill per-source DOC quotas; real training-set
    * assembly is usually specified in TOKENS): per source, documents are
    * taken in deterministic content-hash order until the source's token
    * budget fills — a document is kept iff the tokens BEFORE it sit
    * strictly under budget (greedy fill: the last document may overflow
    * the budget by a fraction, the standard convention). Budget =
    * (stratum weight) × 500 tokens — sized so selection bites at every
    * fixture scale. Entirely integer (window cumsum),
    * rerun/reshard-stable, DuckDB-replayed exactly.
    *
    * Scale: one shuffle keyed by source + in-partition sort — op87's
    * pack-stream shape; at 100 TB the same cutoff trade as op89 applies
    * (estimate tokens/doc from the counts aggregate → hash-rate filter,
    * scan-pushable, budget approximate). */
  val op99TokenBudget: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val w = (expr("CAST(substring(source, 4) AS INT)") % 4 + 1).cast("bigint")
    val t = doc.select(col("doc_id"), col("source"),
      TextOps.tokenCountWs(col("text")).as("n_tok"),
      TextOps.md5Hash60(concat(lit("budget:"), col("text"))).as("h"),
      (w * 500L).as("budget"))
    val wnd = Window.partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    ordered(
      t.withColumn("tok_before",
          coalesce(sum(col("n_tok")).over(
            wnd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            .cast("bigint"))
        .filter(col("tok_before") < col("budget"))
        .select(col("doc_id"), col("source"), col("n_tok"),
          col("tok_before"), col("budget")),
      "doc_id")
  }

  /** Shared per-row rule-flag frame feeding op90 (the gate) and op91
    * (per-source attribution): (doc_id, source, signals, f_* flags). */
  private def qualityFlagsFrame(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
    val t = doc.select(col("doc_id"), col("source"),
      TextOps.tokens(col("text")).as("toks"),
      TextOps.tokenCountWs(col("text")).as("n_words"),
      TextOps.meanTokenLenBp(col("text")).as("mean_len_bp"),
      TextOps.markerCount(col("text"), TextQueries.enStop).as("stop_hits"))
    t.withColumn("distinct_bp",
        expr("size(array_distinct(toks)) * 10000 div n_words").cast("bigint"))
      .select(col("doc_id"), col("source"), col("n_words"),
        col("mean_len_bp"), col("distinct_bp"), col("stop_hits"),
        (col("n_words") >= 20L).cast("bigint").as("f_words"),
        (col("mean_len_bp").between(40000L, 47000L)).cast("bigint").as("f_len"),
        (col("distinct_bp") >= 5000L).cast("bigint").as("f_distinct"),
        (col("stop_hits") >= 2L).cast("bigint").as("f_stop"))
  }

  /** Gopher-style heuristic quality GATE (the MassiveText filter-rule
    * family, re-expressed as exact integer signals): word-count floor,
    * mean-word-length band, distinct-token-ratio floor (repetition
    * proxy) and a stopword minimum, each emitted as its own 0/1 flag
    * plus the conjunction `keep`. Unlike op71 (a monotone score) this is
    * the boolean gate a curation pipeline actually FILTERS on, with
    * per-rule attribution for drop-reason stats; unlike op76 every
    * signal is per-row — split / array_distinct / filter over the token
    * array, zero shuffles (spec'd: the unordered plan has no Exchange),
    * so the gate runs inside the scan stage at any corpus size. */
  val op90QualityGate: Q = (s, d) =>
    ordered(
      qualityFlagsFrame(s, d).drop("source").withColumn("keep",
        (col("f_words") * col("f_len") * col("f_distinct") * col("f_stop"))
          .cast("bigint")),
      "doc_id")

  /** Per-source gate attribution — the drop-reason report a curation run
    * publishes alongside its output (and the aggregation SCALE.md's op90
    * note promises): per source, document count, kept count, independent
    * per-rule failure counts, and the keep rate in bp. One bounded
    * groupBy over the per-row flags (map-side partials; state = one row
    * per source), so the report costs a scan regardless of corpus
    * size. */
  val op91GateStats: Q = (s, d) => {
    val f = qualityFlagsFrame(s, d)
    ordered(
      f.groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("f_words") * col("f_len") * col("f_distinct") *
            col("f_stop")).as("n_keep"),
          sum(lit(1L) - col("f_words")).as("drop_words"),
          sum(lit(1L) - col("f_len")).as("drop_len"),
          sum(lit(1L) - col("f_distinct")).as("drop_distinct"),
          sum(lit(1L) - col("f_stop")).as("drop_stop"))
        .select(col("source"), col("n_docs").cast("bigint").as("n_docs"),
          col("n_keep").cast("bigint").as("n_keep"),
          col("drop_words").cast("bigint").as("drop_words"),
          col("drop_len").cast("bigint").as("drop_len"),
          col("drop_distinct").cast("bigint").as("drop_distinct"),
          col("drop_stop").cast("bigint").as("drop_stop"))
        .withColumn("keep_rate_bp",
          expr("n_keep * 10000 div n_docs").cast("bigint")),
      "source")
  }

  /** Leakage-safe train/val/test split: assignment by DEDUP CLUSTER, not
    * by document — near-duplicates (op77's connected components over the
    * ≥70% Jaccard graph) land in the SAME split, so train/test leakage
    * through paraphrase-level duplication is structurally impossible
    * (the failure mode a naive per-doc hash split has on any corpus with
    * near-dups). Split = content-independent hash of the cluster
    * representative: 80/10/10 by h(cluster) mod 100 — deterministic,
    * rerun- and reshard-stable, and adding documents never moves an
    * existing cluster between splits. Cost on top of op77: one per-row
    * hash + CASE. */
  val op92SplitLeakSafe: Q = (s, d) => {
    // the cluster table is a PREBUILT artifact, exactly like the op84-86
    // ANN indexes: op77's connected components persist once per dataset
    // (content-keyed, atomic publication) and the split operator itself
    // — the thing this query measures — is a per-row hash over that
    // table. Deterministic clustering + all-bigint storage ⇒ the cached
    // path is bit-identical to recomputing (same oracle as always).
    val dir = IndexStore.indexRoot(d, "clusters_j7000_cap100", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "clusters") { tmp =>
      Dedup.dedupClusters(Tables.documents(s, d), "doc_id", "text",
          7000L, Some(DedupQueries.shingleDocFreqCap))
        .write.mode("overwrite").parquet(s"$tmp/clusters")
    }
    ordered(Dedup.splitByCluster(s.read.parquet(s"$dir/clusters")), "doc_id")
  }

  /** Corpus data card — the per-(source, language) statistics block a
    * released dataset ships (and the mixture/gate ops consume): doc,
    * token and char counts, length extremes, vocabulary size, exact
    * integer mean tokens/doc. Two bounded aggregates (stats roll up
    * map-side; vocabulary is a (source, lang, token)-keyed count whose
    * state is vocab-bounded, not corpus-bounded) joined on the tiny
    * group key — at any corpus size this is two scans and a
    * groups-sized result. */
  val op94CorpusStats: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val base = doc.select(col("source"), col("lang"),
        TextOps.tokenCountWs(col("text")).as("n_tok"),
        length(col("text")).cast("bigint").as("len"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("len")).as("n_chars"), min(col("len")).as("min_chars"),
        max(col("len")).as("max_chars"))
    val vocab = doc.select(col("source"), col("lang"),
        explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("lang"))
      .agg(countDistinct(col("token")).as("vocab"))
    ordered(
      base.join(vocab, Seq("source", "lang"))
        .select(col("source"), col("lang"),
          col("n_docs").cast("bigint").as("n_docs"),
          col("n_tokens").cast("bigint").as("n_tokens"),
          col("n_chars").cast("bigint").as("n_chars"),
          col("min_chars"), col("max_chars"),
          col("vocab").cast("bigint").as("vocab"))
        .withColumn("mean_tok_bp",
          expr("n_tokens * 10000 div n_docs").cast("bigint")),
      "source", "lang")
  }

  /** Cross-source overlap matrix — which SOURCES duplicate each other:
    * the ≥70% near-dup pairs (op61's capped inverted-index join) rolled
    * up to unordered source pairs, with pair counts, mean similarity
    * (exact integer bp) and the count of distinct duplicated docs per
    * side. The dedup-PLANNING report: it tells a pipeline which source
    * pairs are worth a targeted dedup pass and which crawls are
    * mirrors. Cost on top of op61: two doc_id joins against the
    * (doc_id, source) projection and a sources²-bounded aggregate. */
  val op95SourceOverlap: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    // the overlap matrix is a downstream REPORT over the ≥70% pair set
    // — it reads a persisted pairs artifact (op77's clusters pattern:
    // content-keyed, built once per dataset, bit-exact) rather than
    // re-running the pair join per invocation; the end-to-end pair
    // computations stay measured by the op61/op63/op64/op98 family
    val dir = IndexStore.indexRoot(d, "pairs_j7000_cap100", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "pairs") { tmp =>
      Dedup.jaccardPairs(doc, "doc_id", "text", 7000L,
          Some(DedupQueries.shingleDocFreqCap))
        .write.mode("overwrite").parquet(s"$tmp/pairs")
    }
    val pairs = s.read.parquet(s"$dir/pairs")
    val src = doc.select(col("doc_id"), col("source"))
    val tagged = pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")),
        "doc_b")
      // fold the symmetric pair: matrix keys are unordered source pairs,
      // and the per-side docs swap WITH the sources — doc_lo must be the
      // pair's member from source_lo, not the lower doc_id (ids and
      // source order disagree on cross-source pairs)
      .select(least(col("src_a"), col("src_b")).as("source_lo"),
        greatest(col("src_a"), col("src_b")).as("source_hi"),
        when(col("src_a") <= col("src_b"), col("doc_a")).otherwise(col("doc_b"))
          .as("doc_lo"),
        when(col("src_a") <= col("src_b"), col("doc_b")).otherwise(col("doc_a"))
          .as("doc_hi"),
        col("jaccard_bp"))
    ordered(
      tagged.groupBy(col("source_lo"), col("source_hi"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("doc_lo")).as("n_docs_lo"),
          countDistinct(col("doc_hi")).as("n_docs_hi"),
          sum(col("jaccard_bp")).as("sum_bp"))
        .select(col("source_lo"), col("source_hi"),
          col("n_pairs").cast("bigint").as("n_pairs"),
          col("n_docs_lo").cast("bigint").as("n_docs_lo"),
          col("n_docs_hi").cast("bigint").as("n_docs_hi"),
          // integer mean of already-integer bp similarities: floor
          // division of exact sums, associative on both engines
          expr("sum_bp div n_pairs").cast("bigint").as("mean_jaccard_bp")),
      "source_lo", "source_hi")
  }

  /** op261: quality→duplication calibration — does op71's quality
    * score PREDICT near-duplication? Docs bucketed by score VALUE
    * (quality_bp div 500 — a value bucket, not an ntile, so no
    * corpus-wide sort), each bucket reporting its population, how
    * many of its docs appear in op61's near-dup pair set, and the
    * dup rate in bp. The cross-operator eval a curation pipeline
    * reads before using one signal to gate another: if low-quality
    * buckets aren't dup-enriched, "filter by quality first, dedup
    * the survivors" reorders safely; if they are, order matters.
    *
    * 100 TB shape: rides two passes that already run (op71's scoring
    * — pure map — and op61's banded dedup); the calibration itself is
    * a doc-keyed flag join + a bucket-grid aggregate. */
  val op261QualityDupCal: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val buckets = docs.select(col("doc_id"),
      (TextOps.qualityScoreBp(col("text"), TextQueries.enStop) / 500)
        .cast("bigint").as("bucket"))
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 7000L,
      Some(DedupQueries.shingleDocFreqCap))
    val dupDocs = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct().withColumn("is_dup", lit(1L))
    ordered(
      buckets.join(dupDocs, Seq("doc_id"), "left")
        .groupBy("bucket")
        .agg(big(count(lit(1))).as("n_docs"),
          sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
        .withColumn("dup_rate_bp",
          expr("(n_dup_docs * 10000) div n_docs")),
      "bucket")
  }

  /** op129: deterministic weighted sampling without replacement — the
    * integer-arithmetic priority variant of Efraimidis–Spirakis: each doc
    * draws a deterministic pseudo-random u (LCG of doc_id, exact in
    * BIGINT on both engines) and competes on priority = u div weight
    * (weight = n_chars), so heavier docs stochastically win. Top-k by
    * (priority, doc_id) through TakeOrdered — map-side k-trim, no global
    * sort, no shuffle beyond the k winners; rerunnable bit-identically
    * at any parallelism. */
  val op129WeightedSample: Q = (s, d) => {
    val k = 100
    val pr = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        ((col("doc_id") * lit(1103515245L) + lit(12345L)) % lit(2147483647L))
          .as("u"))
      .withColumn("priority", expr("u div n_chars"))
    val top = pr.orderBy(col("priority"), col("doc_id")).limit(k)
    ordered(
      top.withColumn("rank",
          row_number().over(Window.orderBy(col("priority"), col("doc_id")))
            .cast("bigint"))
        .select(col("rank"), col("doc_id"),
          col("priority").cast("bigint").as("priority"), col("n_chars")),
      "rank")
  }

  /** op312: fill-in-the-middle transform (Bavarian et al.'s FIM, the
    * PSM spelling) — the code/infilling pretraining transform: for a
    * content-hash-gated ~50% of documents with ≥ 3 tokens, split the
    * token stream into equal thirds and re-emit
    * `<PRE>prefix<SUF>suffix<MID>middle`; everything else passes
    * through unchanged. The gate hashes CONTENT (the op79/op88 rule:
    * resilient to re-partitioning and doc_id reassignment), and the
    * split point is a pure function of the token count — so the whole
    * transform is one map-only projection, replayed exactly by the
    * oracle. 100 TB shape: no shuffle, no state; cost ∝ corpus bytes. */
  val op312FimTransform: Q = (s, d) => {
    val toks = split(col("text"), " ")
    val n = size(toks).cast("bigint")
    val gate = (TextOps.md5Hash60(concat(lit("fim:"), col("text"))) % 10 < 5)
      .and(n >= 3)
    val p = (n / 3).cast("int")
    val fim = concat(
      lit("<PRE>"), array_join(slice(toks, lit(1), p), " "),
      lit("<SUF>"), array_join(slice(toks, (p * 2 + 1), (n - p * 2).cast("int")), " "),
      lit("<MID>"), array_join(slice(toks, p + 1, p), " "))
    ordered(
      Tables.documents(s, d).select(col("doc_id"),
        when(gate, 1L).otherwise(0L).as("fim_applied"),
        n.as("n_tokens"),
        when(gate, fim).otherwise(col("text")).as("out_text")),
      "doc_id")
  }

  /** op313: chat-template rendering + loss-mask span — the SFT-side
    * formatting step: each document becomes a (system, user,
    * assistant) exchange (first 10 tokens as the user turn, remainder
    * as the assistant turn), rendered through a fixed chat template,
    * with the (start, length) character span of the assistant content
    * emitted alongside — the span a trainer masks everything OUTSIDE
    * of (assistant-only loss). Pure string arithmetic on both
    * engines; map-only, no shuffle. */
  val op313ChatTemplate: Q = (s, d) => {
    val toks = split(col("text"), " ")
    val n = size(toks)
    val usr = array_join(slice(toks, lit(1), least(n, lit(10))), " ")
    val asst = when(n > 10,
      array_join(slice(toks, lit(11), n - 10), " ")).otherwise(lit(""))
    val rendered = concat(
      lit("<|system|>\nYou are a helpful assistant.\n<|user|>\n"), usr,
      lit("\n<|assistant|>\n"), asst)
    ordered(
      Tables.documents(s, d).select(col("doc_id"),
        rendered.as("rendered"),
        big(length(rendered) - length(asst) + 1).as("mask_start"),
        big(length(asst)).as("mask_len")),
      "doc_id")
  }

  val defs: Map[String, Q] = Map(
    "op312_fim_transform" -> op312FimTransform,
    "op313_chat_template" -> op313ChatTemplate,
    "op87_pack_sequences" -> op87PackSequences,
    "op88_mixture" -> op88Mixture,
    "op89_mixture_cutoff" -> op89MixtureCutoff,
    "op111_mixture_temperature" -> op111MixtureTemperature,
    "op99_token_budget" -> op99TokenBudget,
    "op90_quality_gate" -> op90QualityGate,
    "op91_gate_stats" -> op91GateStats,
    "op92_split_leak_safe" -> op92SplitLeakSafe,
    "op94_corpus_stats" -> op94CorpusStats,
    "op95_source_overlap" -> op95SourceOverlap,
    "op79_sample_stratified" -> op79SampleStratified,
    "op105_session_docs" -> op105SessionDocs,
    "op107_corpus_shuffle" -> op107CorpusShuffle,
    "op239_dsir_importance" -> op239DsirImportance,
    "op113_curation_pipeline" -> op113CurationPipeline,
    "op261_quality_dup_cal" -> op261QualityDupCal,
    "op129_weighted_sample" -> op129WeightedSample,
  )

  private val baseOracle: Map[String, String] = Map(
    "op95_source_overlap" ->
      s"""WITH sh AS (SELECT DISTINCT doc_id, shingle FROM (${DedupQueries.trigramSql})),
        |keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
        |shc AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS overlap
        |       FROM shc a JOIN shc b USING (shingle) WHERE a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |p AS (SELECT doc_a, doc_b,
        |        overlap * 10000 // (ca.n_sh + cb.n_sh - overlap) AS jaccard_bp
        |      FROM ov JOIN cnt ca ON ov.doc_a = ca.doc_id
        |              JOIN cnt cb ON ov.doc_b = cb.doc_id
        |      WHERE overlap * 10000 // (ca.n_sh + cb.n_sh - overlap) >= 7000),
        |t AS (SELECT least(sa.source, sb.source) AS source_lo,
        |        greatest(sa.source, sb.source) AS source_hi,
        |        CASE WHEN sa.source <= sb.source THEN p.doc_a ELSE p.doc_b END AS doc_lo,
        |        CASE WHEN sa.source <= sb.source THEN p.doc_b ELSE p.doc_a END AS doc_hi,
        |        p.jaccard_bp
        |      FROM p JOIN documents sa ON p.doc_a = sa.doc_id
        |             JOIN documents sb ON p.doc_b = sb.doc_id)
        |SELECT source_lo, source_hi,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT doc_lo) AS BIGINT) AS n_docs_lo,
        |  CAST(count(DISTINCT doc_hi) AS BIGINT) AS n_docs_hi,
        |  CAST(sum(jaccard_bp) // count(*) AS BIGINT) AS mean_jaccard_bp
        |FROM t GROUP BY source_lo, source_hi
        |ORDER BY source_lo, source_hi""".stripMargin,
    "op105_session_docs" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |            event_type FROM events),
        |g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |        OR ts_us - lag(ts_us) OVER w > 1800000000
        |        THEN 1 ELSE 0 END AS new_sess
        |      FROM e WINDOW w AS (PARTITION BY user_id
        |                          ORDER BY ts_us, event_id)),
        |s AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
        |        ORDER BY ts_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND CURRENT ROW) AS BIGINT) AS sess_id FROM g)
        |SELECT user_id, sess_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(min(ts_us) AS BIGINT) AS sess_start_us,
        |  CAST(max(ts_us) - min(ts_us) AS BIGINT) AS duration_us,
        |  string_agg(event_type, ' ' ORDER BY ts_us, event_id)
        |    AS behavior_text
        |FROM s GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_id""".stripMargin,
    "op113_curation_pipeline" -> {
      val stop = TextQueries.enStop.map("'" + _ + "'").mkString(",")
      s"""WITH b AS (
        |  SELECT doc_id, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(length(replace(text, ' ', '')) * 10000
        |         // len(string_split(text, ' ')) AS BIGINT) AS mean_len_bp,
        |    CAST(len(list_distinct(string_split(text, ' '))) * 10000
        |         // len(string_split(text, ' ')) AS BIGINT) AS distinct_bp,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         x -> list_contains([$stop], x))) AS BIGINT) AS stop_hits
        |  FROM documents),
        |g AS (SELECT doc_id, text FROM b
        |      WHERE n_words >= 20 AND mean_len_bp BETWEEN 40000 AND 47000
        |        AND distinct_bp >= 5000 AND stop_hits >= 2),
        |sv AS (SELECT text, min(doc_id) AS doc_id FROM g GROUP BY text),
        |hp AS (SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         md5('shuf:42:' || doc_id) AS h
        |       FROM sv),
        |r AS (SELECT doc_id, n_tok,
        |        CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos
        |      FROM hp),
        |sh AS (SELECT doc_id, n_tok, pos,
        |         CAST((pos - 1) % 8 AS BIGINT) AS shard FROM r),
        |o AS (SELECT *, CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard
        |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND 1 PRECEDING), 0) AS BIGINT) AS tok_off FROM sh),
        |p AS (SELECT *,
        |        unnest(range(tok_off // 64, (tok_off + n_tok - 1) // 64 + 1)) AS pack_id
        |      FROM o WHERE n_tok > 0)
        |SELECT doc_id, pos, shard, n_tok, tok_off,
        |  CAST(pack_id AS BIGINT) AS pack_id,
        |  CAST(greatest(pack_id * 64 - tok_off, 0) AS BIGINT) AS start_in_doc,
        |  CAST(least((pack_id + 1) * 64 - tok_off, n_tok) AS BIGINT) AS end_in_doc
        |FROM p ORDER BY doc_id, pack_id""".stripMargin
    },
    "op107_corpus_shuffle" ->
      """WITH h AS (SELECT doc_id, md5('shuf:42:' || doc_id) AS h
        |           FROM documents),
        |r AS (SELECT doc_id,
        |        CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos
        |      FROM h)
        |SELECT doc_id, pos, CAST((pos - 1) % 16 AS BIGINT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin,
    "op88_mixture" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    ('0x' || substring(md5('mix:' || text), 1, 15))::BIGINT AS h,
        |    CAST(CAST(substring(source, 4) AS INT) % 4 + 1 AS BIGINT) AS w
        |  FROM documents),
        |c AS (SELECT source, count(*) AS n, min(w) AS w FROM t GROUP BY source),
        |k AS (SELECT min(n // w) AS k FROM c),
        |q AS (SELECT source, w * (SELECT k FROM k) AS quota FROM c),
        |r AS (SELECT t.*, row_number() OVER (PARTITION BY source
        |        ORDER BY h, doc_id) AS mix_rank FROM t)
        |SELECT r.doc_id, r.source, r.h AS mix_hash,
        |  CAST(r.mix_rank AS BIGINT) AS mix_rank, CAST(q.quota AS BIGINT) AS quota
        |FROM r JOIN q USING (source) WHERE r.mix_rank <= q.quota
        |ORDER BY doc_id""".stripMargin,
    "op89_mixture_cutoff" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    ('0x' || substring(md5('mix:' || text), 1, 15))::BIGINT AS h,
        |    CAST(CAST(substring(source, 4) AS INT) % 4 + 1 AS BIGINT) AS w
        |  FROM documents),
        |c AS (SELECT source, count(*) AS n, min(w) AS w FROM t GROUP BY source),
        |k AS (SELECT min(n // w) AS k FROM c),
        |r AS (SELECT source,
        |        w * (SELECT k FROM k) * 1000000 // n AS rate_ppm FROM c)
        |SELECT t.doc_id, t.source, CAST(t.h % 1000000 AS BIGINT) AS h_ppm,
        |  CAST(r.rate_ppm AS BIGINT) AS rate_ppm
        |FROM t JOIN r USING (source) WHERE t.h % 1000000 < r.rate_ppm
        |ORDER BY doc_id""".stripMargin,
    "op111_mixture_temperature" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    ('0x' || substring(md5('mix:' || text), 1, 15))::BIGINT AS h
        |  FROM documents),
        |c AS (SELECT source, count(*) AS n,
        |        CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000) AS BIGINT) AS s
        |      FROM t GROUP BY source),
        |tot AS (SELECT sum(n) AS tt, sum(s) AS ss FROM c),
        |r AS (SELECT source, n,
        |        least(CAST(floor(CAST(tt // 2 AS DOUBLE) * CAST(s AS DOUBLE)
        |          / CAST(ss AS DOUBLE)) AS BIGINT), n) AS quota
        |      FROM c, tot)
        |SELECT t.doc_id, t.source, CAST(t.h % 1000000 AS BIGINT) AS h_ppm,
        |  CAST(r.quota * 1000000 // r.n AS BIGINT) AS rate_ppm
        |FROM t JOIN r USING (source)
        |WHERE t.h % 1000000 < r.quota * 1000000 // r.n
        |ORDER BY doc_id""".stripMargin,
    "op99_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    ('0x' || substring(md5('budget:' || text), 1, 15))::BIGINT AS h,
        |    CAST((CAST(substring(source, 4) AS INT) % 4 + 1) * 500 AS BIGINT) AS budget
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, n_tok,
        |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY source
        |      ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS BIGINT) AS tok_before,
        |    budget
        |  FROM t)
        |SELECT doc_id, source, n_tok, tok_before, budget
        |FROM o WHERE tok_before < budget
        |ORDER BY doc_id""".stripMargin,
    "op90_quality_gate" -> {
      val stop = TextQueries.enStop.map("'" + _ + "'").mkString(",")
      s"""WITH b AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(length(replace(text, ' ', '')) * 10000
        |         // len(string_split(text, ' ')) AS BIGINT) AS mean_len_bp,
        |    CAST(len(list_distinct(string_split(text, ' '))) * 10000
        |         // len(string_split(text, ' ')) AS BIGINT) AS distinct_bp,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         x -> list_contains([$stop], x))) AS BIGINT) AS stop_hits
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, n_words, mean_len_bp, distinct_bp, stop_hits,
        |    CAST(CASE WHEN n_words >= 20 THEN 1 ELSE 0 END AS BIGINT) AS f_words,
        |    CAST(CASE WHEN mean_len_bp BETWEEN 40000 AND 47000
        |         THEN 1 ELSE 0 END AS BIGINT) AS f_len,
        |    CAST(CASE WHEN distinct_bp >= 5000 THEN 1 ELSE 0 END AS BIGINT) AS f_distinct,
        |    CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS f_stop
        |  FROM b)
        |SELECT *, CAST(f_words * f_len * f_distinct * f_stop AS BIGINT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin
    },
    "op91_gate_stats" -> {
      val stop = TextQueries.enStop.map("'" + _ + "'").mkString(",")
      s"""WITH b AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(length(replace(text, ' ', '')) * 10000
        |         // len(string_split(text, ' ')) AS BIGINT) AS mean_len_bp,
        |    CAST(len(list_distinct(string_split(text, ' '))) * 10000
        |         // len(string_split(text, ' ')) AS BIGINT) AS distinct_bp,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         x -> list_contains([$stop], x))) AS BIGINT) AS stop_hits
        |  FROM documents),
        |f AS (
        |  SELECT source,
        |    CASE WHEN n_words >= 20 THEN 1 ELSE 0 END AS f_words,
        |    CASE WHEN mean_len_bp BETWEEN 40000 AND 47000
        |         THEN 1 ELSE 0 END AS f_len,
        |    CASE WHEN distinct_bp >= 5000 THEN 1 ELSE 0 END AS f_distinct,
        |    CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS f_stop
        |  FROM b),
        |g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(f_words * f_len * f_distinct * f_stop) AS BIGINT) AS n_keep,
        |    CAST(sum(1 - f_words) AS BIGINT) AS drop_words,
        |    CAST(sum(1 - f_len) AS BIGINT) AS drop_len,
        |    CAST(sum(1 - f_distinct) AS BIGINT) AS drop_distinct,
        |    CAST(sum(1 - f_stop) AS BIGINT) AS drop_stop
        |  FROM f GROUP BY source)
        |SELECT *, CAST(n_keep * 10000 // n_docs AS BIGINT) AS keep_rate_bp
        |FROM g ORDER BY source""".stripMargin
    },
    "op94_corpus_stats" ->
      """WITH base AS (
        |  SELECT source, lang, count(*) AS n_docs,
        |    sum(len(string_split(text, ' '))) AS n_tokens,
        |    sum(length(text)) AS n_chars,
        |    min(length(text)) AS min_chars, max(length(text)) AS max_chars
        |  FROM documents GROUP BY source, lang),
        |v AS (
        |  SELECT source, lang, count(DISTINCT token) AS vocab
        |  FROM (SELECT source, lang, unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |  GROUP BY source, lang)
        |SELECT base.source, base.lang,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(min_chars AS BIGINT) AS min_chars,
        |  CAST(max_chars AS BIGINT) AS max_chars,
        |  CAST(vocab AS BIGINT) AS vocab,
        |  CAST(n_tokens * 10000 // n_docs AS BIGINT) AS mean_tok_bp
        |FROM base JOIN v USING (source, lang)
        |ORDER BY source, lang""".stripMargin,
    "op79_sample_stratified" ->
      """SELECT doc_id, source,
        |  ('0x' || substring(md5('sample:' || text), 1, 15))::BIGINT % 100 AS h_bucket,
        |  CAST((CAST(substring(source, 4) AS INT) % 4 + 1) * 25 AS BIGINT) AS rate_pct
        |FROM documents
        |WHERE ('0x' || substring(md5('sample:' || text), 1, 15))::BIGINT % 100
        |      < (CAST(substring(source, 4) AS INT) % 4 + 1) * 25
        |ORDER BY doc_id""".stripMargin,
    "op92_split_leak_safe" ->
      s"""WITH RECURSIVE
        |${DedupQueries.clusterCtes},
        |b AS (SELECT doc_id, CAST(cluster AS BIGINT) AS cluster,
        |        CAST(('0x' || substring(md5('split:' ||
        |          CAST(cluster AS VARCHAR)), 1, 15))::BIGINT % 100 AS BIGINT)
        |          AS bucket
        |      FROM clu)
        |SELECT doc_id, cluster, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // op261: op71's quality CTEs + op61's pair chain, composed
    "op261_quality_dup_cal" -> {
      val stop = TextQueries.enStop.map("'" + _ + "'").mkString(",")
      s"""WITH b AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok_ws,
        |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars_nosp,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> list_contains([$stop], x))) AS BIGINT) AS n_stop
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tok_ws,
        |    CASE WHEN n_tok_ws = 0 THEN 0
        |      ELSE n_stop * 10000 // n_tok_ws END AS stop_bp,
        |    CASE WHEN n_tok_ws = 0 THEN 0
        |      ELSE n_chars_nosp * 10000 // n_tok_ws END AS tok_len_bp
        |  FROM b),
        |qb AS (
        |  SELECT doc_id,
        |    CAST((2500 + least(n_tok_ws * 100, 2500) + least(stop_bp, 2500)
        |      + least(greatest(tok_len_bp - 20000, 0) // 4, 2500)) // 500
        |      AS BIGINT) AS bucket
        |  FROM r),
        |sh AS (SELECT DISTINCT doc_id, shingle FROM (${DedupQueries.trigramSql})),
        |keep AS (SELECT shingle FROM sh GROUP BY shingle
        |         HAVING count(*) <= ${DedupQueries.shingleDocFreqCap}),
        |shc AS (SELECT sh.* FROM sh JOIN keep USING (shingle)),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        |ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         count(*) AS overlap
        |       FROM shc a JOIN shc b USING (shingle)
        |       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM ov
        |  JOIN cnt ca ON ov.doc_a = ca.doc_id
        |  JOIN cnt cb ON ov.doc_b = cb.doc_id
        |  WHERE overlap * 10000 // (ca.n_sh + cb.n_sh - overlap) >= 7000),
        |dup AS (SELECT DISTINCT doc_id FROM (
        |  SELECT doc_a AS doc_id FROM pairs
        |  UNION ALL SELECT doc_b FROM pairs))
        |SELECT qb.bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_dup_docs,
        |  CAST((sum(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |       * 10000) // count(*) AS BIGINT) AS dup_rate_bp
        |FROM qb LEFT JOIN dup ON qb.doc_id = dup.doc_id
        |GROUP BY qb.bucket ORDER BY bucket""".stripMargin
    },
    // op129: the LCG and the integer division are exact BIGINT on both
    // engines; // is DuckDB's integer div
    "op129_weighted_sample" ->
      """WITH pr AS (
        |  SELECT doc_id, n_chars,
        |         (doc_id * 1103515245 + 12345) % 2147483647 AS u
        |  FROM documents),
        |p2 AS (SELECT doc_id, n_chars, u // n_chars AS priority FROM pr),
        |top AS (SELECT * FROM p2 ORDER BY priority, doc_id LIMIT 100)
        |SELECT CAST(row_number() OVER (ORDER BY priority, doc_id) AS BIGINT) AS rank,
        |       doc_id, CAST(priority AS BIGINT) AS priority, n_chars
        |FROM top ORDER BY rank""".stripMargin,
    "op87_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, source, n_tok,
        |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY source
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS BIGINT) AS tok_off
        |  FROM t),
        |p AS (
        |  SELECT doc_id, source, n_tok, tok_off,
        |    unnest(range(tok_off // 64, (tok_off + n_tok - 1) // 64 + 1)) AS pack_id
        |  FROM o WHERE n_tok > 0)
        |SELECT doc_id, source, n_tok, tok_off,
        |  CAST(pack_id AS BIGINT) AS pack_id,
        |  CAST(greatest(pack_id * 64 - tok_off, 0) AS BIGINT) AS start_in_doc,
        |  CAST(least((pack_id + 1) * 64 - tok_off, n_tok) AS BIGINT) AS end_in_doc
        |FROM p ORDER BY doc_id, pack_id""".stripMargin,
  )

  /** The probe queries run the SAME parameters against a prebuilt
    * persisted index — bit-exact storage (bigint everywhere) makes the
    * results, and therefore the oracles, identical to their end-to-end
    * build-per-run twins. */
  val oracle: Map[String, String] = baseOracle ++ Map(
    "op312_fim_transform" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS tk,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |         CASE WHEN CAST(('0x' || substring(md5('fim:' || text), 1, 15))
        |                    AS BIGINT) % 10 < 5
        |               AND len(string_split(text, ' ')) >= 3
        |              THEN 1 ELSE 0 END AS fim_applied
        |  FROM documents),
        |s AS (SELECT doc_id, text, tk, n, fim_applied, n // 3 AS p FROM t)
        |SELECT doc_id, CAST(fim_applied AS BIGINT) AS fim_applied,
        |       n AS n_tokens,
        |       CASE WHEN fim_applied = 1 THEN
        |         '<PRE>' || array_to_string(tk[1:p], ' ') ||
        |         '<SUF>' || array_to_string(tk[2*p+1:n], ' ') ||
        |         '<MID>' || array_to_string(tk[p+1:2*p], ' ')
        |       ELSE text END AS out_text
        |FROM s ORDER BY doc_id""".stripMargin,
    "op313_chat_template" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         array_to_string(tk[1:least(n, 10)], ' ') AS usr,
        |         CASE WHEN n > 10 THEN array_to_string(tk[11:n], ' ')
        |              ELSE '' END AS asst
        |  FROM t),
        |r AS (
        |  SELECT doc_id,
        |         '<|system|>' || chr(10) || 'You are a helpful assistant.' ||
        |         chr(10) || '<|user|>' || chr(10) || usr || chr(10) ||
        |         '<|assistant|>' || chr(10) || asst AS rendered,
        |         asst
        |  FROM s)
        |SELECT doc_id, rendered,
        |       CAST(length(rendered) - length(asst) + 1 AS BIGINT) AS mask_start,
        |       CAST(length(asst) AS BIGINT) AS mask_len
        |FROM r ORDER BY doc_id""".stripMargin,
    "op239_dsir_importance" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tk AS (
        |  SELECT t.doc_id, t.token, s.source
        |  FROM tok t JOIN documents s USING (doc_id)),
        |cnt AS (
        |  SELECT token,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS cs
        |  FROM tk GROUP BY 1),
        |tot AS (
        |  SELECT CAST(sum(ct) AS BIGINT) AS nt,
        |    CAST(sum(cs) AS BIGINT) AS ns,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM cnt),
        |w AS (
        |  SELECT token,
        |    CAST(floor(ln(CAST((ct + 1) * (ns + v) AS DOUBLE) /
        |         CAST((cs + 1) * (nt + v) AS DOUBLE)) * 1000000)
        |         AS BIGINT) AS w_micro
        |  FROM cnt CROSS JOIN tot)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(w.w_micro) AS BIGINT) AS dsir_micro,
        |  CAST(CASE WHEN sum(w.w_micro) >= 0 THEN 1 ELSE 0 END
        |       AS BIGINT) AS sel
        |FROM tok t JOIN w ON t.token = w.token
        |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,
  )

}
