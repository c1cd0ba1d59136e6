package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Layout, Similarity}
import graft.sources.Tables
import graft.streaming.Drain
import Det.{big, ordered}

/** Lakehouse / CDC / search pack (split out of TrainQueries in r11 —
  * same keys, same oracles, zero behavior change): the Z-ordered store
  * lifecycle, versioned snapshots, merge-on-read upsert + schema
  * evolution, incremental/retractable aggregates, the
  * changelog-compaction family with its streaming twins, and the
  * BM25/RRF/phrase search ops. Stores go through [[IndexStore]]. */
object LakehouseQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Changelog compaction: the latest state per key from a change
    * stream — the reference pipeline's whole purpose (materialize
    * current customer state out of a Kafka change topic into Redis,
    * SURVEY §2.1) re-expressed as ONE partial-aggregating Spark
    * aggregate over the unique total order (ts, event_id). The
    * aggregate is [[graft.functions.LatestAgg]] (TypedImperative →
    * ObjectHashAggregate): the built-in `max_by(struct, struct)` would
    * plan a SortAggregate (struct buffers aren't hash-aggregable) and
    * SORT every input partition; LatestAgg hashes instead, and the
    * shuffle still carries one buffer row per key per partition —
    * never the window-sort spelling that orders the full 100 TB
    * changelog. Value leaves as exact integer cents ([[Det.centsSum]]
    * contract). Streaming twin:
    * [[graft.streaming.Changelog.latestState]], spec'd equal on the
    * same fixture; LatestAgg ≡ max_by is spec'd too. */
  val op106ChangelogCompact: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"), col("event_type"),
        round(col("value") * 100, 0).cast("bigint").as("value_cents"))
    ordered(
      ev.groupBy(col("user_id"))
        .agg(graft.functions.LatestAgg.latest(col("ts_us"), col("event_id"),
          col("event_type"), col("value_cents")).as("last"))
        .select(col("user_id"), big(col("last.n")).as("n_changes"),
          big(col("last.event_id")).as("last_event_id"),
          col("last.event_type").as("last_event_type"),
          col("last.value_cents").as("last_value_cents"),
          big(col("last.ts_us")).as("last_ts_us")),
      "user_id")
  }

  /** op106's streaming twin under the hash gate: the events changelog
    * drained through [[graft.streaming.Changelog.latestState]] (real
    * Update-mode flatMapGroupsWithState execution, AvailableNow file
    * source → memory sink), then the update rows compacted to each
    * key's FINAL state — exactly what a KV/compacted-topic sink does
    * with an update stream, and bounded by touched keys, not events
    * (n_changes strictly grows per key, so max-n_changes is the last
    * write). Output ≡ batch op106, so it shares op106's oracle. */
  val op108StreamChangelog: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.Changelog
    val updates = Drain.files(s, d, "op108", "events", "update",
        Drain.width("8")) { st =>
      // raw stream schema: ts is whatever the fixture carries (nanos-long
      // or micros timestamp) — tsUsExpr adapts (see Tables.eventsColumns)
      Changelog.latestState(
        st.select(col("user_id"), col("event_id"),
          Tables.tsUsExpr(st).as("ts_us"), col("event_type"),
          round(col("value") * 100, 0).cast("bigint").as("value_cents"))
          .as[Changelog.Change]).toDF()
    }
    ordered(
      updates.groupBy(col("user_id"))
        .agg(max_by(
          struct(col("n_changes"), col("last_event_id"),
            col("last_event_type"), col("last_value_cents"),
            col("last_ts_us")),
          col("n_changes")).as("f"))
        .select(col("user_id"), col("f.n_changes").as("n_changes"),
          col("f.last_event_id").as("last_event_id"),
          col("f.last_event_type").as("last_event_type"),
          col("f.last_value_cents").as("last_value_cents"),
          col("f.last_ts_us").as("last_ts_us")),
      "user_id")
  }

  /** op108's twin on Spark 4's transformWithState (op122): the same
    * change stream compacted by [[graft.streaming.Changelog
    * .latestStateTws]] — typed ValueState, fold shared with the fMGWS
    * spelling — under the RocksDB provider the API requires (also the
    * 100 TB state recommendation). Same oracle as op106/op108: the
    * compacted stream IS the batch aggregate, so the successor API's
    * state machinery sits under the hash gate, not just a spec. */
  val op122StreamChangelogTws: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.{Changelog, StateStores}
    val updates = Drain.files(s, d, "op122", "events", "update",
        Drain.width("8") ++ StateStores.rocksDbConf) { st =>
      Changelog.latestStateTws(
        st.select(col("user_id"), col("event_id"),
          Tables.tsUsExpr(st).as("ts_us"), col("event_type"),
          round(col("value") * 100, 0).cast("bigint").as("value_cents"))
          .as[Changelog.Change]).toDF()
    }
    ordered(
      updates.groupBy(col("user_id"))
        .agg(max_by(
          struct(col("n_changes"), col("last_event_id"),
            col("last_event_type"), col("last_value_cents"),
            col("last_ts_us")),
          col("n_changes")).as("f"))
        .select(col("user_id"), col("f.n_changes").as("n_changes"),
          col("f.last_event_id").as("last_event_id"),
          col("f.last_event_type").as("last_event_type"),
          col("f.last_value_cents").as("last_value_cents"),
          col("f.last_ts_us").as("last_ts_us")),
      "user_id")
  }

  /** op131: streaming SCD2 — op128's history semantics as a real
    * Append-mode transformWithState execution (RocksDB): the event
    * stream's closed validity intervals, each emitted the moment its
    * version is superseded. Oracle: the batch SCD2 replay restricted to
    * closed intervals (is_current = 0), since open versions are operator
    * STATE, not output. */
  val op131StreamScd2: Q = (s, d) => {
    import s.implicits._
    import graft.streaming.{ScdStream, StateStores}
    val closed = Drain.files(s, d, "op131", "events", "append",
        Drain.width("8") ++ StateStores.rocksDbConf) { st =>
      ScdStream.closedIntervals(
        st.select(col("user_id"), col("event_type"),
          Tables.tsUsExpr(st).as("t_us"), col("event_id"),
          Det.bp4(col("value")).as("val_bp"))
          .as[ScdStream.Ev]).toDF()
    }
    ordered(closed, "user_id", "event_type", "ver")
  }

  /** op136: Z-order cluster key — dense lang ids (distinct-ranked +
    * broadcast back, never a corpus-wide window) and a capped length
    * band, bit-interleaved into one Morton key by pure codegen'd
    * Column arithmetic ([[graft.functions.Layout.mortonKey]]). The key
    * is what [[op137ClusteredScan]] range-partitions the clustered
    * write on; the oracle replays the identical 5-step mask-spread in
    * SQL. */
  val op136ZorderKey: Q = (s, d) => {
    val docs = graft.functions.Layout.denseDimIds(
      Tables.documents(s, d), "lang", "lang_id")
      .withColumn("len_bucket",
        least(expr("n_chars div 16"), lit(65535L)).cast("bigint"))
    ordered(
      docs.select(col("doc_id"), col("lang_id"), col("len_bucket"),
        graft.functions.Layout.mortonKey(col("lang_id"), col("len_bucket"))
          .as("zkey")),
      "doc_id")
  }

  /** op137: scan of the PREBUILT Z-order-clustered document store — the
    * lakehouse `OPTIMIZE ZORDER BY` shape. First call per dataset
    * clusters the corpus (one range shuffle on the Morton key,
    * key-sorted files) under the content-keyed cache; every later call
    * is scan-only, with the rectangle predicate (one language, one
    * length band) pushed to the parquet footers — which, thanks to the
    * clustering, exclude all but the files whose key range intersects
    * the rectangle (concentration asserted in ScaleSpec). The oracle
    * computes the same aggregate from the unclustered table, proving
    * the clustered store lossless. */
  private def zorderStoreDir(s: SparkSession, d: String): String = {
    // v3: manifest carries the per-file doc_id Bloom (point index) AND
    // per-dimension column bounds + n_rows (metadata-only aggregation)
    val dir = IndexStore.indexRoot(d, "zorder_lang_len_v3", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "docs/_manifest") { tmp =>
      val keyed = graft.functions.Layout.denseDimIds(
        Tables.documents(s, d), "lang", "lang_id")
        .withColumn("len_bucket",
          least(expr("n_chars div 16"), lit(65535L)).cast("bigint"))
      graft.functions.Layout.writeClustered(
        keyed.select(col("doc_id"), col("lang_id"), col("len_bucket"),
          col("n_chars")),
        graft.functions.Layout.mortonKey(col("lang_id"), col("len_bucket")),
        numFiles = 8, path = s"$tmp/docs",
        bloomKey = Some("doc_id"), bloomExpectedPerFile = 1L << 16,
        statsCols = Seq("lang_id", "len_bucket"))
    }
    dir
  }

  private def rectAgg(df: DataFrame): DataFrame =
    ordered(
      df.filter(col("lang_id") === 1L && col("len_bucket").between(4L, 20L))
        .groupBy(col("len_bucket"))
        .agg(big(count(lit(1))).as("n_docs"),
          big(sum(col("n_chars"))).as("sum_chars")),
      "len_bucket")

  val op137ClusteredScan: Q = (s, d) =>
    rectAgg(graft.functions.Layout.readClustered(s, s"${zorderStoreDir(s, d)}/docs"))

  /** op138: the SAME rectangle aggregate through the MANIFEST-pruned
    * access path — the store's `_manifest` (file → min/max zkey, the
    * explicit lakehouse file index) selects only the files whose key
    * range intersects the rectangle's Z interval (conservative by the
    * Morton monotonicity argument, see `Layout.readPruned`), and the
    * exact predicate runs over that subset. Identical result to op137
    * — same oracle — with the scan planned from one-row-per-file
    * metadata instead of listing every data file. */
  val op138PrunedScan: Q = (s, d) =>
    rectAgg(graft.functions.Layout.readPruned(
      s, s"${zorderStoreDir(s, d)}/docs", aLo = 1L, aHi = 1L, bLo = 4L, bHi = 20L))

  /** op139: pruned rectangle scan over a store built INCREMENTALLY —
    * 80% of the corpus clustered up front, the rest appended as new
    * key-sorted files with manifest rows appended beside them
    * (`Layout.appendClustered`: no rewrite of existing data or
    * metadata — the affordable continuous-ingest shape for a Z-ordered
    * table). The oracle is the full-corpus rectangle aggregate, so a
    * hash match proves the append lost nothing and the manifest prune
    * still finds every matching row across old AND new files. */
  /** op140: point lookup on a column the Z-key does NOT cluster —
    * doc_id is smeared across every file by the (lang, length) layout,
    * so zkey ranges cannot prune it; the manifest's per-file Bloom
    * filter (built as one grouped aggregate beside min/max) can. The
    * lookup plans driver-side from one-row-per-file metadata — no
    * false negatives, false positives only cost an extra file scan —
    * then applies the exact predicate. The lakehouse bloom-index
    * feature (Delta bloom filters / Iceberg puffin), made explicit. */
  val op140PointLookup: Q = (s, d) =>
    ordered(
      graft.functions.Layout.readPointCandidates(
          s, s"${zorderStoreDir(s, d)}/docs", key = 42L)
        .filter(col("doc_id") === 42L)
        .select(col("doc_id"), col("lang_id"), col("len_bucket"),
          col("n_chars")),
      "doc_id")

  /** The keyed corpus every layout store clusters: dense lang ids +
    * capped length band (see op136). */
  private def layoutKeyed(s: SparkSession, d: String): DataFrame =
    graft.functions.Layout.denseDimIds(
      Tables.documents(s, d), "lang", "lang_id")
      .withColumn("len_bucket",
        least(expr("n_chars div 16"), lit(65535L)).cast("bigint"))
      .select(col("doc_id"), col("lang_id"), col("len_bucket"),
        col("n_chars"))

  private def layoutZk: org.apache.spark.sql.Column =
    graft.functions.Layout.mortonKey(col("lang_id"), col("len_bucket"))

  val op139AppendScan: Q = (s, d) => {
    val dir = IndexStore.indexRoot(d, "zorder_lang_len_appended", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "docs/_manifest") { tmp =>
      val keyed = layoutKeyed(s, d)
      graft.functions.Layout.writeClustered(
        keyed.filter(col("doc_id") % 5 =!= 0L), layoutZk, numFiles = 8,
        path = s"$tmp/docs")
      graft.functions.Layout.appendClustered(
        keyed.filter(col("doc_id") % 5 === 0L), layoutZk, numFiles = 4,
        path = s"$tmp/docs")
    }
    rectAgg(graft.functions.Layout.readPruned(
      s, s"$dir/docs", aLo = 1L, aHi = 1L, bLo = 4L, bHi = 20L))
  }

  /** op141: pruned rectangle scan AFTER COMPACTION — three append
    * rounds fragment the store (base + 3×4 small files), then
    * `Layout.compactClustered` rewrites it into 4 freshly
    * range-partitioned key-sorted files with a rebuilt manifest (one
    * range shuffle of the CURRENT store, dimensions never recomputed —
    * the stored zkey is the cluster key). The oracle is unchanged:
    * compaction must move bytes, not answers. Completes the layout
    * lifecycle: build → scan → prune → append → compact. */
  val op141CompactedScan: Q = (s, d) => {
    val dir = IndexStore.indexRoot(d, "zorder_lang_len_compacted", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "docs/_manifest") { tmp =>
      val keyed = layoutKeyed(s, d)
      graft.functions.Layout.writeClustered(
        keyed.filter(col("doc_id") % 4 === 0L), layoutZk, numFiles = 4,
        path = s"$tmp/docs")
      (1L to 3L).foreach { r =>
        graft.functions.Layout.appendClustered(
          keyed.filter(col("doc_id") % 4 === r), layoutZk, numFiles = 4,
          path = s"$tmp/docs")
      }
      graft.functions.Layout.compactClustered(s, s"$tmp/docs", numFiles = 4)
    }
    rectAgg(graft.functions.Layout.readPruned(
      s, s"$dir/docs", aLo = 1L, aHi = 1L, bLo = 4L, bHi = 20L))
  }

  /** op145: TIME TRAVEL — the store commits a metadata snapshot after
    * each mutation (build → append → delete), and the query reads
    * AS OF the pre-delete snapshot: the full corpus, while HEAD has a
    * 10% slice tombstoned away. Snapshots are one manifest copy each
    * (data files shared across versions — the Delta-log/Iceberg
    * trade); this is the reproducible-pipeline contract, a training
    * run pinned to snapshot N reads the same corpus forever. The
    * oracle is the FULL-corpus rectangle aggregate — hash-matching it
    * through a store whose current view is smaller proves the
    * snapshot isolation real. */
  /** The op145/op154 shared versioned store: c=1 base (doc_id%5≠0),
    * c=2 full corpus (append), c=3 with doc_id%10==3 tombstoned. */
  private def versionedStoreDir(s: SparkSession, d: String): String = {
    val dir = IndexStore.indexRoot(d, "zorder_lang_len_versioned", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "docs/_manifest") { tmp =>
      val keyed = layoutKeyed(s, d)
      graft.functions.Layout.writeClustered(
        keyed.filter(col("doc_id") % 5 =!= 0L), layoutZk, numFiles = 8,
        path = s"$tmp/docs")
      graft.functions.Layout.commitSnapshot(s, s"$tmp/docs") // c=1: base
      graft.functions.Layout.appendClustered(
        keyed.filter(col("doc_id") % 5 === 0L), layoutZk, numFiles = 4,
        path = s"$tmp/docs")
      graft.functions.Layout.commitSnapshot(s, s"$tmp/docs") // c=2: full
      graft.functions.Layout.deleteByKeys(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 3L)
          .select(col("doc_id")),
        s"$tmp/docs")
      graft.functions.Layout.commitSnapshot(s, s"$tmp/docs") // c=3: deleted
    }
    dir
  }

  val op145TimeTravel: Q = (s, d) =>
    rectAgg(graft.functions.Layout.readAsOf(
      s, s"${versionedStoreDir(s, d)}/docs", commit = 2L))

  /** op154: snapshot CDC DIFF — what changed between commit 1 (the
    * base build) and commit 3 (after append + delete), planned from
    * METADATA: inserted rows read from exactly the files the manifest
    * set-diff says were added, deleted rows from the FROM snapshot
    * semi-joined to the broadcast tombstone delta
    * (`Layout.snapshotDiff` — data read proportional to the CHANGE,
    * never the store; a compaction between the snapshots is refused).
    * An appended-then-tombstoned key counts as neither. The oracle
    * re-derives both legs from the slice definitions. */
  val op154SnapshotDiff: Q = (s, d) => {
    val store = s"${versionedStoreDir(s, d)}/docs"
    val (ins, del) = graft.functions.Layout.snapshotDiff(s, store, 1L, 3L)
    def leg(df: DataFrame, kind: String): DataFrame =
      df.groupBy(col("lang_id"))
        .agg(big(count(lit(1))).as("n"))
        .select(lit(kind).as("change"), col("lang_id"), col("n"))
    ordered(leg(ins, "insert").unionByName(leg(del, "delete")),
      "change", "lang_id")
  }

  /** The BM25 query workload: three fixed queries over the corpus
    * vocabulary, shared verbatim by the Spark plan and the oracle. */
  private val bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "join", 1L -> "window",
    2L -> "customer", 2L -> "order", 2L -> "line",
    3L -> "vector", 3L -> "hash", 3L -> "scan")

  /** op148: BM25 term statistics — the inverted-index build's metadata
    * face: per-token document frequency, collection frequency, and
    * Robertson idf in integer micro-units (floor(ln(·)×10⁶) — see
    * [[graft.functions.Bm25]] for why quantized integers are the only
    * cross-engine-hashable spelling of a float score). Two
    * map-combinable shuffles ((doc,token) then token) — the postings
    * build a 100 TB full-text index would run. */
  val op148Bm25Stats: Q = (s, d) => {
    val post = graft.functions.Bm25.postings(
      Tables.documents(s, d), "doc_id", "text")
    val stats = graft.functions.Bm25.termStats(post)
      .crossJoin(broadcast(
        graft.functions.Bm25.corpusScalars(Tables.documents(s, d), "text")))
      .withColumn("idf_ubp", expr(graft.functions.Bm25.idfUbpSql))
    ordered(stats.select(col("token"), col("df"), col("cf"),
      col("idf_ubp")), "token")
  }

  /** op149: BM25 top-k retrieval — postings restricted to a BROADCAST
    * query-term list, idf/tf contributions computed from SHARED SQL
    * expression text (bit-identical IEEE arithmetic on both engines),
    * quantized to integer micro-units BEFORE the per-document sum (so
    * the sum is exact and order-independent), and trimmed by the
    * bounded [[graft.functions.TopKAgg]] — k rows per (query,
    * partition) cross the shuffle, never the candidate set. The oracle
    * replays the identical pipeline with a window rank. */
  val op149Bm25TopK: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val post = graft.functions.Bm25.postings(docs, "doc_id", "text")
    ordered(
      graft.functions.Bm25.topK(
        post,
        graft.functions.Bm25.termStats(post),
        graft.functions.Bm25.corpusScalars(docs, "text"),
        bm25Queries.toDF("q_id", "token"), k = 5),
      "q_id", "rank")
  }

  /** op210 fusion constants: the standard RRF damping (60), leg depth
    * (top-20 from each retriever), and emitted depth (top-10 fused). */
  private val (rrfK0, rrfDepth, rrfOut) = (60L, 20, 10)

  /** op210: reciprocal-rank-fusion hybrid retrieval — the RAG-serving
    * primitive: a LEXICAL leg (op149's BM25 top-[[rrfDepth]] for the
    * shared [[bm25Queries]]) and a VECTOR leg (op67's brute cosine
    * top-[[rrfDepth]], query q's vector = embedding vec_id q; doc_id ≡
    * vec_id by fixture contract) fused per (query, doc) by
    * floor(10⁶/(60+rank)) per leg summed — integer RRF, deterministic
    * on both engines; docs a leg misses contribute 0 and report rank
    * −1 (never silently NULL). Top-[[rrfOut]] fused rows emitted.
    *
    * 100 TB shape: each leg is already bounded (BM25 candidates by the
    * broadcast query-term list + TopKAgg trim; ANN by its index — in
    * production the vector leg is op119/op115's probe, same output
    * shape) so the fusion input is queries × 2k rows — broadcast-sized
    * REGARDLESS of corpus size; the full-outer merge and re-rank are
    * per-query grid algebra. Rank fusion (not score fusion) is what
    * makes the two legs' incomparable score scales composable — the
    * reason RRF is the production default. */
  val op210RrfFusion: Q = (s, d) => {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val post = graft.functions.Bm25.postings(docs, "doc_id", "text")
    val lex = graft.functions.Bm25.topK(
        post,
        graft.functions.Bm25.termStats(post),
        graft.functions.Bm25.corpusScalars(docs, "text"),
        bm25Queries.toDF("q_id", "token"), k = rrfDepth)
      .select(col("q_id"), col("doc_id"), col("rank").as("r_lex"))
    val emb = Tables.embeddings(s, d)
    val qIds = bm25Queries.map(_._1).distinct
    val vec = Similarity.bruteForceTopK(
        emb.filter(col("vec_id").isin(qIds: _*)), emb, rrfDepth)
      .select(col("q_id"), col("n_id").as("doc_id"),
        col("rank").as("r_vec"))
    val fused = lex.join(vec, Seq("q_id", "doc_id"), "full_outer")
      .select(col("q_id"), col("doc_id"),
        coalesce(col("r_lex"), lit(-1L)).as("rank_lex"),
        coalesce(col("r_vec"), lit(-1L)).as("rank_vec"),
        (coalesce(expr(s"1000000 div ($rrfK0 + r_lex)"), lit(0L)) +
         coalesce(expr(s"1000000 div ($rrfK0 + r_vec)"), lit(0L)))
          .as("rrf_ppm"))
    ordered(
      fused.withColumn("rank", big(row_number().over(
          Window.partitionBy("q_id")
            .orderBy(col("rrf_ppm").desc, col("doc_id")))))
        .where(col("rank") <= rrfOut)
        .select("q_id", "rank", "doc_id", "rrf_ppm",
          "rank_lex", "rank_vec"),
      "q_id", "rank")
  }

  /** op211's fixed phrase workload (ids shared with the oracle VALUES
    * list): three bigrams + one trigram present in the fixture corpus. */
  private val phraseQueries: Seq[(Long, String)] = Seq(
    1L -> "table hash", 2L -> "customer join",
    3L -> "vector small", 4L -> "part filter scan")

  /** op211: positional phrase search — exact multi-word match over a
    * POSITIONAL inverted index: postings are (doc, position, token)
    * (posexplode — the op148 postings build plus the position column
    * Lucene keeps for exactly this query class); a phrase of n terms
    * matches at anchor a iff every (offset i, term tᵢ) posting exists
    * at position a+i, found by ONE equi-join of postings against the
    * broadcast (phrase, offset, term) list and counting per-anchor
    * hits to n — phrase length never changes the join count. Emits
    * per (phrase, doc): match count + first position.
    *
    * 100 TB shape: one (token)-keyed shuffle bounded by postings that
    * match ANY query term (the broadcast semi-join prunes the rest at
    * the scan); the anchor trick turns n-gram adjacency into a single
    * group-by — no n-way self-join, no per-document re-tokenization
    * per phrase. The production escalation is the op136 layout story:
    * postings bucketed by token make the probe a pruned scan. */
  val op211PhraseSearch: Q = (s, d) => {
    import s.implicits._
    val pos = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).cast("bigint").as("p"),
        col("col").as("token"))
    val terms = phraseQueries.flatMap { case (id, ph) =>
        ph.split(" ").zipWithIndex.map { case (t, i) => (id, i.toLong, t) }
      }.toDF("phrase_id", "off", "token")
    val nTerms = terms.groupBy("phrase_id")
      .agg(count(lit(1)).as("n_terms"))
    val anchors = pos.join(broadcast(terms), "token")
      .select(col("phrase_id"), col("doc_id"),
        (col("p") - col("off")).as("anchor"))
      // (doc, p) is unique per posting, so each (anchor, off) pair hits
      // at most once — count(*) counts DISTINCT satisfied offsets
      .groupBy("phrase_id", "doc_id", "anchor")
      .agg(count(lit(1)).as("n_hit"))
    val matches = anchors.join(broadcast(nTerms), "phrase_id")
      .where(col("n_hit") === col("n_terms"))
    ordered(
      matches.groupBy("phrase_id", "doc_id")
        .agg(big(count(lit(1))).as("n_matches"),
          min("anchor").as("first_pos")),
      "phrase_id", "doc_id")
  }

  /** op153: STREAMING CDC upsert — the changelog family's online leg
    * (the op142 symmetry for row-level mutation): arrivals stream in
    * via AvailableNow and every micro-batch lands through
    * `Layout.applyChanges` in `foreachBatch` — one O(batch) appended
    * change file per micro-batch, nothing rewritten; `readMerged`
    * resolves latest-wins afterwards. The arrival stream carries
    * INSERTs (the doc_id%5==0 slice the base build withheld) and
    * UPDATEs (+100000 chars on doc_id%7==3 of the base slice) as
    * disjoint key sets, so within-batch key uniqueness holds under ANY
    * micro-batch partitioning the engine picks — the property a real
    * CDC feed gets from its per-key log ordering. */
  val op153StreamUpsert: Q = (s, d) => {
    import org.apache.spark.sql.streaming.Trigger
    val dir = IndexStore.indexRoot(d, "zorder_lang_len_stream_upserted",
      table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "docs/_manifest") { tmp =>
      graft.functions.Layout.writeClustered(
        layoutKeyed(s, d).filter(col("doc_id") % 5 =!= 0L), layoutZk,
        numFiles = 8, path = s"$tmp/docs")
      val langIds = graft.functions.Layout.denseDimIds(
        Tables.documents(s, d), "lang", "lang_id")
        .select(col("lang"), col("lang_id")).distinct()
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val streamDir =
        java.nio.file.Files.createTempDirectory("graft_zupsert_")
      val link = streamDir.resolve("documents.parquet")
      try {
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$d/documents.parquet"))
        val isUpdate =
          col("doc_id") % 7 === 3L && col("doc_id") % 5 =!= 0L
        val q = s.readStream.schema(schema).parquet(streamDir.toString)
          .filter(col("doc_id") % 5 === 0L || isUpdate)
          .writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val keyed = batch.join(broadcast(langIds), "lang")
              .withColumn("len_bucket",
                least(expr("n_chars div 16"), lit(65535L)).cast("bigint"))
              .select(col("doc_id"), col("lang_id"), col("len_bucket"),
                col("n_chars"))
            graft.functions.Layout.applyChanges(
              keyed.withColumn("n_chars", col("n_chars") +
                  when(isUpdate, 100000L).otherwise(0L))
                .withColumn("zkey", layoutZk)
                .withColumn("_op", lit("U")),
              "doc_id", s"$tmp/docs"): Unit
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally {
        java.nio.file.Files.deleteIfExists(link)
        java.nio.file.Files.deleteIfExists(streamDir): Unit
      }
    }
    rectAgg(graft.functions.Layout.readMerged(s, s"$dir/docs", "doc_id"))
  }

  /** op152: incremental aggregate maintenance — the materialized-view
    * delta-refresh shape: each ingest batch (three deterministic
    * l_orderkey slices standing in for daily drops) reduces to its
    * PARTIAL aggregates (sum/count per group — the algebraic form every
    * re-aggregatable metric decomposes into) and appends them to a
    * persisted state table; the refresh merges partials only (sum of
    * sums / sum of counts) and NEVER rescans prior batches. At 100 TB
    * the state table is O(groups × batches) — compacted by re-merging,
    * never by re-reading the corpus — vs. a full-table group-by per
    * refresh. Quantities are integral-valued doubles cast to bigint
    * before summing, so partial merges are exact in any order. The
    * oracle is the full-table aggregate: delta-maintained and
    * recomputed answers must agree exactly. */
  val op152IncrAgg: Q = (s, d) => {
    val dir = IndexStore.indexRoot(d, "incr_agg_flag_status", table = "lineitem")
    IndexStore.buildIndexIfAbsent(dir, "state") { tmp =>
      val li = Tables.lineitem(s, d)
      (0L to 2L).foreach { b =>
        li.filter(col("l_orderkey") % 3 === b)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(big(sum(col("l_quantity").cast("bigint"))).as("p_qty"),
            big(count(lit(1))).as("p_cnt"))
          .withColumn("batch", lit(b))
          .write.mode(if (b == 0L) "overwrite" else "append")
          .parquet(s"$tmp/state")
      }
    }
    ordered(
      s.read.parquet(s"$dir/state")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(big(sum("p_qty")).as("sum_qty"),
          big(sum("p_cnt")).as("n_rows")),
      "l_returnflag", "l_linestatus")
  }

  /** op253: incremental aggregate maintenance WITH RETRACTIONS — the
    * delete leg op152's insert-only refresh can't express: sum/count
    * partials form an abelian GROUP, not just a monoid, so an upstream
    * correction lands as one O(groups) partial with NEGATIVE
    * multiplicities — never a base-table rescan, never tombstone
    * bookkeeping at refresh time. Here the 'R'-flag slice is retracted
    * (a recall of returned lines) after op152's three insert batches;
    * the maintained view nets those groups to ZERO and the n_rows > 0
    * gate makes them VANISH — the group-disappearance subtlety every
    * IVM treatment has to get right, exercised for real (the oracle
    * recomputes from scratch without the retracted rows). MIN/MAX are
    * deliberately absent: they are not subtractable, and at scale they
    * re-derive from the op137 clustered store's per-file stats
    * instead. */
  val op253RetractAgg: Q = (s, d) => {
    val dir = IndexStore.indexRoot(d, "retract_agg_flag_status", table = "lineitem")
    IndexStore.buildIndexIfAbsent(dir, "state") { tmp =>
      val li = Tables.lineitem(s, d)
      (0L to 2L).foreach { b =>
        li.filter(col("l_orderkey") % 3 === b)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(big(sum(col("l_quantity").cast("bigint"))).as("p_qty"),
            big(count(lit(1))).as("p_cnt"))
          .withColumn("batch", lit(b))
          .write.mode(if (b == 0L) "overwrite" else "append")
          .parquet(s"$tmp/state")
      }
      li.filter(col("l_returnflag") === "R")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg((-big(sum(col("l_quantity").cast("bigint")))).as("p_qty"),
          (-big(count(lit(1)))).as("p_cnt"))
        .withColumn("batch", lit(3L))
        .write.mode("append").parquet(s"$tmp/state")
    }
    ordered(
      s.read.parquet(s"$dir/state")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(big(sum("p_qty")).as("sum_qty"),
          big(sum("p_cnt")).as("n_rows"))
        .where(col("n_rows") > 0),
      "l_returnflag", "l_linestatus")
  }

  /** op146: merge-on-read UPSERT — the changelog leg that completes the
    * store's CRUD lifecycle (build → append → delete → UPSERT →
    * compact). Three change batches land as O(batch) appended parquet
    * under `_changes` (`Layout.applyChanges`: full row image + _op +
    * monotone _seq; no data or manifest rewrite — the Hudi/Paimon
    * merge-on-read shape for row-level mutation of a 100 TB store):
    * b1 INSERTs the 20% slice the base build withheld, b2 UPDATEs a
    * non-clustered column (+100000 chars on the doc_id%7==3 slice),
    * b3 DELETEs doc_id%10==6 — overriding b2's update where the slices
    * overlap, which is exactly the latest-wins contract `readMerged`
    * resolves (one max_by(_seq) per changed key + one anti-join). The
    * oracle re-derives the same final image from the unclustered
    * table; compaction applying the changelog physically (and the
    * merged view surviving it bit-identically) is LayoutSpec's. */
  val op146UpsertMerge: Q = (s, d) => {
    val dir = IndexStore.indexRoot(d, "zorder_lang_len_upserted", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "docs/_manifest") { tmp =>
      val keyed = layoutKeyed(s, d)
      graft.functions.Layout.writeClustered(
        keyed.filter(col("doc_id") % 5 =!= 0L), layoutZk, numFiles = 8,
        path = s"$tmp/docs")
      val zkeyed = keyed.withColumn("zkey", layoutZk)
      graft.functions.Layout.applyChanges( // b1: INSERT the held-out 20%
        zkeyed.filter(col("doc_id") % 5 === 0L).withColumn("_op", lit("U")),
        "doc_id", s"$tmp/docs")
      graft.functions.Layout.applyChanges( // b2: UPDATE a non-clustered col
        zkeyed.filter(col("doc_id") % 7 === 3L)
          .withColumn("n_chars", col("n_chars") + 100000L)
          .withColumn("_op", lit("U")),
        "doc_id", s"$tmp/docs")
      graft.functions.Layout.applyChanges( // b3: DELETE (overrides b2)
        zkeyed.filter(col("doc_id") % 10 === 6L).withColumn("_op", lit("D")),
        "doc_id", s"$tmp/docs")
      ()
    }
    rectAgg(graft.functions.Layout.readMerged(s, s"$dir/docs", "doc_id"))
  }

  /** op147: SCHEMA EVOLUTION — the append batch carries a column the
    * base build never had (`quality`), landing as new files with the
    * wider schema while the old files stay untouched (the lakehouse
    * ADD COLUMN contract: widening a 100 TB table rewrites nothing).
    * `Layout.readClusteredEvolved` resolves the union schema
    * (mergeSchema) and null-fills the base files; the aggregate counts
    * scored vs unscored rows per language, so the hash gate proves the
    * null-fill exact — every base row unscored, every appended row
    * carrying its value. */
  val op147SchemaEvolution: Q = (s, d) => {
    val dir = IndexStore.indexRoot(d, "zorder_lang_len_evolved", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "docs/_manifest") { tmp =>
      val keyed = layoutKeyed(s, d)
      graft.functions.Layout.writeClustered(
        keyed.filter(col("doc_id") % 5 =!= 0L), layoutZk, numFiles = 8,
        path = s"$tmp/docs")
      graft.functions.Layout.appendClustered(
        keyed.filter(col("doc_id") % 5 === 0L)
          .withColumn("quality", col("n_chars") % 100L),
        layoutZk, numFiles = 4, path = s"$tmp/docs")
    }
    ordered(
      graft.functions.Layout.readClusteredEvolved(s, s"$dir/docs")
        .groupBy(col("lang_id"))
        .agg(big(count(lit(1))).as("n_docs"),
          big(count(col("quality"))).as("n_scored"),
          big(sum(col("quality"))).as("sum_quality")),
      "lang_id")
  }

  /** op144: metadata-only rectangle COUNT — the manifest's per-file
    * column bounds + n_rows answer the aggregate for every file whose
    * bounds lie inside the rectangle WITHOUT opening it; only boundary
    * files are scanned with the exact predicate (Iceberg's scan-free
    * aggregation, made explicit). The driver-side literal is the
    * metadata answer BY DESIGN — the point of the op is that the
    * corpus is (mostly) never read. The oracle counts the unclustered
    * table directly: stats-derived and scan-derived answers must
    * agree exactly. */
  val op144MetaCount: Q = (s, d) => {
    val rc = graft.functions.Layout.countRectangleMeta(
      s, s"${zorderStoreDir(s, d)}/docs",
      Seq(("lang_id", 1L, 1L), ("len_bucket", 4L, 20L)))
    s.range(1).select(lit(rc.count).cast("bigint").as("n_docs"))
  }

  /** op143: merge-on-read DELETE — a key slice is tombstoned (an O(N)
    * appended key file; no data or manifest rewrite, the GDPR-delete
    * shape for a 100 TB store) and the pruned rectangle scan of the
    * CURRENT view anti-joins it out. The oracle excludes the same
    * slice from the unclustered table, so a hash match proves the
    * tombstones removed exactly the deleted keys and nothing else.
    * Compaction applying tombstones physically is LayoutSpec's. */
  val op143DeleteScan: Q = (s, d) => {
    val dir = IndexStore.indexRoot(d, "zorder_lang_len_deleted", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "docs/_manifest") { tmp =>
      graft.functions.Layout.writeClustered(
        layoutKeyed(s, d), layoutZk, numFiles = 8, path = s"$tmp/docs")
      graft.functions.Layout.deleteByKeys(
        Tables.documents(s, d).filter(col("doc_id") % 10 === 3L)
          .select(col("doc_id")),
        s"$tmp/docs")
    }
    rectAgg(graft.functions.Layout.readPrunedCurrent(
      s, s"$dir/docs", aLo = 1L, aHi = 1L, bLo = 4L, bHi = 20L))
  }

  /** op142: STREAMING ingest into the clustered store — the layout
    * family's online leg (the op104/op132/op134 symmetry). Arrivals
    * stream in via AvailableNow and every micro-batch lands through
    * `Layout.appendClustered` in `foreachBatch`: new key-sorted files
    * + manifest rows, nothing rewritten — continuous ingest into a
    * Z-ordered table as it would run in production (dimension ids
    * resolved per batch against the broadcast id map; a real deploy
    * pins the map or re-ranks offline). The oracle is the full-corpus
    * rectangle aggregate through the pruned path: the stream provably
    * lost nothing and the manifest stayed exact. */
  val op142StreamClusteredIngest: Q = (s, d) => {
    import org.apache.spark.sql.streaming.Trigger
    val dir = IndexStore.indexRoot(d, "zorder_lang_len_streamed", table = "documents")
    IndexStore.buildIndexIfAbsent(dir, "docs/_manifest") { tmp =>
      graft.functions.Layout.writeClustered(
        layoutKeyed(s, d).filter(col("doc_id") % 5 =!= 0L), layoutZk,
        numFiles = 8, path = s"$tmp/docs")
      // dimension-id map resolved ONCE from the static corpus: the
      // stream joins against it per batch (tiny broadcast)
      val langIds = graft.functions.Layout.denseDimIds(
        Tables.documents(s, d), "lang", "lang_id")
        .select(col("lang"), col("lang_id")).distinct()
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val streamDir =
        java.nio.file.Files.createTempDirectory("graft_zingest_")
      val link = streamDir.resolve("documents.parquet")
      try {
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$d/documents.parquet"))
        val q = s.readStream.schema(schema).parquet(streamDir.toString)
          .filter(col("doc_id") % 5 === 0L)
          .writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val keyed = batch.join(broadcast(langIds), "lang")
              .withColumn("len_bucket",
                least(expr("n_chars div 16"), lit(65535L)).cast("bigint"))
              .select(col("doc_id"), col("lang_id"), col("len_bucket"),
                col("n_chars"))
            graft.functions.Layout.appendClustered(
              keyed, layoutZk, numFiles = 4, path = s"$tmp/docs")
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally {
        java.nio.file.Files.deleteIfExists(link)
        java.nio.file.Files.deleteIfExists(streamDir): Unit
      }
    }
    rectAgg(graft.functions.Layout.readPruned(
      s, s"$dir/docs", aLo = 1L, aHi = 1L, bLo = 4L, bHi = 20L))
  }

  private lazy val rectAggSql: String =
    """WITH lid AS (
      |  SELECT doc_id, n_chars,
      |         dense_rank() OVER (ORDER BY lang) - 1 AS lang_id,
      |         LEAST(n_chars // 16, 65535) AS len_bucket
      |  FROM documents)
      |SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM lid WHERE lang_id = 1 AND len_bucket BETWEEN 4 AND 20
      |GROUP BY len_bucket ORDER BY len_bucket""".stripMargin

  val defs: Map[String, Q] = Map(
    "op106_changelog_compact" -> op106ChangelogCompact, "op108_stream_changelog" -> op108StreamChangelog,
    "op122_stream_changelog_tws" -> op122StreamChangelogTws, "op131_stream_scd2" -> op131StreamScd2,
    "op136_zorder_key" -> op136ZorderKey, "op137_clustered_scan" -> op137ClusteredScan,
    "op138_pruned_scan" -> op138PrunedScan, "op139_append_scan" -> op139AppendScan,
    "op140_point_lookup" -> op140PointLookup, "op141_compacted_scan" -> op141CompactedScan,
    "op142_stream_clustered_ingest" -> op142StreamClusteredIngest, "op143_delete_scan" -> op143DeleteScan,
    "op144_meta_count" -> op144MetaCount, "op145_time_travel" -> op145TimeTravel,
    "op146_upsert_merge" -> op146UpsertMerge, "op147_schema_evolution" -> op147SchemaEvolution,
    "op148_bm25_stats" -> op148Bm25Stats, "op149_bm25_topk" -> op149Bm25TopK,
    "op210_rrf_fusion" -> op210RrfFusion, "op211_phrase_search" -> op211PhraseSearch,
    "op152_incr_agg" -> op152IncrAgg, "op253_retract_agg" -> op253RetractAgg,
    "op153_stream_upsert" -> op153StreamUpsert, "op154_snapshot_diff" -> op154SnapshotDiff)

  private val baseOracle: Map[String, String] = Map(
    "op106_changelog_compact" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |            event_type, CAST(round(value * 100, 0) AS BIGINT) AS value_cents,
        |            row_number() OVER (PARTITION BY user_id
        |              ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
        |            count(*) OVER (PARTITION BY user_id) AS n
        |          FROM events)
        |SELECT user_id, CAST(n AS BIGINT) AS n_changes,
        |  CAST(event_id AS BIGINT) AS last_event_id,
        |  event_type AS last_event_type,
        |  value_cents AS last_value_cents,
        |  CAST(ts_us AS BIGINT) AS last_ts_us
        |FROM e WHERE rn = 1 ORDER BY user_id""".stripMargin,
    // op131: the closed subset of op128's batch SCD2 replay — open
    // versions are streaming state, not output
    "op131_stream_scd2" ->
      """WITH base AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id,
        |         CAST(CAST(value AS DECIMAL(38,4)) * 10000 AS BIGINT) AS val_bp
        |  FROM events),
        |flg AS (
        |  SELECT *, lag(val_bp) OVER (PARTITION BY user_id, event_type
        |                              ORDER BY t_us, event_id) AS prev,
        |         row_number() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY t_us, event_id) AS rn
        |  FROM base),
        |chg AS (SELECT * FROM flg WHERE rn = 1 OR prev IS DISTINCT FROM val_bp),
        |v AS (
        |  SELECT user_id, event_type,
        |         CAST(row_number() OVER w AS BIGINT) AS ver,
        |         val_bp, t_us AS valid_from, lead(t_us) OVER w AS valid_to
        |  FROM chg WINDOW w AS (PARTITION BY user_id, event_type ORDER BY t_us, event_id))
        |SELECT user_id, event_type, ver, val_bp, valid_from, valid_to
        |FROM v WHERE valid_to IS NOT NULL
        |ORDER BY user_id, event_type, ver""".stripMargin)

  val oracle: Map[String, String] = baseOracle ++ Map(
    // the streamed changelog's compacted final state IS the batch
    // latest-state aggregate
    "op108_stream_changelog" -> baseOracle("op106_changelog_compact"),
    // the transformWithState twin compacts to the same final state
    "op122_stream_changelog_tws" -> baseOracle("op106_changelog_compact"),
    // op136: the oracle replays the identical 5-step mask-spread bit
    // arithmetic (bigint &, |, << on both engines); dense_rank over the
    // corpus is the oracle-side spelling of the distinct-rank+broadcast
    // the Spark side uses (equivalent ids, corpus-window-free at scale)
    "op136_zorder_key" ->
      """WITH lid AS (
        |  SELECT doc_id, dense_rank() OVER (ORDER BY lang) - 1 AS lang_id,
        |         LEAST(n_chars // 16, 65535) AS len_bucket
        |  FROM documents),
        |sp0 AS (SELECT doc_id, lang_id, len_bucket,
        |        lang_id & 65535 AS a, len_bucket & 65535 AS b FROM lid),
        |sp1 AS (SELECT doc_id, lang_id, len_bucket,
        |        (a | (a << 8)) & 16711935 AS a,
        |        (b | (b << 8)) & 16711935 AS b FROM sp0),
        |sp2 AS (SELECT doc_id, lang_id, len_bucket,
        |        (a | (a << 4)) & 252645135 AS a,
        |        (b | (b << 4)) & 252645135 AS b FROM sp1),
        |sp3 AS (SELECT doc_id, lang_id, len_bucket,
        |        (a | (a << 2)) & 858993459 AS a,
        |        (b | (b << 2)) & 858993459 AS b FROM sp2),
        |sp4 AS (SELECT doc_id, lang_id, len_bucket,
        |        (a | (a << 1)) & 1431655765 AS a,
        |        (b | (b << 1)) & 1431655765 AS b FROM sp3)
        |SELECT doc_id, CAST(lang_id AS BIGINT) AS lang_id,
        |       CAST(len_bucket AS BIGINT) AS len_bucket,
        |       CAST(a | (b << 1) AS BIGINT) AS zkey
        |FROM sp4 ORDER BY doc_id""".stripMargin,
    // op137/op138: the oracle aggregates the UNCLUSTERED table — a hash
    // match proves the Z-order-clustered store lossless and its scan
    // path exact. op138 shares it: the manifest-pruned access path
    // returns the identical aggregate (pruning is conservative by the
    // Morton monotonicity argument).
    "op137_clustered_scan" -> rectAggSql,
    "op138_pruned_scan" -> rectAggSql,
    // op139's store holds the same corpus (80% clustered + 20%
    // appended), so the rectangle aggregate — and the oracle — are
    // unchanged; the access path is what differs
    "op139_append_scan" -> rectAggSql,
    // op141/op142: compaction moves bytes, not answers; the streamed
    // ingest provably loses nothing — same full-corpus rectangle gate
    "op141_compacted_scan" -> rectAggSql,
    "op142_stream_clustered_ingest" -> rectAggSql,
    // op145 reads AS OF the pre-delete snapshot — the FULL corpus,
    // though the store's current view has a slice tombstoned: the
    // full-corpus oracle passing through a smaller HEAD proves the
    // snapshot isolation (op143's oracle pins what HEAD looks like)
    "op145_time_travel" -> rectAggSql,
    // op146: same rectangle aggregate over the post-changelog image —
    // full corpus, +100000 chars on the %7==3 slice, minus the %10==6
    // slice (len_bucket and lang_id derive from the ORIGINAL n_chars:
    // the update touches the non-clustered column only)
    "op146_upsert_merge" ->
      """WITH lid AS (
        |  SELECT doc_id, n_chars,
        |         dense_rank() OVER (ORDER BY lang) - 1 AS lang_id,
        |         LEAST(n_chars // 16, 65535) AS len_bucket
        |  FROM documents),
        |cur AS (
        |  SELECT doc_id, lang_id, len_bucket,
        |         n_chars + CASE WHEN doc_id % 7 = 3 THEN 100000 ELSE 0 END
        |           AS adj_chars
        |  FROM lid WHERE doc_id % 10 <> 6)
        |SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(adj_chars) AS BIGINT) AS sum_chars
        |FROM cur WHERE lang_id = 1 AND len_bucket BETWEEN 4 AND 20
        |GROUP BY len_bucket ORDER BY len_bucket""".stripMargin,
    // op147: the appended slice (doc_id%5==0) carries quality =
    // n_chars%100; base files null-fill under the evolved read
    "op147_schema_evolution" ->
      """WITH lid AS (
        |  SELECT doc_id, n_chars,
        |         dense_rank() OVER (ORDER BY lang) - 1 AS lang_id
        |  FROM documents),
        |q AS (
        |  SELECT lang_id,
        |         CASE WHEN doc_id % 5 = 0 THEN n_chars % 100 ELSE NULL END
        |           AS quality
        |  FROM lid)
        |SELECT CAST(lang_id AS BIGINT) AS lang_id,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(quality) AS BIGINT) AS n_scored,
        |       CAST(sum(quality) AS BIGINT) AS sum_quality
        |FROM q GROUP BY lang_id ORDER BY lang_id""".stripMargin,
    // op148/op149: the BM25 arithmetic is the SAME expression text the
    // Spark plan evaluates (graft.functions.Bm25.{idf,contrib}UbpSql,
    // interpolated below) — every +,-,*,/ is IEEE correctly-rounded, so
    // identical text ⇒ identical doubles; ln is quantized to integer
    // micro-units before any sum, so aggregation order cannot matter
    "op148_bm25_stats" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
         |         len(string_split(text, ' ')) AS dl
         |  FROM documents),
         |post AS (
         |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
         |  FROM tok GROUP BY doc_id, token),
         |c AS (
         |  SELECT count(*) AS n,
         |         CAST(sum(len(string_split(text, ' '))) AS DOUBLE) /
         |         CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM documents),
         |stats AS (
         |  SELECT token, count(*) AS df, sum(tf) AS cf
         |  FROM post GROUP BY token)
         |SELECT token, CAST(df AS BIGINT) AS df, CAST(cf AS BIGINT) AS cf,
         |       ${graft.functions.Bm25.idfUbpSql} AS idf_ubp
         |FROM stats CROSS JOIN c ORDER BY token""".stripMargin,
    "op149_bm25_topk" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
         |         len(string_split(text, ' ')) AS dl
         |  FROM documents),
         |post AS (
         |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
         |  FROM tok GROUP BY doc_id, token),
         |c AS (
         |  SELECT count(*) AS n,
         |         CAST(sum(len(string_split(text, ' '))) AS DOUBLE) /
         |         CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM documents),
         |stats AS (SELECT token, count(*) AS df FROM post GROUP BY token),
         |qt(q_id, token) AS (VALUES ${bm25Queries
             .map { case (q, t) => s"($q, '$t')" }.mkString(", ")}),
         |cand AS (
         |  SELECT qt.q_id, p.doc_id,
         |         ${graft.functions.Bm25.contribUbpSql} AS contrib
         |  FROM post p
         |  JOIN qt USING (token) JOIN stats USING (token) CROSS JOIN c),
         |scored AS (
         |  SELECT q_id, doc_id, sum(contrib) AS score_ubp
         |  FROM cand GROUP BY q_id, doc_id),
         |rk AS (
         |  SELECT q_id, doc_id, score_ubp,
         |         row_number() OVER (PARTITION BY q_id
         |           ORDER BY score_ubp DESC, doc_id) AS rnk
         |  FROM scored)
         |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(rnk AS BIGINT) AS rank,
         |       doc_id, CAST(score_ubp AS BIGINT) AS score_ubp
         |FROM rk WHERE rnk <= 5 ORDER BY q_id, rank""".stripMargin,
    // op210: both legs replayed verbatim (op149's BM25 chain at k=20,
    // op67's quantized-cosine chain restricted to the query ids), then
    // the integer RRF merge — rank fusion is engine-agnostic by design
    "op210_rrf_fusion" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
         |         len(string_split(text, ' ')) AS dl
         |  FROM documents),
         |post AS (
         |  SELECT doc_id, token, count(*) AS tf, max(dl) AS dl
         |  FROM tok GROUP BY doc_id, token),
         |c AS (
         |  SELECT count(*) AS n,
         |         CAST(sum(len(string_split(text, ' '))) AS DOUBLE) /
         |         CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM documents),
         |stats AS (SELECT token, count(*) AS df FROM post GROUP BY token),
         |qt(q_id, token) AS (VALUES ${bm25Queries
             .map { case (q, t) => s"($q, '$t')" }.mkString(", ")}),
         |bcand AS (
         |  SELECT qt.q_id, p.doc_id,
         |         ${graft.functions.Bm25.contribUbpSql} AS contrib
         |  FROM post p
         |  JOIN qt USING (token) JOIN stats USING (token) CROSS JOIN c),
         |bscored AS (
         |  SELECT q_id, doc_id, sum(contrib) AS score_ubp
         |  FROM bcand GROUP BY q_id, doc_id),
         |lexk AS (
         |  SELECT q_id, doc_id, rnk FROM (
         |    SELECT q_id, doc_id,
         |           row_number() OVER (PARTITION BY q_id
         |             ORDER BY score_ubp DESC, doc_id) AS rnk
         |    FROM bscored) WHERE rnk <= $rrfDepth),
         |qv AS (
         |  SELECT vec_id,
         |    [CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
         |     FOR i IN range(64)] AS v
         |  FROM embeddings),
         |nv AS (SELECT vec_id, v,
         |         CAST(list_sum([v[i+1] * v[i+1] FOR i IN range(64)]) AS DOUBLE) AS n2
         |       FROM qv),
         |vscored AS (
         |  SELECT qs.vec_id AS q_id, cs.vec_id AS n_id,
         |         CASE WHEN qs.n2 = 0 OR cs.n2 = 0 THEN CAST(0 AS BIGINT)
         |              ELSE CAST(floor(CAST(list_sum([qs.v[i+1] * cs.v[i+1] FOR i IN range(64)]) AS DOUBLE)
         |                   / (sqrt(qs.n2) * sqrt(cs.n2)) * 10000) AS BIGINT) END AS cos_bp
         |  FROM nv qs, nv cs
         |  WHERE qs.vec_id IN (${bm25Queries.map(_._1).distinct.mkString(", ")})
         |    AND qs.vec_id <> cs.vec_id),
         |veck AS (
         |  SELECT q_id, n_id, rank FROM (
         |    SELECT q_id, n_id,
         |           row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos_bp DESC, n_id) AS rank
         |    FROM vscored) WHERE rank <= $rrfDepth),
         |fused AS (
         |  SELECT coalesce(l.q_id, v.q_id) AS q_id,
         |         coalesce(l.doc_id, v.n_id) AS doc_id,
         |         coalesce(l.rnk, -1) AS rank_lex,
         |         coalesce(v.rank, -1) AS rank_vec,
         |         coalesce(1000000 // ($rrfK0 + l.rnk), 0) +
         |         coalesce(1000000 // ($rrfK0 + v.rank), 0) AS rrf_ppm
         |  FROM lexk l FULL OUTER JOIN veck v
         |    ON l.q_id = v.q_id AND l.doc_id = v.n_id),
         |rk2 AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |           ORDER BY rrf_ppm DESC, doc_id) AS rank
         |  FROM fused)
         |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(rank AS BIGINT) AS rank,
         |  doc_id, CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
         |  CAST(rank_lex AS BIGINT) AS rank_lex,
         |  CAST(rank_vec AS BIGINT) AS rank_vec
         |FROM rk2 WHERE rank <= $rrfOut ORDER BY q_id, rank""".stripMargin,
    // op211: positional postings (zipped unnest = posexplode), the
    // anchor trick replayed verbatim
    "op211_phrase_search" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
         |         unnest(range(1, len(string_split(text, ' ')) + 1)) AS p
         |  FROM documents),
         |terms(phrase_id, off, token) AS (VALUES ${phraseQueries
             .flatMap { case (id, ph) =>
               ph.split(" ").zipWithIndex.map { case (t, i) =>
                 s"($id, $i, '$t')" } }.mkString(", ")}),
         |nt AS (SELECT phrase_id, count(*) AS n_terms FROM terms
         |       GROUP BY 1),
         |hit AS (
         |  SELECT t.phrase_id, k.doc_id, k.p - t.off AS anchor,
         |         count(*) AS n_hit
         |  FROM tok k JOIN terms t ON k.token = t.token
         |  GROUP BY 1, 2, 3),
         |m AS (
         |  SELECT h.phrase_id, h.doc_id, h.anchor
         |  FROM hit h JOIN nt USING (phrase_id)
         |  WHERE h.n_hit = nt.n_terms)
         |SELECT CAST(phrase_id AS BIGINT) AS phrase_id, doc_id,
         |  CAST(count(*) AS BIGINT) AS n_matches,
         |  CAST(min(anchor) AS BIGINT) AS first_pos
         |FROM m GROUP BY 1, 2 ORDER BY phrase_id, doc_id""".stripMargin,
    // op152: the delta-maintained state must answer exactly like the
    // full-table aggregate (quantities are integral doubles → bigint)
    // op253: the recompute the maintained view must equal — the base
    // WITHOUT the retracted slice; 'R' groups vanish entirely
    "op253_retract_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem WHERE l_returnflag <> 'R'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "op152_incr_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // op153: full corpus with +100000 chars on the streamed update
    // slice (doc_id%7==3 of the base slice); len_bucket/lang_id from
    // the ORIGINAL n_chars (non-clustered-column update)
    "op153_stream_upsert" ->
      """WITH lid AS (
        |  SELECT doc_id, n_chars,
        |         dense_rank() OVER (ORDER BY lang) - 1 AS lang_id,
        |         LEAST(n_chars // 16, 65535) AS len_bucket
        |  FROM documents),
        |cur AS (
        |  SELECT doc_id, lang_id, len_bucket,
        |         n_chars + CASE WHEN doc_id % 7 = 3 AND doc_id % 5 <> 0
        |                        THEN 100000 ELSE 0 END AS adj_chars
        |  FROM lid)
        |SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(adj_chars) AS BIGINT) AS sum_chars
        |FROM cur WHERE lang_id = 1 AND len_bucket BETWEEN 4 AND 20
        |GROUP BY len_bucket ORDER BY len_bucket""".stripMargin,
    // op154: inserts = the appended slice (%5==0; none tombstoned —
    // %10==3 implies %5==3), deletes = the tombstoned slice within the
    // base (%5<>0 and %10==3)
    "op154_snapshot_diff" ->
      """WITH lid AS (
        |  SELECT doc_id,
        |         dense_rank() OVER (ORDER BY lang) - 1 AS lang_id
        |  FROM documents),
        |ins AS (
        |  SELECT 'insert' AS change, lang_id, count(*) AS n
        |  FROM lid WHERE doc_id % 5 = 0 AND doc_id % 10 <> 3
        |  GROUP BY lang_id),
        |del AS (
        |  SELECT 'delete' AS change, lang_id, count(*) AS n
        |  FROM lid WHERE doc_id % 5 <> 0 AND doc_id % 10 = 3
        |  GROUP BY lang_id)
        |SELECT change, CAST(lang_id AS BIGINT) AS lang_id,
        |       CAST(n AS BIGINT) AS n
        |FROM (SELECT * FROM ins UNION ALL SELECT * FROM del)
        |ORDER BY change, lang_id""".stripMargin,
    // op143: the oracle excludes the tombstoned slice directly — the
    // merge-on-read view must remove exactly those keys
    "op143_delete_scan" ->
      """WITH lid AS (
        |  SELECT doc_id, n_chars,
        |         dense_rank() OVER (ORDER BY lang) - 1 AS lang_id,
        |         LEAST(n_chars // 16, 65535) AS len_bucket
        |  FROM documents)
        |SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM lid
        |WHERE lang_id = 1 AND len_bucket BETWEEN 4 AND 20
        |  AND doc_id % 10 <> 3
        |GROUP BY len_bucket ORDER BY len_bucket""".stripMargin,
    // op144: the metadata-derived count must equal the direct count
    "op144_meta_count" ->
      """WITH lid AS (
        |  SELECT doc_id,
        |         dense_rank() OVER (ORDER BY lang) - 1 AS lang_id,
        |         LEAST(n_chars // 16, 65535) AS len_bucket
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs
        |FROM lid WHERE lang_id = 1 AND len_bucket BETWEEN 4 AND 20
        |ORDER BY n_docs""".stripMargin,
    // op140: the bloom-planned point lookup returns exactly the one
    // document row — the oracle recomputes its derived dims directly
    "op140_point_lookup" ->
      """WITH lid AS (
        |  SELECT doc_id, n_chars,
        |         dense_rank() OVER (ORDER BY lang) - 1 AS lang_id,
        |         LEAST(n_chars // 16, 65535) AS len_bucket
        |  FROM documents)
        |SELECT doc_id, CAST(lang_id AS BIGINT) AS lang_id,
        |       CAST(len_bucket AS BIGINT) AS len_bucket,
        |       CAST(n_chars AS BIGINT) AS n_chars
        |FROM lid WHERE doc_id = 42 ORDER BY doc_id""".stripMargin)
}
