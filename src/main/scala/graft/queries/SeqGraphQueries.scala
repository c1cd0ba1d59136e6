package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Components
import graft.sources.Tables
import graft.streaming.Drain
import Det.{big, ordered}

/** Sequence, interval, graph, and record-linkage pack — the classic
  * warehouse patterns the earlier families don't cover: gaps-and-islands
  * run detection, sweep-line interval concurrency, blocked fuzzy joins
  * (entity resolution), fixed-point iterative PageRank, robust MAD
  * outlier statistics, and null-aware NOT IN three-valued semantics.
  *
  * Oracle strategy (house rules, Det.scala): every emitted value is an
  * exact integer or string — day indexes instead of timestamps, cents
  * instead of doubles, integer fixed-point (parts-per-billion) instead
  * of float ranks — so DuckDB replays each result bit-for-bit.
  */
object SeqGraphQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Day index epoch for interval arithmetic (orders span 1995–2001). */
  private val epoch = "1995-01-01"

  /** op176's fixed-point scale: ranks held as parts-per-billion BIGINTs;
    * damping 0.85 applied as (ppb·850000000) div 10⁹ — the product stays
    * ≤ 8.5×10¹⁷, inside BIGINT. */
  private[queries] val prScale = 1000000000L
  private[queries] val prDampNum = 850000000L
  private[queries] val prIters = 5
  /** op176 basket cap — orders with more distinct parts than this are
    * excluded from the co-purchase graph (the op170 doc-frequency-cap
    * convention: at 100 TB one mega-basket would emit O(n²) pairs). */
  private val prBasketCap = 7

  // ---------------------------------------------------------------- op173

  /** op173: gaps-and-islands — per user, maximal runs of consecutive
    * events (ordered by ts, event_id) sharing one event_type, via
    * change-flag + running sum: flag = 1 where the type differs from
    * its predecessor, island id = cumulative flag sum. Emits one row
    * per island with its length and id/day bounds.
    *
    * Spelled with lag + cumsum rather than the textbook
    * two-row_number difference DELIBERATELY: rn_all − rn_per_type
    * partitions its second window by (user, type) — a SECOND Exchange
    * — while lag and the running sum here share one (user_id)
    * partitioning and one (ts, id) sort, so Catalyst plans ONE
    * Exchange + one Sort for the whole query (ScaleSpec pins it).
    * Per-user state is a run counter, never the corpus; the streaming
    * twin of this pattern is sessionization (op105/op53). */
  val op173Islands: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select("event_id", "user_id", "event_type", "ts")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val chg = when(lag("event_type", 1).over(w).isNull ||
      lag("event_type", 1).over(w) =!= col("event_type"), 1L)
      .otherwise(0L)
    ordered(
      ev.withColumn("g", sum(chg).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "event_type", "g")
        .agg(count(lit(1)).as("n_run"),
          min("event_id").as("min_id"), max("event_id").as("max_id"),
          big(datediff(to_date(min("ts")), lit(epoch).cast("date")))
            .as("start_day"))
        .select("user_id", "event_type", "n_run", "min_id", "max_id",
          "start_day"),
      "user_id", "min_id")
  }

  // ---------------------------------------------------------------- op174

  /** op174: sweep-line peak concurrency — per supplier, the maximum
    * number of line items simultaneously in fulfilment (order date →
    * ship date, closed interval) and the first day the peak is reached.
    * Intervals become ±1 boundary events, collapsed per day BEFORE the
    * running sum, so ties within a day are aggregated away (the
    * end-vs-start tie order that breaks naive sweep lines never arises).
    *
    * 100 TB shape: the boundary-event rollup is map-combinable
    * (supplier × day grid ≪ corpus); the running sum and argmax run
    * over that grid under one supplier-partitioned sort. No interval
    * self-join — the naive "count overlapping per item" is O(n²) per
    * supplier; the sweep is O(grid). */
  val op174PeakConcurrency: Q = (s, d) => {
    val iv = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
        big(datediff(to_date(col("o_orderdate")), lit(epoch).cast("date")))
          .as("d0"),
        big(datediff(to_date(col("l_shipdate")), lit(epoch).cast("date")))
          .as("d1"))
      // ship-before-order never happens in the fixture, but the sweep
      // must not silently corrupt if it did
      .select(col("l_suppkey"), least(col("d0"), col("d1")).as("lo"),
        (greatest(col("d0"), col("d1")) + 1).as("hi"))
    val deltas = iv.select(col("l_suppkey"),
        explode(array(
          struct(col("lo").as("day"), lit(1L).as("delta")),
          struct(col("hi").as("day"), lit(-1L).as("delta")))).as("e"))
      .select(col("l_suppkey"), col("e.day"), col("e.delta"))
      .groupBy("l_suppkey", "day").agg(sum("delta").as("net"))
    val cum = deltas.withColumn("open",
      sum("net").over(Window.partitionBy("l_suppkey").orderBy("day")))
    ordered(
      cum.groupBy("l_suppkey")
        .agg(max("open").as("peak"), count(lit(1)).as("n_days"))
        .join(cum.select(col("l_suppkey").as("sk"), col("day"),
          col("open")), col("l_suppkey") === col("sk") &&
          col("open") === col("peak"))
        .groupBy("l_suppkey", "peak", "n_days")
        .agg(min("day").as("peak_day"))
        .select("l_suppkey", "peak", "peak_day", "n_days"),
      "l_suppkey")
  }

  // ---------------------------------------------------------------- op191

  /** op191: interval-union coverage — per supplier, the total number of
    * days covered by ≥1 fulfilment interval (overlaps merged), the
    * span between first and last activity, and utilization in basis
    * points. The op174 sweep reused for MEASURE instead of max: between
    * consecutive boundary days the open-count is constant, so coverage
    * = Σ (next_day − day) over grid rows where open > 0 — the
    * interval-merge problem (dedup of overlapping validity windows,
    * SLA uptime, sensor coverage) without ever materializing per-day
    * rows.
    *
    * 100 TB shape: identical to op174 — the corpus collapses onto the
    * boundary-event grid before any ordered pass; the lead() window
    * shares the running sum's (supplier, day) sort, one Exchange. The
    * per-day explode alternative materializes span×suppliers rows —
    * the grid form is O(2·intervals). */
  val op191IntervalCoverage: Q = (s, d) => {
    val iv = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
        big(datediff(to_date(col("o_orderdate")), lit(epoch).cast("date")))
          .as("d0"),
        big(datediff(to_date(col("l_shipdate")), lit(epoch).cast("date")))
          .as("d1"))
      .select(col("l_suppkey"), least(col("d0"), col("d1")).as("lo"),
        (greatest(col("d0"), col("d1")) + 1).as("hi"))
    val deltas = iv.select(col("l_suppkey"),
        explode(array(
          struct(col("lo").as("day"), lit(1L).as("delta")),
          struct(col("hi").as("day"), lit(-1L).as("delta")))).as("e"))
      .select(col("l_suppkey"), col("e.day"), col("e.delta"))
      .groupBy("l_suppkey", "day").agg(sum("delta").as("net"))
    val w = Window.partitionBy("l_suppkey").orderBy("day")
    val cum = deltas
      .withColumn("open", sum("net").over(w))
      .withColumn("nxt", lead("day", 1).over(w))
    ordered(
      cum.groupBy("l_suppkey")
        .agg(sum(when(col("open") > 0, col("nxt") - col("day"))
            .otherwise(0L)).as("covered_days"),
          (max("day") - min("day")).as("span_days"))
        .withColumn("util_bp",
          expr("(covered_days * 10000) div span_days"))
        .select("l_suppkey", "covered_days", "span_days", "util_bp"),
      "l_suppkey")
  }

  // ---------------------------------------------------------------- op175

  /** op175: blocked fuzzy join (entity resolution) — every part name is
    * deterministically corrupted (delete the character at position
    * p_partkey mod length), then resolved back against the 64 distinct
    * clean names: candidate pairs come from equi-joins on 4-char
    * prefix/suffix block keys (never a cross join), survivors verified
    * with levenshtein ≤ 2, best match = (min distance, min name).
    *
    * 100 TB shape: blocking IS the operator — the prefix/suffix keys
    * are this family's LSH bands (op63's minhash banding for sets,
    * q-gram blocks for strings): candidates are generated by hash
    * equi-join on block keys and only candidates pay the O(len²)
    * verify. Recall is a declared property of the blocking scheme (a
    * typo inside BOTH the prefix and suffix evades it — mitigated by
    * multi-pass blocking, here 2 passes). */
  val op175FuzzyJoin: Q = (s, d) => {
    val probes = Tables.part(s, d)
      .select(col("p_partkey"), col("p_name"),
        (col("p_partkey") % length(col("p_name"))).cast("int").as("pos"))
      .select(col("p_partkey"),
        concat(expr("substring(p_name, 1, pos)"),
          expr("substring(p_name, pos + 2)")).as("probe"))
    val names = Tables.part(s, d).select(col("p_name").as("cand"))
      .distinct()
    def blocks(c: String) = array(
      concat(lit("p:"), expr(s"substring($c, 1, 4)")),
      concat(lit("s:"), expr(s"substring($c, length($c) - 3)")))
    val pb = probes.select(col("p_partkey"), col("probe"),
      explode(blocks("probe")).as("bk"))
    val nb = names.select(col("cand"), explode(blocks("cand")).as("bk"))
    val cands = pb.join(nb, "bk")
      .select("p_partkey", "probe", "cand").distinct()
      .where(abs(length(col("probe")) - length(col("cand"))) <= 2)
      .withColumn("dist", big(levenshtein(col("probe"), col("cand"))))
      .where(col("dist") <= 2)
    val best = cands.withColumn("rn", row_number().over(
      Window.partitionBy("p_partkey").orderBy("dist", "cand")))
      .where(col("rn") === 1)
    ordered(
      best.join(Tables.part(s, d).select("p_partkey", "p_name"),
          "p_partkey")
        .select(col("p_partkey"), col("probe"), col("cand").as("best"),
          col("dist"),
          expr("CAST(CASE WHEN best = p_name THEN 1 ELSE 0 END AS BIGINT)")
            .as("self_match")),
      "p_partkey")
  }

  // ------------------------------------------------ op176 / op226 (+ b)

  /** op176: PageRank over the co-purchase graph, broadcast ranks. */
  val op176Pagerank: Q = (s, d) =>
    dampedRanks(s, d, seeded = false, coPart = false)

  /** op176b: op176 with co-partitioned joins, ranks never broadcast. */
  val op176bPagerankPartitioned: Q = (s, d) =>
    dampedRanks(s, d, seeded = false, coPart = true)

  /** op226: random walk with restart from the op209 seeds, broadcast. */
  val op226RandomWalkRestart: Q = (s, d) =>
    dampedRanks(s, d, seeded = true, coPart = false)

  /** op226b: op226 with co-partitioned joins, ranks never broadcast. */
  val op226bRwrPartitioned: Q = (s, d) =>
    dampedRanks(s, d, seeded = true, coPart = true)

  /** Damped PageRank over the co-purchase graph — parts are vertices,
    * orders (≤ prBasketCap distinct parts) contribute cliques of edges;
    * [[prIters]] damped iterations entirely in parts-per-billion BIGINT
    * fixed-point (rank div degree, (Σ·850000000) div 10⁹ damping), so
    * both engines replay the identical integer trajectory (rank_ppb).
    * seeded=true (op226, rwr_ppb) restricts the teleport mass to the
    * op209 SOURCE SET (v ≡ 0 mod 97): rank restarts at the seeds, so
    * the ppb measures relevance TO THE SEEDS (recommendation expansion,
    * taint/exposure propagation); unreached vertices emit 0.
    *
    * 100 TB shape: each iteration is one shuffle — contributions
    * re-keyed to the destination vertex and hash-aggregated; seeding
    * changes only the base term's support. The basket cap bounds clique
    * blowup like op170's; every vertex is in ≥ 1 edge, so none dangles.
    * coPart=false (op176/op226): the |V|-sized degree, rank and
    * contribution tables ride broadcast hints and the edge list never
    * shuffles — optimal while ranks fit in memory. coPart=true
    * (op176b/op226b), the billion-vertex form: edges are hash-
    * partitioned by src ONCE and each round's rank table meets them in
    * a co-partitioned shuffle join, so only O(|V|) moves per round and
    * the edge Exchange is reused. Both spellings sit under one oracle. */
  private def dampedRanks(s: SparkSession, d: String, seeded: Boolean,
      coPart: Boolean): DataFrame = {
    val edges = basketCliqueUnd(s, d)
      .select(col("p1").as("src"), col("p2").as("dst"))
    ordered(
      pageRanks(edges, seeded, coPart)
        .select(col("pk").as("p_partkey"),
          col("r").as(if (seeded) "rwr_ppb" else "rank_ppb"), col("deg")),
      "p_partkey")
  }

  /** The [[dampedRanks]] iteration over any symmetric edge list
    * `(src, dst)` — op320 runs it on the crawl's URL graph. Returns
    * (pk, r, deg): vertex, rank in ppb, out-degree. */
  private[queries] def pageRanks(edges: DataFrame, seeded: Boolean,
      coPart: Boolean): DataFrame = {
    val hint = broadcastUnless(coPart)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // NOT materialized: the per-iteration re-reads of the edge chain
    // collapse to one computation via ReuseExchange (identical
    // subplans); an eager checkpoint here measured 2x SLOWER at sf0.1.
    // coPart pins the edge list's layout: hash by src, reused every
    // iteration.
    val esd =
      if (coPart) edges.repartition(col("src")).join(deg, "src")
      else edges.join(broadcast(deg), "src")
    val verts = deg.select(col("src").as("pk"))
    // |V| (or the seed count) attached via a 1-row cross join
    // (plan-time scalar, no collect)
    val n = if (seeded) "ns" else "nv"
    val nRow =
      if (seeded) broadcast(
        verts.where(col("pk") % 97 === 0).agg(count(lit(1)).as(n)))
      else verts.agg(count(lit(1)).as(n))
    def teleport(num: Long): String =
      if (seeded) s"CASE WHEN pk % 97 = 0 THEN $num div ns " +
        "ELSE CAST(0 AS BIGINT) END"
      else s"$num div nv"
    var ranks = verts.crossJoin(nRow)
      .select(col("pk"), expr(teleport(prScale)).as("r"))
    for (_ <- 1 to prIters) {
      val contrib = esd.join(hint(ranks), esd("src") === ranks("pk"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy("dst").agg(sum("c").as("sc"))
      ranks = verts.crossJoin(nRow)
        .join(hint(contrib), col("pk") === col("dst"), "left")
        .select(col("pk"), col(n), coalesce(col("sc"), lit(0L)).as("sc"))
        .select(col("pk"),
          expr(s"${teleport(150000000L)} + ($prDampNum * sc) div $prScale")
            .as("r"))
    }
    ranks.join(broadcast(deg), col("pk") === col("src"))
      .select(col("pk"), col("r"), col("deg"))
  }

  /** Join hint for a |V|-sized side: broadcast it (dimension-sized
    * regime), or leave it to a co-partitioned shuffle join (coPart). */
  private def broadcastUnless(coPart: Boolean): DataFrame => DataFrame =
    if (coPart) identity else (df => broadcast(df))

  // ------------------------------------------------- shared graph base

  /** The size-capped distinct basket of each order as ONE sorted array
    * row — the shared aggregate [[basketPairs]] explodes into pairs and
    * op213's nbk explodes into (order, part) incidences.
    *
    * Data-shape assumption (declared, r16 verdict item): collect_set
    * materializes the FULL per-order array BEFORE the size filter, so a
    * single aggregation buffer grows O(basket). Bounded here (TPC-H
    * orders hold ≤ 7 lineitems); on a corpus where a key can reach many
    * thousands of members, pre-prune oversized keys with a count-based
    * semi-join before collecting. */
  private def basketArrays(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey")
      .groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .where(size(col("ps")) <= prBasketCap)

  /** Canonical (p1 < p2) co-purchase pairs, one row per (order, pair) —
    * the shared prefix of [[supportPrunedPairs]] and [[basketCliqueUnd]].
    *
    * Optimization r16 (guide §2.3/§2.4, measured): the original spelling
    * — distinct → basket-size groupBy → semi-join → self-equi-join on
    * l_orderkey → pair groupBy — planned FIVE exchanges and evaluated
    * the scan+distinct+size-filter subtree twice (once per self-join
    * side; Catalyst does not share it). Since the basket cap bounds a
    * basket at [[prBasketCap]] parts, the whole pair generation fits
    * map-side after ONE order-keyed aggregate: collect the basket as a
    * sorted distinct array (collect_set ⊇ the old distinct; array_sort
    * restores determinism), filter on its size (= the old distinct
    * count), and explode the ≤ C(cap,2) = 21 ordered pairs with
    * higher-order array functions (codegen'd, no UDF). Two exchanges
    * total — (l_orderkey) then the consumer's (p1,p2) — and lineitem is
    * scanned once. Every graph query downstream inherits the saving;
    * results are bit-identical (hash-gated at sf0.001/0.01/0.1). */
  private def basketPairs(s: SparkSession, d: String): DataFrame =
    basketArrays(s, d)
      // ps is sorted ascending + distinct, so pairing each element with
      // its strict suffix yields exactly the p1 < p2 canonical pairs
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), " +
          "y -> struct(x AS p1, y AS p2))))")).as("pr"))
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))

  /** Support-pruned pairs WITH their support count — op213 (Jaccard
    * co-counts) and op218 (popularity-discount edge weights) consume
    * supp; everyone else projects it away (column-pruned, same plan as
    * the old supp-less spelling). r17: both ops previously re-built
    * this aggregate from the OLD 5-exchange self-join spelling —
    * they now ride the shared one-aggregate basket build. */
  private def supportPrunedPairsW(s: SparkSession, d: String): DataFrame =
    basketPairs(s, d)
      .groupBy("p1", "p2").agg(count(lit(1)).as("supp"))
      .where(col("supp") >= 2)

  /** The support-pruned co-purchase canonical pair list shared by op194 /
    * op202 / op208 / op209 / op213: distinct (order, part) incidences,
    * baskets capped at [[prBasketCap]] distinct parts, pairs kept only
    * with support ≥ 2 co-occurring orders (the op170 A-priori prune —
    * at 100 TB the prune bounds the edge list BEFORE any self-join).
    * One row per undirected edge with p1 < p2. */
  private def supportPrunedPairs(s: SparkSession, d: String): DataFrame =
    supportPrunedPairsW(s, d).select("p1", "p2")

  /** Symmetric (both-direction) edge list over [[supportPrunedPairs]]
    * (package-private so the k-core spec can replay the peel on the
    * same graph). */
  private[graft] def supportPrunedUnd(s: SparkSession, d: String): DataFrame = {
    val pairs = supportPrunedPairs(s, d)
    pairs.union(pairs.select(col("p2").as("p1"), col("p1").as("p2")))
  }

  /** UNPRUNED basket-clique co-purchase edge list, both directions —
    * op176's denser graph (distinct pairs within capped baskets, no
    * support floor): the right substrate for PageRank and community
    * detection, where the support-pruned fragments (avg degree ≈ 1.2)
    * carry no structure to find. */
  private[graft] def basketCliqueUnd(s: SparkSession, d: String): DataFrame = {
    val pairs = basketPairs(s, d).distinct()
    pairs.union(pairs.select(col("p2").as("p1"), col("p1").as("p2")))
  }

  /** The same graph-base CTE prefix shared by the op194/op202/op208/
    * op209/op213 oracles (MATERIALIZED: each is read by ≥ 2 consumers —
    * the inline-expansion blowup rule from op202's postmortem). */
  private val graphBaseSql: String =
    s"""li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |small AS MATERIALIZED (SELECT l_orderkey FROM li GROUP BY 1
       |          HAVING count(*) <= $prBasketCap),
       |li2 AS MATERIALIZED (SELECT li.l_orderkey, li.l_partkey
       |        FROM li JOIN small USING (l_orderkey)),
       |pairs AS MATERIALIZED (SELECT a.l_partkey AS p1, b.l_partkey AS p2
       |          FROM li2 a JOIN li2 b ON a.l_orderkey = b.l_orderkey
       |            AND a.l_partkey < b.l_partkey
       |          GROUP BY 1, 2 HAVING count(*) >= 2),
       |und AS MATERIALIZED (SELECT p1, p2 FROM pairs
       |        UNION ALL SELECT p2, p1 FROM pairs),
       |verts AS MATERIALIZED (SELECT DISTINCT p1 AS v FROM und)""".stripMargin

  // ---------------------------------------------------------------- op202

  /** One k-core peel step, shared by op202 and op293: the vertices (v)
    * of the symmetric edge list `und` (p1, p2) with degree ≥ k. */
  private def kCoreKeep(und: DataFrame, k: Int): DataFrame =
    und.groupBy(col("p1")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select(col("p1").as("v"))

  /** `und` restricted to the edges with both endpoints in `keep` (v). */
  private def kCoreRestrict(und: DataFrame, keep: DataFrame): DataFrame =
    und.join(keep.select(col("v").as("p1")), "p1")
      .join(keep.select(col("v").as("p2")), "p2")
      .select(col("p1"), col("p2"))

  /** op202 core parameter and peel-round unroll depth. */
  private val kcoreK = 3
  private val kcoreRounds = 10

  /** op202: k-core decomposition (k = [[kcoreK]]) over op194's
    * support-pruned co-purchase graph — iteratively peel vertices with
    * degree < k until fixpoint; what survives is the densest stable
    * backbone (the community-detection / influence-seeding primitive,
    * and the standard preprocessing that shrinks a graph before
    * expensive triangle/clique work). [[kcoreRounds]] unrolled rounds;
    * the emitted per-round removal counts PROVE convergence in-band
    * (the last round removes 0 — spec-asserted, and visible to the
    * oracle), the way op176 pins its iteration count.
    *
    * 100 TB shape: each round is one degree aggregate over the
    * surviving edge list (map-combinable) + a semi-join filter —
    * equi-joins only, no adjacency materialization; the peel is
    * monotone (alive sets only shrink) so per-round cost falls. The
    * vertex set IS checkpointed between rounds (the op126 convention,
    * and what GraphX/ML iterative jobs do): `alive` is referenced
    * three times per round (both join sides + the count), so an
    * unrolled lazy chain multiplies subplans ~3^rounds and stalls
    * Catalyst analysis long before execution — measured here, not
    * hypothesized. Ten tiny materializations beat one exponential
    * plan. */
  val op202KCore: Q = (s, d) => {
    // r16: the peel maintains the SHRINKING restricted edge list
    // (op293's shape) instead of re-joining the static full list
    // against the alive set twice per round — deg over (und restricted
    // to alive×alive) ≡ deg over the maintained list by induction, so
    // every emitted (n_before, n_core, n_removed) row is unchanged
    // (hash-gated), while each round's three exchanges now run over a
    // list the previous round already shrank (the scaladoc's "per-round
    // cost falls", made literal; on the support-pruned fixture round 1
    // removes most vertices). Counts stay driver-side O(1), piggybacked
    // on the per-round checkpoints.
    var und = supportPrunedUnd(s, d).localCheckpoint()
    var nAlive = und.select(col("p1")).distinct().count()
    var converged = false
    val rounds = (1 to kcoreRounds).map { r =>
      if (converged)
        s.range(1).select(lit(r.toLong).as("round"),
          lit(nAlive).as("n_before"), lit(nAlive).as("n_core"),
          lit(0L).as("n_removed"))
      else {
        val keep = kCoreKeep(und, kcoreK).localCheckpoint()
        val nNext = keep.count()
        val row = s.range(1).select(lit(r.toLong).as("round"),
          lit(nAlive).as("n_before"), lit(nNext).as("n_core"),
          lit(nAlive - nNext).as("n_removed"))
        converged = nNext == nAlive
        if (!converged) und = kCoreRestrict(und, keep).localCheckpoint()
        nAlive = nNext
        row
      }
    }
    ordered(rounds.reduce(_ union _), "round")
  }

  // ---------------------------------------------------------------- op194

  /** op194: triangle count + global transitivity over the co-purchase
    * graph (support ≥ 2 orders), via DEGREE ORIENTATION — each
    * undirected edge is directed from its lower (degree, id) endpoint,
    * so every triangle is enumerated EXACTLY ONCE and, crucially, each
    * wedge pivot enumerates only its higher-degree neighbors: the hub
    * that would generate deg² wedge candidates under naive enumeration
    * generates ~(deg·avg)°ᵘᵗ instead — the standard bound that makes
    * triangle counting feasible on power-law graphs. Wedges close by
    * one equi-join against the oriented edge list.
    *
    * 100 TB shape: two self-equi-joins of the oriented edge list
    * (hash-partitioned by pivot, then by the closing pair) — no
    * BNLJ, no per-vertex adjacency materialization beyond the edge
    * rows; the support prune bounds the edge list before any join
    * (the op170 A-priori argument). Emits the one-row graph summary:
    * vertices, edges, wedges, triangles, transitivity bp. */
  val op194Triangles: Q = (s, d) => trianglesSummary(s, d, coPart = true)

  /** op194b: triangle count, the BROADCAST degree attach — the A/B
    * twin that adjudicated op194's strategy (the op176/op176b
    * protocol): at sf0.1 the co-partitioned attach measured 4.0s vs
    * this spelling's 5.2s (3-rep medians, SCALE.md), because the
    * wedge join downstream wants the edge list hash-partitioned
    * anyway — the broadcast buys nothing and costs two
    * BroadcastExchanges. Broadcast remains the right call when the
    * consumer does NOT reshuffle afterwards (op215). Shares op194's
    * oracle. */
  val op194bTrianglesBroadcast: Q = (s, d) =>
    trianglesSummary(s, d, coPart = false)

  /** Attach both endpoints' degrees to the undirected edge list —
    * coPart=false: the |V|-sized deg table rides broadcast hints
    * (valid while vertices are dimension-sized); coPart=true: two
    * shuffle joins, no hints — only correct-at-any-|V| exchanges. */
  private def attachDegrees(und: DataFrame, deg: DataFrame,
      coPart: Boolean): DataFrame = {
    val d2 = deg.select(col("p1").as("p2"), col("deg").as("deg2"))
    if (coPart) und.join(deg, "p1").join(d2, "p2")
    else und.join(broadcast(deg), "p1").join(broadcast(d2), "p2")
  }

  /** Every triangle of a symmetric `(p1, p2)` edge list exactly once,
    * as (src, v, w), by op194's degree orientation. */
  private def orientedTriangles(und: DataFrame, deg: DataFrame,
      coPart: Boolean): DataFrame = {
    // total order (deg, id) as one key; ids < 10^9 by fixture contract.
    // deg is |V|-sized and attached ONCE (not per-iteration) — strategy
    // adjudicated by the op194/op194b A/B in SCALE.md
    val keyed = attachDegrees(und, deg, coPart)
      .select(col("p1"), col("p2"),
        expr("deg * 1000000000 + p1").as("k1"),
        expr("deg2 * 1000000000 + p2").as("k2"))
    val oriented = keyed.where(col("k1") < col("k2"))
      .select(col("p1").as("src"), col("p2").as("dst"),
        col("k2").as("dk"))
    val e1 = oriented.select(col("src"), col("dst").as("v"),
      col("dk").as("vk"))
    val e2 = oriented.select(col("src"), col("dst").as("w"),
      col("dk").as("wk"))
    val wedges = e1.join(e2, "src").where(col("vk") < col("wk"))
    wedges.join(
        oriented.select(col("src").as("v2"), col("dst").as("w2")),
        col("v") === col("v2") && col("w") === col("w2"))
      .select(col("src"), col("v"), col("w"))
  }

  private def trianglesSummary(s: SparkSession, d: String,
      coPart: Boolean): DataFrame = {
    val pairs = supportPrunedPairs(s, d)
    val und = pairs.union(
        pairs.select(col("p2").as("p1"), col("p1").as("p2")))
    val deg = und.groupBy("p1").agg(count(lit(1)).as("deg"))
    val triangles = orientedTriangles(und, deg, coPart)
    val nV = deg.agg(count(lit(1)).as("n_vertices"))
    val nE = pairs.agg(count(lit(1)).as("n_edges"))
    // open+closed wedge total Σ deg·(deg−1)/2 for global transitivity.
    // bounds: the sum is ≤ |E|·d_max — fits BIGINT while |E|·d_max
    // < 9·10¹⁸ (any fixture by orders of magnitude); a 10¹²-edge web
    // graph escalates THIS aggregate to DECIMAL(38) (the op268 rule)
    val nW = deg.agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    val nT = triangles.agg(count(lit(1)).as("n_triangles"))
    ordered(
      nV.crossJoin(nE).crossJoin(nW).crossJoin(nT)
        .withColumn("transitivity_bp",
          expr("CASE WHEN n_wedges = 0 THEN 0 " +
            "ELSE (3 * n_triangles * 10000) div n_wedges END"))
        .select("n_vertices", "n_edges", "n_wedges", "n_triangles",
          "transitivity_bp"),
      "n_vertices")
  }

  // ---------------------------------------------------------------- op208

  /** op208 label-propagation round cap — a safety bound only: the loop
    * breaks at the fixpoint (no label changed), which arrives within
    * the graph's diameter (~10 on the fixture co-purchase graph). */
  private val ccMaxRounds = 25

  /** op208: connected components over the support-pruned co-purchase
    * graph — plain hash-min label propagation ([[Components.minLabels]]
    * with no pointer jumps): rounds ≤ diameter, and co-purchase graphs
    * have small diameters. Components are emitted as (component id =
    * minimum member, size, member bounds); min_v == comp by
    * construction, kept as an in-band self-check. The ORACLE walks the
    * same graph as a recursive transitive-closure CTE — a completely
    * different algorithm arriving at the identical partition. */
  val op208ConnectedComponents: Q = (s, d) => {
    val und = supportPrunedUnd(s, d)
      .select(col("p1").as("src"), col("p2").as("dst")).localCheckpoint()
    val (labels, _) = Components.minLabels(und,
      und.select(col("src").as("v")).distinct(), jumps = 0, ccMaxRounds)
    ordered(
      labels.groupBy(col("lab"))
        .agg(big(count(lit(1))).as("n_vertices"),
          min("v").as("min_v"), max("v").as("max_v"))
        .select(col("lab").as("comp"), col("n_vertices"),
          col("min_v"), col("max_v")),
      "comp")
  }

  // --------------------------------------------------------------- op208b

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) over a
    * CANONICAL edge list (one row per unordered pair, u > v). Each
    * round: LARGE-STAR — for every node a (both directions), attach
    * each strictly-larger neighbor b to m = min(Γ(a) ∪ {a}); then
    * SMALL-STAR — for every node u of the canonical list, attach u and
    * all its (smaller) neighbors to m = min of those neighbors. Both
    * halves preserve connectivity and keep the canonical u > v
    * orientation by construction (every emitted edge points at a
    * round-min); the fixpoint is a star forest rooted at each
    * component's minimum vertex in O(log² n) rounds — vs hash-min's
    * O(diameter). Returns (starEdges(u,v), rounds). Per-round cost is
    * two groupBy-min + two equi-joins on the vertex key (the op208
    * round shape, twice), localCheckpointed (op202 rule); the fixpoint
    * test is ONE tagged symmetric-difference count per round (O(1)
    * driver data, one action — the op208/op293 probe rule). */
  private[graft] def starContract(
      canon0: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    var edges = canon0.localCheckpoint()
    var rounds = 0
    var done = false
    // ONE large-star/small-star round, LAZY — input canonical (u,v)
    // edges → the tagged dedup/probe aggregate.
    // r16: ls is NOT distinct'd — its two consumers are a min
    // aggregate (duplicate-insensitive) and a join whose output lands
    // in the dedup-ing tagged aggregate below, so the extra exchange
    // bought nothing (measured; results hash-gated). No intermediate
    // checkpoint either: ls's two consumers reuse one exchange at
    // runtime.
    // The tagged aggregate (r16): small-star dedup AND fixpoint probe
    // fold into ONE (u,v)-keyed aggregate over tagged rows (ssRaw tag
    // 1, input edges tag 0): max(t)=1 ⇔ the pair is in the new ss (the
    // old `ss.distinct()`), and a pair is in the symmetric difference
    // iff NOT (max=1 ∧ min=0).
    def roundAgg(e: DataFrame): DataFrame = {
      val both = e.select(col("u").as("a"), col("v").as("b"))
        .union(e.select(col("v").as("a"), col("u").as("b")))
      val minsL = both.groupBy("a").agg(min("b").as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      val ls = both.where(col("b") > col("a")).join(minsL, "a")
        .select(col("b").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
      val minsS = ls.groupBy("u").agg(min("v").as("m"))
      val ssRaw = ls.join(minsS, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(minsS.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
      ssRaw.select(col("u"), col("v"), lit(1L).as("t"))
        .union(e.select(col("u"), col("v"), lit(0L).as("t")))
        .groupBy(col("u"), col("v"))
        .agg(max("t").as("mx"), min("t").as("mn"))
    }
    // r17 measured NOTE (the verdict's item 3, tried and REVERTED):
    // batching TWO rounds per checkpoint+probe (round 1 lazy, its
    // filtered aggregate feeding round 2 inside one plan, relying on
    // ReuseExchange to dedup the ~5 replicated subtree copies) ran
    // 1.5× SLOWER at sf0.1 (op208b 6.16 → 9.04 s, 3-pass medians,
    // idle box) — the un-checkpointed round-1 aggregate is re-planned
    // under every round-2 consumer and the replicated window/codegen
    // planning outweighs the saved barrier, exactly like the r16
    // beamWalk experiment. One round per checkpoint stays.
    while (!done && rounds < maxRounds) {
      val comb = roundAgg(edges).localCheckpoint()
      val diff = comb.where(!(col("mx") === 1 && col("mn") === 0)).count()
      done = diff == 0
      edges = comb.where(col("mx") === 1).select(col("u"), col("v"))
      rounds += 1
    }
    (edges, rounds)
  }

  /** op208b: connected components by large-star/small-star contraction
    * — op208's scaladoc names star contraction as the production
    * escalation for diameter-heavy graphs (road networks, long user
    * journeys); this is that escalation, EXECUTABLE, under op208's
    * UNCHANGED oracle (the component partition is unique, so hash-min,
    * star contraction, and the oracle's recursive transitive closure
    * must all emit identical rows — three algorithms, one answer).
    *
    * 100 TB shape: round count is O(log² n) REGARDLESS of diameter —
    * the property hash-min lacks (a 10⁶-hop chain costs hash-min 10⁶
    * barrier rounds but star contraction ~40); per-round work is two
    * vertex-keyed join+groupBy-min pairs, map-combinable, never
    * all-pairs. SeqGraphSpec plants a 40-link chain and pins
    * starContract's round count strictly below hash-min's
    * ([[Components.minLabels]] with no jumps). */
  val op208bStarContraction: Q = (s, d) => {
    val canon = supportPrunedPairs(s, d)
      .select(greatest(col("p1"), col("p2")).as("u"),
        least(col("p1"), col("p2")).as("v"))
    val verts = supportPrunedUnd(s, d)
      .select(col("p1").as("pk")).distinct().localCheckpoint()
    val (stars, _) = starContract(canon, ccMaxRounds)
    val labels = verts
      .join(stars.select(col("u").as("pk"), col("v").as("lbl")),
        Seq("pk"), "left")
      .select(col("pk").as("v"), coalesce(col("lbl"), col("pk")).as("lbl"))
    ordered(
      labels.groupBy(col("lbl"))
        .agg(big(count(lit(1))).as("n_vertices"),
          min("v").as("min_v"), max("v").as("max_v"))
        .select(col("lbl").as("comp"), col("n_vertices"),
          col("min_v"), col("max_v")),
      "comp")
  }

  // ---------------------------------------------------------------- op293

  /** op293 contract: the core order and the peel-round bound. The
    * bound is part of the operator's semantics (both engines run
    * EXACTLY this many peel rounds; rounds past the fixpoint are
    * identical no-ops on both sides, so the hash holds whether or not
    * the fixture converges — the spec separately asserts it DOES, with
    * room to spare: sf0.001/sf0.01 reach fixpoint in ≤ 5 rounds). */
  private[graft] val kCoreK = 2
  private[graft] val kCoreMaxRounds = 10

  /** op293: k-core extraction (k = [[kCoreK]]) over the support-pruned
    * co-purchase graph — iterative peeling: drop every vertex of
    * degree < k, recompute degrees, repeat; the fixpoint is the
    * maximal subgraph where every vertex keeps ≥ k neighbors (the
    * standard density filter before community/influence analysis, and
    * the classic missing piece between op208's components and op225's
    * clustering coefficients). Emits each core vertex with its
    * in-core degree.
    *
    * 100 TB shape: one peel round is ONE map-combinable degree
    * aggregate + a self-semi-join of the edge list against the
    * survivor set — all keyed by vertex id, hash-partitioned, no
    * broadcast of anything vertex-sized, localCheckpoint between
    * rounds (the op202 rule); rounds are bounded by the peel depth
    * (typically ≪ diameter — degree constraints bite everywhere at
    * once) with [[kCoreMaxRounds]] as the contract bound. The
    * convergence probe is one O(1) count per round, piggybacked on
    * the checkpoint job like op208's. The oracle unrolls the same
    * peel round for round. */
  val op293KCore: Q = (s, d) => {
    var und = supportPrunedUnd(s, d).localCheckpoint()
    var prevV = -1L
    var round = 0
    var stable = false
    while (!stable && round < kCoreMaxRounds) {
      und = kCoreRestrict(und, kCoreKeep(und, kCoreK)).localCheckpoint()
      val nv = und.select(col("p1")).distinct().count()
      stable = nv == prevV
      prevV = nv
      round += 1
    }
    ordered(
      und.groupBy(col("p1")).agg(big(count(lit(1))).as("core_deg"))
        .select(col("p1").as("v"), col("core_deg")),
      "v")
  }

  // ---------------------------------------------------------------- op298

  /** op298 contract: grid-blocked DBSCAN over purchase events in
    * (minute-of-day × ⌊value⌋) space. eps is BOTH the Euclidean radius
    * and the blocking-cell side (|dx| ≤ eps ⇒ adjacent cells — the
    * blocking is lossless by construction); the round bound covers the
    * pointer-jumped core-graph components (measured fixpoint: 7 rounds
    * at sf0.01, 6 at sf0.1 — O(log diameter), not O(diameter)), and
    * rounds past the fixpoint are no-ops on both engines so the hash
    * holds unconditionally (the op293 rule; the spec separately proves
    * convergence against an uncapped driver-side reference). */
  private[graft] val dbscanEps = 12L
  private[graft] val dbscanMinPts = 8L
  private[graft] val dbscanMaxRounds = 8

  /** op298: DBSCAN (Ester et al. 1996) — density clustering with
    * core/border/noise roles, the classic clustering op between op267's
    * label propagation (graph-given communities) and the Lloyd cells the
    * ANN indexes train (centroid count fixed a priori): clusters emerge
    * from density alone and sparse points are REPORTED as noise, which
    * is the anomaly-surfacing behavior dashboards actually want from
    * event scatter. A point is core iff its eps-ball holds ≥ minPts
    * points (self included); clusters are the connected components of
    * the core-core eps-graph (labeled by min core id — deterministic);
    * border points attach to their min-labeled core neighbor.
    *
    * 100 TB shape: candidate pairs come from a GRID join, never
    * all-pairs — each point explodes to its 3×3 neighbor cells (cell
    * side = eps makes that lossless) and pairs materialize only within
    * a cell, so pair volume is Σ|cell|·|nbr cells| ≈ N·ρ·eps² (ρ = local
    * density); a hot cell is a plan-visible skew key (op274's AQE
    * handling applies). Components run [[Components.minLabels]] WITH
    * two pointer jumps — each round one edge-keyed min plus two
    * label-composition self-joins, all vertex-keyed equi-joins,
    * localCheckpoint between rounds — so the round count is O(log diameter)
    * where op208's plain hash-min needs O(diameter): the measured
    * eps-graph here has diameter ≈ 145 and converges in 7 jumped
    * rounds. The oracle unrolls the identical trajectory with
    * MATERIALIZED round CTEs. */
  val op298Dbscan: Q = (s, d) => {
    // the expensive halves (neighbor counting + converged core labels)
    // come from the persisted model op299 also serves from — built
    // once per fixture; only the border attach recomputes pairs
    val dir = IndexStore.indexRoot(d, "dbscan_e12_m8_v2", "events")
    IndexStore.buildIndexIfAbsent(dir, "core_pts")(
      dbscanModelWrite(s, d, _))
    val nb = s.read.parquet(s"$dir/nb")
    val lab = s.read.parquet(s"$dir/labels").localCheckpoint()
    val core = lab.select(col("pid"))
    val p = dbscanPoints(s, d)
    val pairs = dbscanPairs(p)
    // border points: min cluster label over CORE neighbors (the label
    // join doubles as the core semi-join — labels exist only for cores)
    val coreNbrLab = pairs.filter(col("a_pid") =!= col("b_pid"))
      .join(lab.select(col("pid").as("b_pid"), col("lab").as("b_lab")),
        "b_pid")
      .groupBy(col("a_pid")).agg(min(col("b_lab")).as("nbr_lab"))
    val out = p.select(col("pid"))
      .join(nb, "pid")
      .join(core.withColumn("is_core", lit(true)), Seq("pid"), "left")
      .join(lab.select(col("pid"), col("lab").as("own_lab")),
        Seq("pid"), "left")
      .join(coreNbrLab.select(col("a_pid").as("pid"), col("nbr_lab")),
        Seq("pid"), "left")
      .select(col("pid"),
        when(col("is_core"), lit("core"))
          .when(col("nbr_lab").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        when(col("is_core"), col("own_lab"))
          .otherwise(col("nbr_lab")).cast("bigint").as("cluster_id"),
        col("n_nbrs"))
    ordered(out, "pid")
  }

  /** The quantized point set: (pid, x = minute-of-day, y = ⌊value⌋)
    * over purchase events. */
  private def dbscanPoints(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"),
        (hour(col("ts")) * 60 + minute(col("ts"))).cast("bigint").as("x"),
        floor(col("value")).cast("bigint").as("y"))
      .localCheckpoint()

  /** Grid-blocked eps-neighbor pairs (self included): a explodes to
    * its 9 neighbor cells, b stays in its own — every pair within eps
    * meets in EXACTLY one cell (lossless: cell side = eps). */
  private def dbscanPairs(p: DataFrame): DataFrame = {
    val eps2 = dbscanEps * dbscanEps
    val aSide = p.select(col("pid").as("a_pid"), col("x").as("ax"),
        col("y").as("ay"))
      .withColumn("dcx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dcy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("a_pid"), col("ax"), col("ay"),
        (expr(s"ax div $dbscanEps") + col("dcx")).as("cx"),
        (expr(s"ay div $dbscanEps") + col("dcy")).as("cy"))
    val bSide = p.select(col("pid").as("b_pid"), col("x").as("bx"),
        col("y").as("by"))
      .withColumn("cx", expr(s"bx div $dbscanEps"))
      .withColumn("cy", expr(s"by div $dbscanEps"))
    aSide.join(bSide, Seq("cx", "cy"))
      .filter((col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by")) * (col("ay") - col("by")) <= eps2)
      .select(col("a_pid"), col("b_pid"))
      .localCheckpoint()
  }

  /** The shared op298 trajectory through the converged core labels:
    * (points, eps-pairs, neighbor counts, core set, labels) — op298
    * finishes with the border/noise attach, the op299 model write
    * persists (x, y, lab) for online classification. */
  private def dbscanParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val p = dbscanPoints(s, d)
    val pairs = dbscanPairs(p)
    val nb = pairs.groupBy(col("a_pid"))
      .agg(big(count(lit(1))).as("n_nbrs")).localCheckpoint()
    val core = nb.filter(col("n_nbrs") >= dbscanMinPts)
      .select(col("a_pid").as("pid")).localCheckpoint()
    val coreEdges = pairs
      .filter(col("a_pid") =!= col("b_pid"))
      .join(core.select(col("pid").as("a_pid")), "a_pid")
      .join(core.select(col("pid").as("b_pid")), "b_pid")
      .localCheckpoint()
    // two pointer jumps per round: the oracle (dbscanModelCtes) unrolls
    // exactly this trajectory for dbscanMaxRounds rounds
    val (cl, _) = Components.minLabels(
      coreEdges.select(col("a_pid").as("src"), col("b_pid").as("dst")),
      core.select(col("pid").as("v")), jumps = 2, dbscanMaxRounds)
    val lab = cl.select(col("v").as("pid"), col("lab"))
    (p, pairs, nb, core, lab)
  }

  // ---------------------------------------------------------------- op299

  /** Persist the op298 DBSCAN model for online serving: the core
    * points with their converged cluster labels AND their grid cell
    * key — the (cx, cy)-keyed layout the streaming classifier joins.
    * At 100 TB the store partitions by cell (the op286 bucket-pruned
    * access path applied to density serving): a query touches its 9
    * neighbor cells, never the model. */
  private[graft] def dbscanModelWrite(s: SparkSession, d: String,
      dir: String): Unit = {
    val (p, _, nb, _, lab) = dbscanParts(s, d)
    // the full model: converged core labels and per-point neighbor
    // counts (op298 re-serves these), plus the (cx, cy)-keyed core
    // coordinates the op299 classifier joins. core_pts goes LAST — it
    // is the store's completion marker.
    lab.write.mode("overwrite").parquet(s"$dir/labels")
    nb.select(col("a_pid").as("pid"), col("n_nbrs"))
      .write.mode("overwrite").parquet(s"$dir/nb")
    p.join(lab.select(col("pid"), col("lab")), "pid")
      .select(col("x"), col("y"), col("lab"),
        expr(s"x div $dbscanEps").as("cx"),
        expr(s"y div $dbscanEps").as("cy"))
      .write.mode("overwrite").parquet(s"$dir/core_pts")
  }

  /** op299: STREAMING DBSCAN classification — the serving half of
    * op298 (train batch, classify online, the op292/op297 pattern
    * applied to density clustering): arriving `view` events are
    * assigned to the purchase-trained model's cluster whose core
    * points lie within eps (min label — op298's exact tiebreak), or
    * reported as noise. The arriving point explodes to its 3×3
    * neighbor cells and joins the PERSISTED (cx, cy)-keyed core store
    * (stream-static left-outer equi-join — the op96 shape), distance
    * filters inside the aggregation, and the single streaming groupBy
    * emits (min label, core-neighbor count) per point. Per-query work
    * is 9 cell lookups regardless of model size. The oracle replays
    * the full model build plus the classification, so the served
    * assignment is hash-gated end to end. */
  val op299StreamDbscan: Q = (s, d) => {
    val dir = IndexStore.indexRoot(d, "dbscan_e12_m8_v2", "events")
    IndexStore.buildIndexIfAbsent(dir, "core_pts")(
      dbscanModelWrite(s, d, _))
    val core = s.read.parquet(s"$dir/core_pts")
    val eps2 = dbscanEps * dbscanEps
    val drained = Drain.files(s, d, "op299", "events",
      "complete", Drain.width("8")) { st =>
      val q = st.filter(col("event_type") === "view")
        .select(col("event_id").as("pid"),
          (hour(col("ts")) * 60 + minute(col("ts")))
            .cast("bigint").as("qx"),
          floor(col("value")).cast("bigint").as("qy"))
        .withColumn("dcx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dcy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(col("pid"), col("qx"), col("qy"),
          (expr(s"qx div $dbscanEps") + col("dcx")).as("cx"),
          (expr(s"qy div $dbscanEps") + col("dcy")).as("cy"))
      val near = (col("qx") - col("x")) * (col("qx") - col("x")) +
        (col("qy") - col("y")) * (col("qy") - col("y")) <= lit(eps2)
      q.join(core, Seq("cx", "cy"), "left_outer")
        .groupBy(col("pid"))
        .agg(
          min(when(near, col("lab"))).as("cluster_id"),
          big(count(when(near, lit(1)))).as("n_core_nbrs"))
    }
    ordered(
      drained.select(col("pid"),
        when(col("cluster_id").isNotNull, lit("cluster"))
          .otherwise(lit("noise")).as("role"),
        col("cluster_id"), col("n_core_nbrs")),
      "pid")
  }

  // ---------------------------------------------------------------- op300

  /** op300 contract: the sweep count. Synchronous sweeps are the
    * operator's semantics (all vertices decide from the SAME previous
    * assignment — deterministic and replayable, unlike sequential
    * Louvain whose result depends on visit order); modularity rises
    * monotonically through all four sweeps on both fixture SFs
    * (measured −0.0005 → 0.031 at sf0.01), gated by the spec. */
  private[graft] val louvainSweeps = 4

  /** op300: one-level Louvain-style community detection (Blondel et
    * al. 2008, phase 1 in deterministic SYNCHRONOUS form) over the
    * unpruned basket-clique co-purchase graph — completes the
    * community trio: op221 SCORES a given partition's modularity,
    * op267 finds communities by label frequency (LPA), op300 finds
    * them by MODULARITY ASCENT: each sweep, every vertex moves to the
    * candidate community (its neighbors' ∪ its own) maximizing the
    * modularity gain, ties to the smallest community id. The gain
    * comparison is exact integer arithmetic: ΔQ ∝ k_{v,C}/m −
    * k_v·Σtot(C∖v)/(2m²), and multiplying by the positive constant 2m²
    * gives score = 2m·k_{v,C} − k_v·Σtot(C∖v) — BIGINT throughout
    * (|score| ≤ 2m·k_max ≈ 4·10⁹ here; at 10⁹-edge scale the product
    * approaches BIGINT range and the DECIMAL(38) spelling applies —
    * the op268 rule).
    *
    * 100 TB shape: one sweep is three vertex-keyed hash aggregates
    * (community degree sums, per-vertex neighbor-community counts,
    * candidate max) plus one community-keyed join; sweeps
    * localCheckpoint (the op202 rule). 2m rides a 1-row cross join
    * (plan-time scalar, no collect). THIS spelling attaches the
    * |V|-sized deg/cur/stot tables to the |E|-sized candidate list by
    * BROADCAST — valid exactly while a vertex table fits in a
    * broadcast (dimension-sized |V|, the op176/op217 regime); past
    * |V| ≳ 10⁸ the hints force driver-sized collections, and the
    * co-partitioned spelling [[op300bLouvainPartitioned]] (no
    * broadcasts, edge layout pinned on the sweep's join key) is the
    * billion-vertex form — both under ONE oracle. The full Louvain
    * stack iterates phase 2 (graph contraction by community) on top
    * of exactly this sweep; contraction is a groupBy on
    * (community(u), community(v)) — op301's escalation, not needed
    * for one level. */
  val op300Louvain: Q = (s, d) => louvainCommunities(s, d, coPart = false)

  /** op300b: phase-1 Louvain, the BEYOND-BROADCAST spelling — the
    * identical four synchronous sweeps (same integer gains, same
    * tie-break) with ZERO broadcast hints: the edge list is
    * hash-partitioned once on the sweep's join key and each sweep's
    * deg/cur/stot attaches arrive by co-partitioned shuffle join, so
    * only the |V|-sized side moves per sweep while the |E| side stays
    * put — the op176b/op217b/op226b recipe, closing the last
    * per-iteration vertex-sized broadcast in the suite. Shares
    * op300's oracle: the hash gate proves the partitioning strategy
    * changes no emitted bit. Store-amortized under its own key (the
    * strategies are separate published artifacts; head-to-head fresh
    * build times in SCALE.md). */
  val op300bLouvainPartitioned: Q = (s, d) =>
    louvainCommunities(s, d, coPart = true)

  /** op300/op300b's output: phase-1 labels as (v, community, k). */
  private def louvainCommunities(s: SparkSession, d: String,
      coPart: Boolean): DataFrame = {
    val (_, deg, _, c) = louvainPhase1(s, d, coPart)
    ordered(
      c.join(deg, "v")
        .select(col("v"), col("lab").as("community"), col("k")),
      "v")
  }

  /** The shared phase-1 trajectory: (edges, deg, 2m frame, converged
    * labels) — op300 emits the labels, op301 contracts and re-sweeps
    * on top of them. Persisted through [[IndexStore]] (keyed on the
    * lineitem fingerprint) so the two consumers pay the four full-|E|
    * sweeps ONCE — the same amortization every ANN serving leg rides,
    * and the honest deployment shape: community assignments are a
    * published artifact, not a per-query recomputation. */
  private def louvainPhase1(s: SparkSession, d: String,
      coPart: Boolean = false)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val dir = IndexStore.indexRoot(d,
      s"louvain_p1${if (coPart) "c" else ""}_s$louvainSweeps", "lineitem")
    IndexStore.buildIndexIfAbsent(dir, "labels") { tmp =>
      val (edges, _, _, c) = louvainPhase1Compute(s, d, coPart)
      edges.write.mode("overwrite").parquet(s"$tmp/edges")
      c.write.mode("overwrite").parquet(s"$tmp/labels")
    }
    val edges = s.read.parquet(s"$dir/edges")
    val deg = edges.groupBy(col("v")).agg(big(count(lit(1))).as("k"))
      .localCheckpoint()
    val m2df = deg.agg(sum(col("k")).as("m2"))
    (edges, deg, m2df, s.read.parquet(s"$dir/labels"))
  }

  /** coPart=false: |V|-sized deg/cur/stot ride broadcast hints (the
    * dimension-sized regime). coPart=true: NO broadcasts — the edge
    * list is hash-partitioned ONCE on the sweep's join key (`w`) and
    * every per-sweep join is a co-partitioned shuffle join in which
    * only vertex-sized tables move (the op176b/op217b/op226b recipe);
    * identical integer trajectory, so both spellings share one
    * oracle. */
  private def louvainPhase1Compute(s: SparkSession, d: String,
      coPart: Boolean)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val ebase = basketCliqueUnd(s, d)
      .select(col("p1").as("v"), col("p2").as("w"))
    // pin the |E| layout on the per-sweep join key so each sweep's
    // edge-side Exchange is reused, never re-planned
    val edges = (if (coPart) ebase.repartition(col("w")) else ebase)
      .localCheckpoint()
    val attach = broadcastUnless(coPart)
    val deg = edges.groupBy(col("v")).agg(big(count(lit(1))).as("k"))
      .localCheckpoint()
    val m2df = deg.agg(sum(col("k")).as("m2"))
    var c = deg.select(col("v"), col("v").as("lab")).localCheckpoint()
    (1 to louvainSweeps).foreach { _ =>
      val kuc = edges
        .join(c.select(col("v").as("w"), col("lab")), "w")
        .groupBy(col("v"), col("lab"))
        .agg(big(count(lit(1))).as("kuc"))
      c = louvainMove(kuc, c, deg, m2df, attach, downward = false)
    }
    (edges, deg, m2df, c)
  }

  /** One synchronous modularity-ascent sweep from assignment `c` (v,
    * lab), degrees `deg` (v, k) and link weights `kuc` (v, lab, kuc):
    * phase 1 moves freely, the contracted level `downward` only (see
    * [[louvainContractedSweeps]]). Returns the new (v, lab). */
  private def louvainMove(kuc: DataFrame, c: DataFrame, deg: DataFrame,
      m2df: DataFrame, attach: DataFrame => DataFrame,
      downward: Boolean): DataFrame = {
    val stot = c.join(deg, "v").groupBy(col("lab"))
      .agg(sum(col("k")).as("stot"))
    val cur = c.select(col("v"), col("lab").as("cur_lab"))
    // best candidate per vertex as a map-combinable struct-max over
    // (score, −lab) — (score desc, lab asc) without a sort window;
    // the |E|-sized candidate table never crosses a second shuffle.
    // r17 (guide §2.4): the old spelling scored neighbors and the own
    // community in TWO separate join legs (4 extra joins + a final
    // v-keyed join per sweep). One UNIONED candidate list replaces
    // both: neighbor rows carry their real link weight kuc, and a
    // zero-kuc floor row per vertex makes staying always legal (the
    // downward filter keeps it: cur_lab ≤ cur_lab). The score is the
    // uniform  m2·kuc − k·(stot − k·[lab = cur_lab]); when a neighbor
    // shares the own community the real-kuc copy scores ≥ the zero
    // floor (m2 > 0, kuc ≥ 1), so the struct-max picks exactly the row
    // the old greatest(best_nbr, own) picked — identical winner,
    // identical tie-break, hash-gated.
    val cand = kuc.select(col("v"), col("lab"), col("kuc"))
      .union(cur.select(col("v"), col("cur_lab").as("lab"),
        lit(0L).as("kuc")))
    val scored = cand
      .join(attach(deg), "v").join(attach(cur), "v")
      .join(attach(stot), "lab")
      .crossJoin(m2df)
    (if (downward) scored.filter(col("lab") <= col("cur_lab")) else scored)
      .select(col("v"), struct(
        (col("m2") * col("kuc") - col("k") *
          (col("stot") -
            when(col("lab") === col("cur_lab"), col("k"))
              .otherwise(lit(0L)))).as("s"),
        (-col("lab")).as("nl")).as("cand"))
      .groupBy(col("v")).agg(max(col("cand")).as("best"))
      .select(col("v"), (-col("best").getField("nl")).as("lab"))
      // r17 measured NOTE: dropping this per-sweep checkpoint (lazy
      // 3-sweep chain over the ~115-row contracted graph) ran 1.6–2.8×
      // SLOWER (op301 5.9→9.4 s, op301b 3.6–4.8→13.3 s) — the subtree
      // triples per sweep and replicated planning dominates, the
      // op202/beamWalk lesson again. The checkpoint stays.
      .localCheckpoint()
  }

  // ---------------------------------------------------------------- op301

  /** op301 contract: the contracted-level sweep count, and the
    * DOWNWARD-ONLY move rule that replaces op300's free synchronous
    * move at the contracted level: a super-vertex may only move to a
    * community with a SMALLER id (strict-gain ties still break small).
    * Free synchronous moves oscillate on the contracted graph —
    * symmetric super-vertex pairs swap into each other and modularity
    * DROPS (measured 0.0322 → 0.0314 at sf0.01); the id-ordered rule
    * is the standard deterministic symmetry breaker in parallel
    * Louvain practice (the same one hash-min CC rides), and with it
    * modularity rises at every SF (0.0322 → 0.0359 at sf0.01,
    * 0.0131 → 0.034 at sf0.001, 0.0344 → 0.0351 at sf0.1). */
  private[graft] val louvainContractedSweeps = 3

  /** op301: two-level Louvain — the phase-2 escalation op300's
    * scaladoc names, made executable: contract the graph by op300's
    * communities (one groupBy on (community(u), community(v)) —
    * weighted super-edges, self-loops carrying intra-community mass so
    * weighted degrees equal the underlying Σk exactly), re-run the
    * modularity-ascent sweep on the contracted WEIGHTED graph
    * (downward-only — see [[louvainContractedSweeps]]), and map every
    * vertex through its super-vertex's final community. 2m is the
    * SAME scalar at both levels — contraction preserves total edge
    * mass, which is what makes the two levels' gains comparable.
    *
    * 100 TB shape: the contraction is ONE |E|-keyed aggregate; the
    * contracted level then works on |C₁| super-vertices (here 5.7% of
    * |V| at sf0.1), so its sweeps cost a fraction of phase 1's —
    * the whole point of the Louvain hierarchy. Deeper levels repeat
    * verbatim. */
  val op301LouvainTwoLevel: Q = (s, d) =>
    ordered(louvainTwoLevel(s, d), "v")

  /** op301b: two-level Louvain, the BEYOND-BROADCAST spelling — both
    * levels run the co-partitioned sweep (phase 1 via op300b's store;
    * the contracted level pins the super-edge list on its join key
    * and drops the supK/cur/stot broadcast hints). Same downward-only
    * move rule, same integers, op301's UNCHANGED oracle. At the
    * contracted level the broadcast form is usually safe (|C₁| ≈ 5%
    * of |V| here) — this spelling is for graphs where even the
    * community table outgrows a broadcast, and it completes the
    * no-vertex-sized-broadcast guarantee end to end. */
  val op301bLouvainTwoLevelPartitioned: Q = (s, d) =>
    ordered(louvainTwoLevel(s, d, coPart = true), "v")

  /** The full two-level trajectory: phase 1 (store-amortized) +
    * contraction + the downward weighted sweeps, as (v, community, k)
    * — op301 emits it, op302 persists (v, community) as the serving
    * model. */
  private def louvainTwoLevel(s: SparkSession, d: String,
      coPart: Boolean = false): DataFrame = {
    val (edges, deg, m2df, c1) = louvainPhase1(s, d, coPart)
    val attach = broadcastUnless(coPart)
    val ceAgg = edges
      .join(c1.select(col("v"), col("lab").as("cu")), "v")
      .join(c1.select(col("v").as("w"), col("lab").as("cv")), "w")
      .groupBy(col("cu"), col("cv")).agg(big(count(lit(1))).as("wgt"))
    // coPart: pin the super-edge layout on the per-sweep join key
    val ce = (if (coPart) ceAgg.repartition(col("cv")) else ceAgg)
      .localCheckpoint()
    // super-vertex weighted degrees, spelled (v, k) like phase 1's deg
    val supK = ce.groupBy(col("cu")).agg(sum(col("wgt")).as("k"))
      .select(col("cu").as("v"), col("k")).localCheckpoint()
    var c2 = supK.select(col("v"), col("v").as("lab")).localCheckpoint()
    (1 to louvainContractedSweeps).foreach { _ =>
      // neighbor-community weight EXCLUDING self-loops (a super-vertex's
      // internal mass moves with it; it never counts as a link to a
      // candidate community)
      val kuc = ce.filter(col("cu") =!= col("cv"))
        .join(c2.select(col("v").as("cv"), col("lab")), "cv")
        .groupBy(col("cu"), col("lab")).agg(sum(col("wgt")).as("kuc"))
        .select(col("cu").as("v"), col("lab"), col("kuc"))
      c2 = louvainMove(kuc, c2, supK, m2df, attach, downward = true)
    }
    c1.join(c2.select(col("v").as("lab"), col("lab").as("community")),
        "lab")
      .join(deg, "v")
      .select(col("v"), col("community"), col("k"))
  }

  // ---------------------------------------------------------------- op302

  /** op302: STREAMING basket → community assignment — the serving half
    * of the Louvain pair (the op299 pattern applied to communities):
    * the two-level part → community map persists as the classification
    * model, and arriving lineitem rows join it (stream-static
    * equi-join) and vote per order through ONE [[graft.functions
    * .ModeAgg]] aggregation — most-voted community wins, ties to the
    * smallest id. Votes are line-weighted (a part bought twice votes
    * twice — the raw stream is the evidence); orders whose parts all
    * fall outside the model (big-basket-only parts never enter the
    * graph) carry no vote and are not assigned. The window spelling
    * would need two aggregations — one more than a streaming plan may
    * carry; ModeAgg folds the vote map map-side in one. Oracle replays
    * the full two-level build plus the vote. */
  val op302StreamBasketCommunity: Q = (s, d) => {
    val dir = IndexStore.indexRoot(d, "louvain_comm_v1", "lineitem")
    IndexStore.buildIndexIfAbsent(dir, "part_comm") { tmp =>
      louvainTwoLevel(s, d).select(col("v"), col("community"))
        .write.mode("overwrite").parquet(s"$tmp/part_comm")
    }
    val pc = s.read.parquet(s"$dir/part_comm")
    ordered(
      Drain.files(s, d, "op302", "lineitem",
        "complete", Drain.width("8")) { st =>
        st.select(col("l_orderkey"), col("l_partkey").as("v"))
          .join(pc, Seq("v"))
          .groupBy(col("l_orderkey"))
          .agg(graft.functions.ModeAgg.mode(col("community")).as("m"))
      }.select(col("l_orderkey"),
        col("m.value").as("community"),
        col("m.votes").as("votes"),
        col("m.total").as("n_lines")),
      "l_orderkey")
  }

  // ---------------------------------------------------------------- op209

  /** op209 declared hop bound — part of the operator's CONTRACT (both
    * engines stop expanding at this depth), not a tuning knob: bounded
    * traversal is what keeps multi-source BFS shuffle-predictable at
    * scale. Fixture eccentricity from the source set is 10. */
  private val bfsMaxHops = 12L

  /** op209: bounded multi-source BFS — hop distance from the source set
    * (vertices ≡ 0 mod 97) to every vertex of the co-purchase graph,
    * capped at [[bfsMaxHops]] hops; emitted as a per-distance histogram
    * with member bounds, unreachable vertices as dist = −1. The
    * neighborhood-growth primitive under influence radii, blast-radius
    * analysis, and graph-feature extraction ("distance to nearest hub").
    *
    * 100 TB shape: classic frontier expansion — each hop is one
    * equi-join of the (shrinking) frontier against the edge list plus
    * one anti-join against the visited set, all keyed by vertex; work
    * per hop is proportional to the frontier's edge boundary, never
    * |V|·|E| (the naive all-pairs-shortest-path trap). Frontier and
    * visited sets are localCheckpointed per hop (op202 rule). The hop
    * cap bounds the round count — and therefore the job's stage count —
    * by contract; vertices past the cap are REPORTED (-1 bucket), not
    * silently dropped. Oracle: recursive CTE with the same cap, min()
    * over discovered depths. */
  val op209BfsHops: Q = (s, d) => {
    // r16: the static edge list is hash-laid-out on the expansion key
    // ONCE (checkpoint preserves the partitioning), so the per-hop
    // frontier join stops re-exchanging the |E| side every hop — only
    // the frontier moves, the op176b recipe applied to traversal
    val und = supportPrunedUnd(s, d).repartition(col("p1"))
      .localCheckpoint()
    val verts = und.select(col("p1").as("v")).distinct().localCheckpoint()
    // r16: assigned-so-far is a lazy union of the per-hop CHECKPOINTED
    // frontiers — the old per-hop `assigned.union(next).localCheckpoint()`
    // re-materialized every previously assigned row each hop (O(V·hops)
    // copies); the anti-join consumes the union of cached frames
    // directly, one action per hop instead of two
    val frames = scala.collection.mutable.ArrayBuffer(
      verts.where(col("v") % 97 === 0)
        .select(col("v"), lit(0L).as("dist")).localCheckpoint())
    def assignedNow: DataFrame = frames.reduce(_ union _)
    var frontier = frames.head
    var hop = 0L
    var nFront = frontier.count()
    while (nFront > 0 && hop < bfsMaxHops) {
      hop += 1
      val next = und
        .join(frontier.select(col("v").as("p1")), "p1")
        .select(col("p2").as("v")).distinct()
        .join(assignedNow.select("v"), Seq("v"), "left_anti")
        .select(col("v"), lit(hop).as("dist")).localCheckpoint()
      nFront = next.count()
      if (nFront > 0) frames += next
      frontier = next
    }
    val assigned = assignedNow
    val hist = assigned.groupBy("dist")
      .agg(big(count(lit(1))).as("n_vertices"),
        min("v").as("min_v"), max("v").as("max_v"))
    val unreach = verts.join(assigned.select("v"), Seq("v"), "left_anti")
      .agg(big(count(lit(1))).as("n_vertices"),
        min("v").as("min_v"), max("v").as("max_v"))
      .where(col("n_vertices") > 0)
      .select(lit(-1L).as("dist"), col("n_vertices"),
        col("min_v"), col("max_v"))
    ordered(hist.unionByName(unreach), "dist")
  }

  // ---------------------------------------------------------------- op213

  /** op213 recommendation depth. */
  private val recK = 3

  /** op213: item-item Jaccard recommender — for every part, the top-3
    * co-purchase partners ranked by Jaccard similarity of their basket
    * sets (co-baskets / (baskets_a + baskets_b − co-baskets), basis
    * points), ties broken by partner id. The collaborative-filtering
    * primitive op170's raw co-counts feed: Jaccard normalizes away
    * item popularity, so a partner that co-occurs often merely because
    * it is everywhere stops dominating the list.
    *
    * 100 TB shape: candidates come ONLY from the support-pruned pair
    * list (A-priori: a pair below support 2 can't rank) — never an
    * all-pairs item matrix; per-item basket counts attach by broadcast
    * (items are a dimension); the top-3 trim is a per-key window over
    * candidate partners, shuffle bounded by the pruned pair list. The
    * same shape serves "users who bought X" at billion-basket scale —
    * the prune threshold is the knob that trades recall for candidate
    * volume. */
  val op213JaccardRecommend: Q = (s, d) => {
    // r17 (guide §2.3/§2.4): the per-part basket count (nbk) and the
    // co-basket counts (co) both derive from the shared one-aggregate
    // basket build instead of the old distinct → size-filter → self-join
    // chain (which scanned lineitem three times and planned 5
    // exchanges). nbk ≡ old it2.groupBy(l_partkey).count: exploding the
    // size-capped distinct basket arrays yields exactly the (order,
    // part) incidences of small orders, once each. Hash-gated.
    val nb = basketArrays(s, d)
      .select(explode(col("ps")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("nbk"))
    val co = supportPrunedPairsW(s, d)
      .select(col("p1"), col("p2"), col("supp").as("co"))
    val sym = co.union(co.select(col("p2"), col("p1"), col("co")))
      .join(broadcast(nb.select(col("l_partkey").as("p1"),
        col("nbk").as("n_a"))), "p1")
      .join(broadcast(nb.select(col("l_partkey").as("p2"),
        col("nbk").as("n_b"))), "p2")
      .select(col("p1"), col("p2"), col("co"),
        expr("co * 10000 div (n_a + n_b - co)").as("jaccard_bp"))
    val top = sym.withColumn("rank", big(row_number().over(
        Window.partitionBy("p1")
          .orderBy(col("jaccard_bp").desc, col("p2")))))
      .where(col("rank") <= recK)
    ordered(
      top.select(col("p1").as("p_partkey"), col("rank"),
        col("p2").as("partner"), col("co"), col("jaccard_bp")),
      "p_partkey", "rank")
  }

  // ---------------------------------------------------------------- op215

  /** op215: degree-assortativity curve — for every degree value k, the
    * average degree of the neighbors of degree-k vertices (basis
    * points), i.e. the knn(k) curve: rising ⇒ assortative mixing (hubs
    * befriend hubs), falling ⇒ disassortative (hub-and-spoke) — the
    * diagnostic that decides whether hub-oriented optimizations
    * (op194's degree orientation, skew salting) will pay off on a
    * given graph.
    *
    * 100 TB shape: one broadcast attach of the |V|-sized degree table
    * to each edge endpoint (the op194 keyed join), then ONE
    * map-combinable aggregate onto the degree-value grid (≪ |V| rows,
    * power-law graphs have ~hundreds of distinct degrees); the
    * vertex-count column comes from a second grid-sized aggregate of
    * the degree table itself. No edge self-joins, no sorts — this is
    * strictly cheaper than anything else in the graph family. */
  val op215Assortativity: Q = (s, d) => assortCurve(s, d, coPart = false)

  /** op215b: assortativity curve, the BEYOND-BROADCAST spelling — the
    * one-shot degree attach via two shuffle joins (the op176b recipe),
    * no |V|-sized broadcast hints. Measured A/B (SCALE.md): broadcast
    * wins here (2.9s vs 3.5s at sf0.1, 3-rep medians) because op215's
    * consumer is a plain groupBy — no downstream reshuffle to
    * amortize the exchange against (the opposite of op194). This
    * spelling is for |V| past broadcast range; op215's unchanged
    * oracle. */
  val op215bAssortativityPartitioned: Q = (s, d) =>
    assortCurve(s, d, coPart = true)

  private def assortCurve(s: SparkSession, d: String,
      coPart: Boolean): DataFrame = {
    val und = supportPrunedUnd(s, d)
    val deg = und.groupBy("p1").agg(count(lit(1)).as("deg"))
    // one-shot |V|-sized degree attach — strategy adjudicated by the
    // op215/op215b A/B in SCALE.md
    val paired = attachDegrees(und, deg, coPart)
    val curve = paired.groupBy(col("deg"))
      .agg(big(count(lit(1))).as("n_endpoints"),
        sum("deg2").as("sum_nbr_deg"))
      .withColumn("avg_nbr_deg_bp",
        expr("sum_nbr_deg * 10000 div n_endpoints"))
    val nPerDeg = deg.groupBy("deg")
      .agg(big(count(lit(1))).as("n_vertices"))
    ordered(
      curve.join(nPerDeg, "deg")
        .select(col("deg"), col("n_vertices"), col("n_endpoints"),
          col("sum_nbr_deg"), col("avg_nbr_deg_bp")),
      "deg")
  }

  // ---------------------------------------------------------------- op217

  /** op217 normalization target: scores are L1-normalized so Σ ≈ 10⁹
    * after every half-step (resolution ~10⁹/\|V\| per vertex). */
  private val hitsScale = 1000000000L
  private val hitsRounds = 2

  /** op217: bipartite HITS authorities, broadcast score tables. */
  val op217Hits: Q = (s, d) => hitsAuthorities(s, d, coPart = false)

  /** op217b: op217 with co-partitioned joins, scores never broadcast. */
  val op217bHitsPartitioned: Q = (s, d) =>
    hitsAuthorities(s, d, coPart = true)

  /** Bipartite HITS — hubs (customers) and authorities (parts) over
    * the distinct customer–part purchase incidence, iterated
    * [[hitsRounds]] full rounds entirely in integers: each half-step
    * is authority = Σ neighbor hubs (or vice versa) followed by L1
    * renormalization spelled DIVISION-FIRST — x div greatest(total div
    * scale, 1) — so no multiply can overflow BIGINT at any \|E\|
    * (the a·scale spelling overflows at \|E\| ≈ 10⁷ already); both
    * engines replay the identical trajectory. Emits per-part authority
    * (ppb of total mass) + degree — the "canonical item" ranking that
    * differs from PageRank by weighting endorsements by the
    * endorser's own breadth.
    *
    * 100 TB shape: each half-step is ONE equi-join of the edge list
    * against the current score table + one map-combinable sum —
    * [[dampedRanks]]'s iteration on a bipartite graph; the 1-row
    * renorm totals are broadcast at any scale. coPart=false (op217):
    * the dimension-sized score tables ride broadcast hints. coPart=true
    * (op217b), the billion-customer form: the edge list is pinned in
    * TWO layouts once, by c for the hub push and by p for the authority
    * push, and each half-step's score table meets its layout in a
    * co-partitioned shuffle join, so only the |V|-sized side moves and
    * both edge Exchanges are reused every round. One oracle for both. */
  private def hitsAuthorities(s: SparkSession, d: String,
      coPart: Boolean): DataFrame = {
    val hint = broadcastUnless(coPart)
    val edges = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct()
    // coPart: the two pinned edge layouts, each reused by every iteration
    val (edgesByC, edgesByP) =
      if (coPart) (edges.repartition(col("c")), edges.repartition(col("p")))
      else (edges, edges)
    val hubs = edges.select("c").distinct()
    def renorm(df: DataFrame, valCol: String): DataFrame = {
      val tot = df.agg(sum(valCol).as("__tot"))
      df.crossJoin(broadcast(tot))
        .select(df.columns.filter(_ != valCol).map(col) :+
          expr(s"$valCol div greatest(__tot div $hitsScale, 1)")
            .as(valCol): _*)
    }
    var h = hubs.select(col("c"), lit(hitsScale).as("h"))
    var a: DataFrame = null
    for (_ <- 1 to hitsRounds) {
      a = renorm(
        edgesByC.join(hint(h), "c")
          .groupBy("p").agg(sum("h").as("a")), "a")
      h = renorm(
        edgesByP.join(hint(a), "p")
          .groupBy("c").agg(sum("a").as("h")), "h")
    }
    val deg = edges.groupBy("p").agg(big(count(lit(1))).as("deg"))
    ordered(
      a.join(deg, "p")
        .select(col("p").as("p_partkey"), col("a").as("auth_ppb"),
          col("deg")),
      "p_partkey")
  }

  // ---------------------------------------------------------------- op218

  /** op218 hop bound (contract, both engines) and edge-cost spelling:
    * popular edges are cheaper — w = 10⁴ div support. */
  private val sspRounds = 6

  /** op218: bounded weighted shortest path (Bellman–Ford, unrolled) —
    * min-cost distance from the op209 source set over the
    * support-pruned graph with edge cost 10⁴ div support (popularity
    * discount: well-trodden co-purchase edges are cheap), relaxed for
    * [[sspRounds]] rounds: dist' = min(dist, min over in-edges
    * (dist(u) + w)). The ≤ H-hop cost-distance primitive under
    * influence pricing and weighted blast-radius queries; vertices not
    * yet reached in H rounds are absent by contract (op209 reports
    * its −1 bucket; here cost semantics make absence the honest
    * spelling).
    *
    * 100 TB shape: per round one frontier-style equi-join (dist ×
    * edges, both keyed by vertex) + a map-combinable min — the op208
    * round shape with min(dist+w) instead of min(label); rounds are a
    * declared constant so the stage count is bounded; per-round
    * localCheckpoint (op202 rule). Negative edges can't exist (w ≥ 1),
    * so H-round relaxation ≡ ≤ H-hop optimum exactly. */
  val op218WeightedSssp: Q = (s, d) => {
    // r17: the weighted pair list rides the shared one-aggregate basket
    // build (supportPrunedPairsW) instead of re-spelling the old
    // 5-exchange distinct → size-filter → self-join chain. Same
    // (p1, p2, supp) rows, hash-gated.
    val wpairs = supportPrunedPairsW(s, d)
      .select(col("p1"), col("p2"), expr("10000 div supp").as("w"))
    // pin the |E| layout on the relax join's key: the groupBy above
    // leaves hash(p1,p2), which does NOT satisfy the per-round join's
    // hash(p1) — without this, all sspRounds re-shuffle the edge side
    // (r12's +20% audit; with it, only the |V|-sized dist moves)
    val wund = wpairs.union(
        wpairs.select(col("p2"), col("p1"), col("w")))
      .repartition(col("p1"))
      .localCheckpoint()
    var dist = wund.select(col("p1").as("v")).distinct()
      .where(col("v") % 97 === 0)
      .select(col("v"), lit(0L).as("dist")).localCheckpoint()
    for (_ <- 1 to sspRounds) {
      val relax = wund
        .join(dist.select(col("v").as("p1"), col("dist")), "p1")
        .select(col("p2").as("v"), (col("dist") + col("w")).as("dist"))
      dist = dist.union(relax)
        .groupBy("v").agg(min("dist").as("dist"))
        .localCheckpoint()
    }
    ordered(dist, "v")
  }

  // ---------------------------------------------------------------- op221

  /** op221: modularity of the BRAND partition over the co-purchase
    * graph — per brand c: within-brand edge fraction e_c/E vs the
    * null-model expectation (d_c/2E)², both in ppb, contribution =
    * difference (can be negative); Σ contributions is Newman
    * modularity Q. Answers "do co-purchases align with catalog
    * structure?" — the partition-quality primitive community detectors
    * optimize, here evaluating a GIVEN partition (the far more common
    * production ask: score an existing segmentation).
    *
    * 100 TB shape: E and the per-brand sums are map-combinable
    * aggregates; the brand attach is a dimension broadcast on each
    * endpoint; the expectation term is spelled square-after-divide
    * ((d_c·10⁹ div 2E)² div 10⁹ — each factor ≤ 10⁹, so the product
    * fits BIGINT at ANY edge count; d_c²·10⁹ overflows at d_c ≈ 3·10⁶
    * already). No self-joins beyond the pair list itself. */
  val op221Modularity: Q = (s, d) => {
    val pairs = supportPrunedPairs(s, d)
    val brands = Tables.part(s, d).select("p_partkey", "p_brand")
    val etot = pairs.agg(count(lit(1)).as("e_tot"))
    val und = pairs.union(
      pairs.select(col("p2").as("p1"), col("p1").as("p2")))
    val deg = und.groupBy("p1").agg(count(lit(1)).as("deg"))
    val dcs = deg
      .join(broadcast(brands.withColumnRenamed("p_partkey", "p1")), "p1")
      .groupBy("p_brand")
      .agg(big(count(lit(1))).as("n_vertices"), sum("deg").as("d_c"))
    val ein = pairs
      .join(broadcast(brands.select(col("p_partkey").as("p1"),
        col("p_brand").as("b1"))), "p1")
      .join(broadcast(brands.select(col("p_partkey").as("p2"),
        col("p_brand").as("b2"))), "p2")
      .where(col("b1") === col("b2"))
      .groupBy(col("b1").as("p_brand"))
      .agg(big(count(lit(1))).as("e_in"))
    ordered(
      dcs.join(ein, Seq("p_brand"), "left")
        .crossJoin(broadcast(etot))
        .select(col("p_brand"), col("n_vertices"),
          coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_c"),
          col("e_tot"))
        .withColumn("frac_in_ppb",
          expr("e_in * 1000000000 div e_tot"))
        .withColumn("exp_ppb",
          expr("((d_c * 1000000000 div (2 * e_tot)) * " +
            "(d_c * 1000000000 div (2 * e_tot))) div 1000000000"))
        .withColumn("contrib_ppb", expr("frac_in_ppb - exp_ppb"))
        .select("p_brand", "n_vertices", "e_in", "d_c",
          "frac_in_ppb", "exp_ppb", "contrib_ppb"),
      "p_brand")
  }

  // ---------------------------------------------------------------- op224

  /** op224: 2-hop neighborhood features — per vertex, the 1-hop degree
    * and the count of vertices at distance EXACTLY 2 (distinct, not
    * self, not adjacent) — the GraphSAGE/GNN aggregation radius and
    * the influence-reach feature ("friends-of-friends"); the exact-2
    * semantics (anti-join the 1-hop set) is the part naive wedge
    * counting gets wrong.
    *
    * 100 TB shape: one edge self-join keyed on the middle vertex —
    * candidate volume is the wedge bound Σ deg², already tamed by the
    * support prune (the op194 argument); dedup + two anti-joins are
    * vertex-keyed equi-joins. Power-law hubs escalate via degree
    * orientation exactly as op194 does. */
  val op224TwoHopFeatures: Q = (s, d) => {
    val und = supportPrunedUnd(s, d).localCheckpoint()
    val deg = und.groupBy("p1").agg(big(count(lit(1))).as("n_1hop"))
    val cand = und.select(col("p1").as("v"), col("p2").as("mid"))
      .join(und.select(col("p1").as("mid"), col("p2").as("w")), "mid")
      .where(col("v") =!= col("w"))
      .select("v", "w").distinct()
    val exact2 = cand.join(
        und.select(col("p1").as("v"), col("p2").as("w")),
        Seq("v", "w"), "left_anti")
      .groupBy("v").agg(big(count(lit(1))).as("n_2hop"))
    ordered(
      deg.select(col("p1").as("v"), col("n_1hop"))
        .join(exact2, Seq("v"), "left")
        .select(col("v").as("p_partkey"), col("n_1hop"),
          coalesce(col("n_2hop"), lit(0L)).as("n_2hop")),
      "p_partkey")
  }

  // ---------------------------------------------------------------- op225

  /** op225: local clustering coefficient — per vertex: degree,
    * triangle count, and lcc = 2·tri/(deg·(deg−1)) in basis points —
    * THE per-node cohesion feature (spam/fraud rings cluster, bridges
    * don't). Triangles enumerated ONCE by the chain op194 shares
    * ([[orientedTriangles]], broadcast degree attach), then each
    * triangle credits its THREE corners (explode) — per-vertex counts
    * without per-vertex enumeration.
    *
    * 100 TB shape: op194's cost exactly (the oriented wedge join is
    * the whole bill) plus one explode(3) + vertex-keyed aggregate;
    * the emitted lcc is exact integer division. deg = 1 vertices
    * can't exist here (support-pruned symmetric graph has min degree
    * 1 — guard the denominator with the CASE). */
  val op225ClusteringCoeff: Q = (s, d) => {
    val und = supportPrunedUnd(s, d)
    val deg = und.groupBy("p1").agg(count(lit(1)).as("deg"))
    val triangles = orientedTriangles(und, deg, coPart = false)
    val perVertex = triangles
      .select(explode(array(col("src"), col("v"), col("w"))).as("p1"))
      .groupBy("p1").agg(big(count(lit(1))).as("tri"))
    ordered(
      deg.join(perVertex, Seq("p1"), "left")
        .select(col("p1").as("p_partkey"), big(col("deg")).as("deg"),
          coalesce(col("tri"), lit(0L)).as("tri"))
        .withColumn("lcc_bp", expr(
          "CASE WHEN deg < 2 THEN 0 " +
            "ELSE (2 * tri * 10000) div (deg * (deg - 1)) END")),
      "p_partkey")
  }

  // ---------------------------------------------------------------- op177

  /** op177: robust outlier statistics — per event_type, the exact lower
    * median of value-in-cents (nearest-rank (n+1) div 2), the median
    * absolute deviation computed the same way, and the count of values
    * outside med ± 3·MAD. The robust alternative to op167's
    * mean-based spike rule: one adversarial heavy row shifts a mean
    * arbitrarily but moves a median by one rank.
    *
    * 100 TB shape: medians per group sort within the group's partition
    * only (two windowed passes, same partitioning key → Exchange
    * reuse); for bounded-domain values the production form is the
    * op171 histogram walk — this is the general-domain spelling. */
  val op177MadOutliers: Q = (s, d) => {
    val ev = Tables.events(s, d).select(col("event_id"),
      col("event_type"),
      round(col("value") * 100, 0).cast("long").as("cents"))
    def lowerMedian(df: DataFrame, valueCol: String): DataFrame = {
      val w = Window.partitionBy("event_type")
      df.withColumn("rn", row_number().over(
          w.orderBy(col(valueCol), col("event_id"))))
        .withColumn("n", count(lit(1)).over(w))
        .where(col("rn") === expr("(n + 1) div 2"))
        .select(col("event_type"), col(valueCol).as("med"), col("n"))
    }
    val med = lowerMedian(ev, "cents")
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("cents") - col("med")))
    val mad = lowerMedian(
      dev.select("event_id", "event_type", "adev"), "adev")
      .select(col("event_type"), col("med").as("mad"))
    ordered(
      dev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"), col("med"), col("mad"), col("n"))
        .agg(sum(expr("CAST(CASE WHEN adev > 3 * mad THEN 1 ELSE 0 END " +
          "AS BIGINT)")).as("n_out"))
        .select(col("event_type"), col("n"), col("med").as("med_cents"),
          col("mad").as("mad_cents"), col("n_out")),
      "event_type")
  }

  // ---------------------------------------------------------------- op178

  /** op178: null-aware NOT IN — the three-valued-logic corner every
    * rewrite-to-anti-join gets wrong: `k NOT IN (subquery)` is FALSE on
    * a match, UNKNOWN (never TRUE) whenever the subquery contains a
    * NULL, TRUE only against a null-free list. Customers are classified
    * against a NULL-bearing list (CASE injects NULLs) and its filtered
    * null-free twin; the verdict distribution exposes both semantics
    * side by side.
    *
    * 100 TB shape — and the point of this spelling: Spark plans a
    * naive projected NOT IN as a null-aware ExistenceJoin executed as
    * a BroadcastNestedLoopJoin, O(left × list) comparisons (measured:
    * it dominated this query's runtime at sf0.1). The production
    * rewrite implemented here pre-aggregates the list ONCE to
    * (distinct non-null values, n_total, n_nonnull) — bytes, not rows
    * — so the verdict becomes one hash semi-join (`IN dv`) plus two
    * broadcast scalars, with the identical three-valued result:
    * FALSE on a match, UNKNOWN if any NULL exists, TRUE otherwise
    * (TRUE also for an empty list). The ORACLE spells the naive
    * NOT IN — the cross-spelling equality IS the semantic claim. */
  val op178NullAwareNotIn: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("customer_t")
    Tables.orders(s, d).createOrReplaceTempView("orders_t")
    ordered(
      s.sql("""
        WITH list AS (SELECT CASE WHEN o_orderstatus = 'F'
                             THEN o_custkey END AS v FROM orders_t),
        ag AS (SELECT count(*) AS n_total, count(v) AS n_nonnull
               FROM list),
        dv AS (SELECT DISTINCT v FROM list WHERE v IS NOT NULL)
        SELECT
          CASE
            WHEN (SELECT n_total FROM ag) = 0 THEN 'true'
            WHEN c_custkey IN (SELECT v FROM dv) THEN 'false'
            WHEN (SELECT n_nonnull FROM ag) < (SELECT n_total FROM ag)
              THEN 'unknown'
            ELSE 'true' END AS with_nulls,
          CASE
            WHEN c_custkey IN (SELECT o_custkey FROM orders_t
                               WHERE o_orderstatus = 'F')
              THEN 'false' ELSE 'true' END AS null_free,
          CAST(count(*) AS BIGINT) AS n
        FROM customer_t
        GROUP BY 1, 2"""),
      "with_nulls", "null_free")
  }

  // ------------------------------------------------------------- wiring

  // ---------------------------------------------------------------- op263

  /** op263: deterministic negative edge sampling — per vertex of the
    * co-purchase graph, up to 3 hash-drawn NON-neighbors (uniform over
    * the vertex set via md5 mod \|V\| against a dense rank index;
    * oversample 8, reject self and true edges, keep the first 3 by
    * draw index): the contrastive-training counterpart every link
    * predictor / graph-embedding run needs beside the positive edges.
    * Hash-deterministic draws mean reruns, retries, and both engines
    * sample the SAME negatives — the op107/op186/op243 determinism
    * argument applied to graph ML.
    *
    * 100 TB shape: candidates are \|V\|×8 rows (vertex-grid bounded,
    * never \|V\|²); the rejection is one edge anti-join; the dense
    * rank index is a \|V\|-grid window (declared). Degree-matched
    * negatives swap the uniform index for op176's degree table with
    * an alias-style prefix-sum draw — same shape. */
  val op263NegativeSampling: Q = (s, d) => {
    val und = supportPrunedUnd(s, d)
    val verts = und.select(col("p1").as("v")).distinct()
    val ranked = verts.withColumn("rn",
      big(row_number().over(Window.orderBy("v"))))
    val nv = ranked.agg(max("rn").as("nv"))
    val cands = ranked.select(col("v").as("src"))
      .crossJoin(broadcast(nv))
      .crossJoin(s.range(8).select(col("id").as("j")))
      .withColumn("h", graft.functions.TextOps.md5Hash60(
        concat_ws("|", lit("neg"), col("src"), col("j"))))
      .withColumn("crn", expr("h % nv + 1"))
      .join(ranked.select(col("rn").as("crn"), col("v").as("neg_dst")),
        "crn")
      .where(col("neg_dst") =!= col("src"))
    ordered(
      cands.join(und.select(col("p1").as("src"), col("p2").as("neg_dst")),
          Seq("src", "neg_dst"), "left_anti")
        .withColumn("rank", big(row_number().over(
          Window.partitionBy("src").orderBy("j"))))
        .where(col("rank") <= 3)
        .select("src", "rank", "neg_dst"),
      "src", "rank")
  }

  // ---------------------------------------------------------------- op267

  /** op267 synchronous rounds — part of the operator CONTRACT (both
    * engines run the identical unrolled trajectory), the op176/op241
    * fixed-iteration convention. */
  private val lpaRounds = 4

  /** op267: label propagation communities — every vertex starts as its
    * own label; each SYNCHRONOUS round it adopts the most frequent
    * label among its neighbors (ties → smallest label), [[lpaRounds]]
    * rounds. The near-linear community detector (Raghavan et al. 2007)
    * that needs no modularity objective and no pairwise similarity —
    * the complement of op208 (components: where can you REACH) and
    * op221 (modularity: how good is a GIVEN partition): op267 FINDS
    * the partition. Deterministic variant: synchronous update + min-
    * label tie-break, so both engines replay the identical trajectory
    * (asynchronous LPA is order-dependent and unbenchable).
    *
    * 100 TB shape: each round is ONE edge-keyed join (labels re-keyed
    * to neighbors) + one (v, lab) count + one per-vertex argmax — all
    * hash-partitioned by vertex, state |V| rows; the same per-round
    * geometry as op176, with the label table replacing ranks.
    * localCheckpoint between rounds caps plan growth (op208's
    * convention; production checkpoints to the lakehouse instead). */
  val op267LabelProp: Q = (s, d) => {
    val und = supportPrunedUnd(s, d).localCheckpoint()
    var labels = und.select(col("p1").as("v")).distinct()
      .select(col("v"), col("v").as("lab")).localCheckpoint()
    (1 to lpaRounds).foreach { _ =>
      labels = und
        .join(labels.select(col("v").as("p1"), col("lab")), "p1")
        .groupBy(col("p2").as("v"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("v").orderBy(col("c").desc, col("lab"))))
        .where(col("rk") === 1).select("v", "lab")
        .localCheckpoint()
    }
    ordered(
      labels.groupBy("lab")
        .agg(big(count(lit(1))).as("n_vertices"),
          min("v").as("min_v"), max("v").as("max_v"))
        .select(col("lab").as("community"), col("n_vertices"),
          col("min_v"), col("max_v")),
      "community")
  }

  /** op267's oracle: the identical unrolled synchronous trajectory. */
  private def lpaSql: String = {
    val rounds = (1 to lpaRounds).map { i =>
      s"""n$i AS (SELECT u.p2 AS v, l.lab, count(*) AS c
         |  FROM und u JOIN l${i - 1} l ON u.p1 = l.v GROUP BY 1, 2),
         |l$i AS MATERIALIZED (SELECT v, lab FROM (
         |  SELECT v, lab, row_number() OVER (PARTITION BY v
         |    ORDER BY c DESC, lab) AS rk FROM n$i) WHERE rk = 1)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $graphBaseSql,
       |l0 AS MATERIALIZED (SELECT v, v AS lab FROM verts),
       |$rounds
       |SELECT CAST(lab AS BIGINT) AS community,
       |  CAST(count(*) AS BIGINT) AS n_vertices,
       |  CAST(min(v) AS BIGINT) AS min_v, CAST(max(v) AS BIGINT) AS max_v
       |FROM l$lpaRounds GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** op215/op215b's shared oracle. */
  private def assortSql: String =
    s"""WITH $graphBaseSql,
       |deg AS MATERIALIZED (SELECT p1, count(*) AS deg FROM und
       |       GROUP BY 1),
       |paired AS (
       |  SELECT d1.deg AS deg, d2.deg AS deg2
       |  FROM und u JOIN deg d1 ON u.p1 = d1.p1
       |    JOIN deg d2 ON u.p2 = d2.p1),
       |curve AS (
       |  SELECT deg, CAST(count(*) AS BIGINT) AS n_endpoints,
       |    CAST(sum(deg2) AS BIGINT) AS sum_nbr_deg
       |  FROM paired GROUP BY 1),
       |npd AS (SELECT deg, CAST(count(*) AS BIGINT) AS n_vertices
       |        FROM deg GROUP BY 1)
       |SELECT CAST(c.deg AS BIGINT) AS deg, n.n_vertices,
       |  c.n_endpoints, c.sum_nbr_deg,
       |  c.sum_nbr_deg * 10000 // c.n_endpoints AS avg_nbr_deg_bp
       |FROM curve c JOIN npd n ON c.deg = n.deg
       |ORDER BY deg""".stripMargin

  /** op194/op194b's shared oracle (wedge terms sum in HUGEINT —
    * exact at any degree — and only bounded finals cast to BIGINT). */
  private def trianglesSql: String =
    """WITH items AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |small AS (SELECT l_orderkey FROM items GROUP BY 1
        |          HAVING count(*) <= 7),
        |it2 AS (SELECT i.* FROM items i JOIN small USING (l_orderkey)),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM it2 a JOIN it2 b USING (l_orderkey)
        |  WHERE a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT p1, p2 FROM pairs
        |        UNION ALL SELECT p2, p1 FROM pairs),
        |deg AS (SELECT p1, CAST(count(*) AS BIGINT) AS deg
        |        FROM und GROUP BY 1),
        |keyed AS (
        |  SELECT u.p1, u.p2,
        |    d1.deg * 1000000000 + u.p1 AS k1,
        |    d2.deg * 1000000000 + u.p2 AS k2
        |  FROM und u JOIN deg d1 ON u.p1 = d1.p1
        |  JOIN deg d2 ON u.p2 = d2.p1),
        |oriented AS (
        |  SELECT p1 AS src, p2 AS dst, k2 AS dk
        |  FROM keyed WHERE k1 < k2),
        |wedges AS (
        |  SELECT e1.src, e1.dst AS v, e2.dst AS w
        |  FROM oriented e1 JOIN oriented e2 USING (src)
        |  WHERE e1.dk < e2.dk),
        |tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM wedges t JOIN oriented o
        |    ON t.v = o.src AND t.w = o.dst)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_vertices,
        |  (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
        |  (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) FROM deg)
        |    AS n_wedges,
        |  CAST(t.n_triangles AS BIGINT) AS n_triangles,
        |  CASE WHEN (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT)
        |             FROM deg) = 0
        |    THEN 0
        |    -- wedge sum accumulates in HUGEINT (exact at any degree);
        |    -- only the bounded ratio casts to BIGINT (fail-loud)
        |    ELSE CAST(3 * t.n_triangles * 10000 //
        |      (SELECT sum(deg * (deg - 1) // 2) FROM deg) AS BIGINT) END
        |    AS transitivity_bp
        |FROM tri t
        |ORDER BY n_vertices""".stripMargin

  val defs: Map[String, Q] = Map(
    "op267_label_prop" -> op267LabelProp,
    "op263_negative_sampling" -> op263NegativeSampling,
    "op173_islands" -> op173Islands,
    "op174_peak_concurrency" -> op174PeakConcurrency,
    "op175_fuzzy_join" -> op175FuzzyJoin,
    "op176_pagerank" -> op176Pagerank,
    "op176b_pagerank_partitioned" -> op176bPagerankPartitioned,
    "op177_mad_outliers" -> op177MadOutliers,
    "op178_null_aware_not_in" -> op178NullAwareNotIn,
    "op191_interval_coverage" -> op191IntervalCoverage,
    "op194_triangles" -> op194Triangles,
    "op194b_triangles_broadcast" -> op194bTrianglesBroadcast,
    "op202_kcore" -> op202KCore,
    "op208_connected_components" -> op208ConnectedComponents,
    "op208b_cc_star_contraction" -> op208bStarContraction,
    "op209_bfs_hops" -> op209BfsHops,
    "op213_jaccard_recommend" -> op213JaccardRecommend,
    "op215_assortativity" -> op215Assortativity,
    "op215b_assortativity_partitioned" -> op215bAssortativityPartitioned,
    "op217_hits" -> op217Hits,
    "op217b_hits_partitioned" -> op217bHitsPartitioned,
    "op218_weighted_sssp" -> op218WeightedSssp,
    "op221_modularity" -> op221Modularity,
    "op224_two_hop_features" -> op224TwoHopFeatures,
    "op225_clustering_coeff" -> op225ClusteringCoeff,
    "op226_rwr" -> op226RandomWalkRestart,
    "op226b_rwr_partitioned" -> op226bRwrPartitioned,
    "op293_kcore" -> op293KCore,
    "op298_dbscan" -> op298Dbscan,
    "op299_stream_dbscan" -> op299StreamDbscan,
    "op300_louvain" -> op300Louvain,
    "op300b_louvain_partitioned" -> op300bLouvainPartitioned,
    "op301_louvain_two_level" -> op301LouvainTwoLevel,
    "op301b_louvain_two_level_partitioned" ->
      op301bLouvainTwoLevelPartitioned,
    "op302_stream_basket_community" -> op302StreamBasketCommunity)

  /** op226's oracle: op176's unroll with the source-restricted base. */
  private def rwrSql: String = {
    val iters = (1 to prIters).map { i =>
      s"""r$i AS (
         |  SELECT v.pk,
         |    CASE WHEN v.pk % 97 = 0 THEN 150000000 // ns.ns
         |         ELSE CAST(0 AS BIGINT) END
         |      + ($prDampNum * coalesce(c.sc, 0)) // $prScale AS r
         |  FROM verts v CROSS JOIN nsrc ns
         |  LEFT JOIN (
         |    SELECT e.dst, sum(rr.r // e.deg) AS sc
         |    FROM esd e JOIN r${i - 1} rr ON e.src = rr.pk
         |    GROUP BY 1) c ON v.pk = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |small AS (
       |  SELECT l_orderkey FROM items GROUP BY 1
       |  HAVING count(*) <= $prBasketCap),
       |it2 AS (SELECT i.* FROM items i JOIN small s USING (l_orderkey)),
       |pairs AS (
       |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
       |  FROM it2 a JOIN it2 b USING (l_orderkey)
       |  WHERE a.l_partkey < b.l_partkey),
       |edges AS (
       |  SELECT p1 AS src, p2 AS dst FROM pairs
       |  UNION ALL SELECT p2, p1 FROM pairs),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |esd AS (SELECT e.src, e.dst, d.deg FROM edges e
       |        JOIN deg d USING (src)),
       |verts AS (SELECT src AS pk FROM deg),
       |nsrc AS (SELECT count(*) AS ns FROM verts WHERE pk % 97 = 0),
       |r0 AS (SELECT pk, CASE WHEN pk % 97 = 0 THEN $prScale // ns
       |         ELSE CAST(0 AS BIGINT) END AS r
       |       FROM verts CROSS JOIN nsrc),
       |$iters
       |SELECT v.pk AS p_partkey, CAST(r.r AS BIGINT) AS rwr_ppb,
       |  CAST(d.deg AS BIGINT) AS deg
       |FROM verts v JOIN r$prIters r USING (pk) JOIN deg d ON v.pk = d.src
       |ORDER BY p_partkey""".stripMargin
  }

  /** op208/op208b's shared oracle: the same component partition by a
    * THIRD algorithm — recursive transitive closure (vs Spark's
    * iterative hash-min and large-star/small-star contraction). */
  private def ccSql: String =
    s"""WITH RECURSIVE
       |$graphBaseSql,
       |reach(v, r) AS (
       |  SELECT v, v FROM verts
       |  UNION
       |  SELECT e.p2, rr.r FROM reach rr JOIN und e ON e.p1 = rr.v),
       |comp AS (SELECT v, min(r) AS comp FROM reach GROUP BY v)
       |SELECT CAST(comp AS BIGINT) AS comp,
       |  CAST(count(*) AS BIGINT) AS n_vertices,
       |  CAST(min(v) AS BIGINT) AS min_v,
       |  CAST(max(v) AS BIGINT) AS max_v
       |FROM comp GROUP BY comp ORDER BY comp""".stripMargin

  /** op293's oracle: the identical peel unrolled [[kCoreMaxRounds]]
    * times — each round one HAVING-degree filter + the survivor
    * semi-joins, clause for clause the Spark loop body (rounds past
    * the fixpoint are no-ops on both sides). */
  private def kCoreSql: String = {
    // every e_{r-1} is read TWICE (degree filter + survivor join) —
    // MATERIALIZED, or the inlined chain blows up 2^rounds (the op202
    // postmortem rule)
    val rounds = (1 to kCoreMaxRounds).map { r =>
      s"""kc$r AS MATERIALIZED (SELECT p1 AS v FROM e${r - 1} GROUP BY 1
         |  HAVING count(*) >= $kCoreK),
         |e$r AS MATERIALIZED (SELECT e.p1, e.p2 FROM e${r - 1} e
         |  JOIN kc$r a ON e.p1 = a.v JOIN kc$r b ON e.p2 = b.v)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $graphBaseSql,
       |e0 AS MATERIALIZED (SELECT p1, p2 FROM und),
       |$rounds
       |SELECT CAST(p1 AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS core_deg
       |FROM e$kCoreMaxRounds GROUP BY p1 ORDER BY v""".stripMargin
  }

  /** op298's oracle: the identical DBSCAN trajectory — band-joined
    * neighbor pairs (DuckDB's IEJoin does what the grid blocking does
    * in Spark: bound the pair volume), core filter, then
    * [[dbscanMaxRounds]] unrolled hash-min + double-pointer-jump
    * rounds over the core graph (each round CTE is read twice by the
    * composition join — MATERIALIZED, the op202 rule). */
  private def dbscanModelCtes: String = {
    val eps = dbscanEps
    val eps2 = eps * eps
    val rounds = (1 to dbscanMaxRounds).map { r =>
      s"""m${r}n AS (SELECT ce.u AS pid, min(l.lab) AS nmin
         |  FROM ce JOIN l${r - 1} l ON l.pid = ce.v GROUP BY 1),
         |m${r}a AS MATERIALIZED (
         |  SELECT l.pid, least(l.lab, coalesce(m.nmin, l.lab)) AS lab
         |  FROM l${r - 1} l LEFT JOIN m${r}n m ON m.pid = l.pid),
         |m${r}b AS MATERIALIZED (
         |  SELECT x.pid, y.lab FROM m${r}a x JOIN m${r}a y ON y.pid = x.lab),
         |l$r AS MATERIALIZED (
         |  SELECT x.pid, y.lab FROM m${r}b x JOIN m${r}b y ON y.pid = x.lab)"""
        .stripMargin
    }.mkString(",\n")
    s"""p AS MATERIALIZED (
       |  SELECT event_id AS pid,
       |         CAST(extract(hour FROM ts) * 60 + extract(minute FROM ts) AS BIGINT) AS x,
       |         CAST(floor(value) AS BIGINT) AS y
       |  FROM events WHERE event_type = 'purchase'),
       |pr AS MATERIALIZED (
       |  SELECT a.pid AS a_pid, b.pid AS b_pid
       |  FROM p a JOIN p b
       |    ON abs(a.x - b.x) <= $eps AND abs(a.y - b.y) <= $eps
       |   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= $eps2),
       |nb AS MATERIALIZED (
       |  SELECT a_pid AS pid, CAST(count(*) AS BIGINT) AS n_nbrs
       |  FROM pr GROUP BY 1),
       |core AS MATERIALIZED (SELECT pid FROM nb WHERE n_nbrs >= $dbscanMinPts),
       |ce AS MATERIALIZED (
       |  SELECT pr.a_pid AS u, pr.b_pid AS v FROM pr
       |  JOIN core ca ON ca.pid = pr.a_pid
       |  JOIN core cb ON cb.pid = pr.b_pid
       |  WHERE pr.a_pid <> pr.b_pid),
       |l0 AS (SELECT pid, pid AS lab FROM core),
       |$rounds""".stripMargin
  }

  private def dbscanSql: String =
    s"""WITH $dbscanModelCtes,
       |cnl AS (
       |  SELECT pr.a_pid AS pid, min(l.lab) AS nbr_lab
       |  FROM pr JOIN l$dbscanMaxRounds l ON l.pid = pr.b_pid
       |  WHERE pr.a_pid <> pr.b_pid GROUP BY 1)
       |SELECT p.pid AS pid,
       |  CASE WHEN c.pid IS NOT NULL THEN 'core'
       |       WHEN cnl.nbr_lab IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS role,
       |  CAST(CASE WHEN c.pid IS NOT NULL THEN lf.lab
       |       ELSE cnl.nbr_lab END AS BIGINT) AS cluster_id,
       |  nb.n_nbrs
       |FROM p
       |JOIN nb ON nb.pid = p.pid
       |LEFT JOIN core c ON c.pid = p.pid
       |LEFT JOIN l$dbscanMaxRounds lf ON lf.pid = p.pid
       |LEFT JOIN cnl ON cnl.pid = p.pid
       |ORDER BY p.pid""".stripMargin

  /** op299's oracle: the full model build ([[dbscanModelCtes]]) plus
    * the online classification — every `view` event against the core
    * points within eps (band IEJoin again; LEFT so no-neighbor points
    * surface as noise with count 0, exactly the stream's left-outer
    * cell join). */
  private def dbscanClassifySql: String = {
    val eps = dbscanEps
    val eps2 = eps * eps
    s"""WITH $dbscanModelCtes,
       |cp AS MATERIALIZED (
       |  SELECT p.x, p.y, l.lab FROM p JOIN l$dbscanMaxRounds l ON l.pid = p.pid),
       |q AS (
       |  SELECT event_id AS pid,
       |         CAST(extract(hour FROM ts) * 60 + extract(minute FROM ts) AS BIGINT) AS qx,
       |         CAST(floor(value) AS BIGINT) AS qy
       |  FROM events WHERE event_type = 'view'),
       |cls AS (
       |  SELECT q.pid, min(cp.lab) AS cluster_id,
       |         CAST(count(cp.lab) AS BIGINT) AS n_core_nbrs
       |  FROM q LEFT JOIN cp
       |    ON abs(q.qx - cp.x) <= $eps AND abs(q.qy - cp.y) <= $eps
       |   AND (q.qx - cp.x) * (q.qx - cp.x) + (q.qy - cp.y) * (q.qy - cp.y) <= $eps2
       |  GROUP BY q.pid)
       |SELECT pid,
       |  CASE WHEN cluster_id IS NOT NULL THEN 'cluster' ELSE 'noise' END AS role,
       |  CAST(cluster_id AS BIGINT) AS cluster_id, n_core_nbrs
       |FROM cls ORDER BY pid""".stripMargin
  }

  /** The op300/op301 phase-1 replay: graph-base CTEs + the identical
    * synchronous modularity-ascent trajectory unrolled
    * [[louvainSweeps]] times — per sweep community degree sums,
    * neighbor-community counts, the zero-row own-community candidate
    * union, and the integer-score top-1 (2m²-scaled ΔQ, ties to the
    * smallest community id). Round CTEs are MATERIALIZED (each is read
    * by ≥ 2 consumers — the op202 rule). Ends at `c<louvainSweeps>`. */
  private def louvainPhase1Ctes: String = {
    val sweeps = (1 to louvainSweeps).map { r =>
      s"""s${r}t AS MATERIALIZED (
         |  SELECT c.lab, CAST(sum(d.k) AS BIGINT) AS stot
         |  FROM c${r - 1} c JOIN deg d ON d.v = c.v GROUP BY 1),
         |s${r}k AS (
         |  SELECT e.v, c.lab, CAST(count(*) AS BIGINT) AS kuc
         |  FROM bce e JOIN c${r - 1} c ON c.v = e.w GROUP BY 1, 2),
         |s${r}a AS MATERIALIZED (
         |  SELECT v, lab, max(kuc) AS kuc FROM (
         |    SELECT v, lab, kuc FROM s${r}k
         |    UNION ALL SELECT v, lab, CAST(0 AS BIGINT) FROM c${r - 1})
         |  GROUP BY 1, 2),
         |c$r AS MATERIALIZED (
         |  SELECT v, lab FROM (
         |    SELECT a.v, a.lab,
         |           row_number() OVER (PARTITION BY a.v ORDER BY
         |             mm.m2 * a.kuc - d.k *
         |               (t.stot - CASE WHEN cc.lab = a.lab THEN d.k ELSE 0 END) DESC,
         |             a.lab) AS rk
         |    FROM s${r}a a
         |    JOIN deg d ON d.v = a.v
         |    JOIN c${r - 1} cc ON cc.v = a.v
         |    JOIN s${r}t t ON t.lab = a.lab
         |    CROSS JOIN mm)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |small AS MATERIALIZED (SELECT l_orderkey FROM li GROUP BY 1
       |          HAVING count(*) <= $prBasketCap),
       |li2 AS MATERIALIZED (SELECT li.l_orderkey, li.l_partkey
       |        FROM li JOIN small USING (l_orderkey)),
       |bcp AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
       |          FROM li2 a JOIN li2 b ON a.l_orderkey = b.l_orderkey
       |            AND a.l_partkey < b.l_partkey),
       |bce AS MATERIALIZED (SELECT p1 AS v, p2 AS w FROM bcp
       |        UNION ALL SELECT p2 AS v, p1 AS w FROM bcp),
       |deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS k
       |        FROM bce GROUP BY 1),
       |mm AS (SELECT CAST(sum(k) AS BIGINT) AS m2 FROM deg),
       |c0 AS (SELECT v, v AS lab FROM deg),
       |$sweeps""".stripMargin
  }

  private def louvainSql: String =
    s"""WITH $louvainPhase1Ctes
       |SELECT c.v AS v, CAST(c.lab AS BIGINT) AS community, d.k
       |FROM c$louvainSweeps c JOIN deg d ON d.v = c.v
       |ORDER BY c.v""".stripMargin

  /** The op301/op302 two-level replay: [[louvainPhase1Ctes]] + the
    * contraction (weighted super-edges from the phase-1 labels) +
    * [[louvainContractedSweeps]] unrolled DOWNWARD-ONLY weighted sweeps
    * + the vertex → super-vertex community mapping (`vcomm`). The
    * per-round top-1 is spelled as a row_number over the
    * downward-filtered candidates LEFT-joined against the
    * always-present stay row — semantics identical to the Spark
    * struct-max. */
  private def louvainTwoLevelCtes: String = {
    val rounds = (1 to louvainContractedSweeps).map { r =>
      s"""w${r}t AS MATERIALIZED (
         |  SELECT c.lab, CAST(sum(s.kk) AS BIGINT) AS stot
         |  FROM d${r - 1} c JOIN supk s ON s.sv = c.sv GROUP BY 1),
         |w${r}k AS MATERIALIZED (
         |  SELECT e.cu AS sv, c.lab, CAST(sum(e.wgt) AS BIGINT) AS kuc
         |  FROM ce e JOIN d${r - 1} c ON c.sv = e.cv
         |  WHERE e.cu <> e.cv GROUP BY 1, 2),
         |w${r}n AS MATERIALIZED (
         |  SELECT sv, lab, score FROM (
         |    SELECT a.sv, a.lab,
         |           mm.m2 * a.kuc - s.kk *
         |             (t.stot - CASE WHEN cc.lab = a.lab THEN s.kk ELSE 0 END) AS score,
         |           row_number() OVER (PARTITION BY a.sv ORDER BY
         |             (mm.m2 * a.kuc - s.kk *
         |               (t.stot - CASE WHEN cc.lab = a.lab THEN s.kk ELSE 0 END)) DESC,
         |             a.lab) AS rk
         |    FROM w${r}k a
         |    JOIN supk s ON s.sv = a.sv
         |    JOIN d${r - 1} cc ON cc.sv = a.sv
         |    JOIN w${r}t t ON t.lab = a.lab
         |    CROSS JOIN mm
         |    WHERE a.lab <= cc.lab)
         |  WHERE rk = 1),
         |w${r}o AS MATERIALIZED (
         |  SELECT cc.sv, cc.lab,
         |         mm.m2 * coalesce(k2.kuc, 0) - s.kk * (t.stot - s.kk) AS score
         |  FROM d${r - 1} cc
         |  JOIN supk s ON s.sv = cc.sv
         |  JOIN w${r}t t ON t.lab = cc.lab
         |  LEFT JOIN w${r}k k2 ON k2.sv = cc.sv AND k2.lab = cc.lab
         |  CROSS JOIN mm),
         |d$r AS MATERIALIZED (
         |  SELECT o.sv,
         |         CASE WHEN n.sv IS NOT NULL AND (n.score > o.score
         |                OR (n.score = o.score AND n.lab < o.lab))
         |              THEN n.lab ELSE o.lab END AS lab
         |  FROM w${r}o o LEFT JOIN w${r}n n ON n.sv = o.sv)""".stripMargin
    }.mkString(",\n")
    s"""$louvainPhase1Ctes,
       |ce AS MATERIALIZED (
       |  SELECT a.lab AS cu, b.lab AS cv, CAST(count(*) AS BIGINT) AS wgt
       |  FROM bce e JOIN c$louvainSweeps a ON a.v = e.v
       |             JOIN c$louvainSweeps b ON b.v = e.w
       |  GROUP BY 1, 2),
       |supk AS MATERIALIZED (
       |  SELECT cu AS sv, CAST(sum(wgt) AS BIGINT) AS kk FROM ce GROUP BY 1),
       |d0 AS (SELECT sv, sv AS lab FROM supk),
       |$rounds,
       |vcomm AS MATERIALIZED (
       |  SELECT c.v, d.lab AS community
       |  FROM c$louvainSweeps c
       |  JOIN d$louvainContractedSweeps d ON d.sv = c.lab)""".stripMargin
  }

  private def louvain2Sql: String =
    s"""WITH $louvainTwoLevelCtes
       |SELECT vc.v AS v, CAST(vc.community AS BIGINT) AS community, dg.k
       |FROM vcomm vc JOIN deg dg ON dg.v = vc.v
       |ORDER BY vc.v""".stripMargin

  /** op302's oracle: the full two-level replay + the line-weighted
    * vote — per (order, community) counts over raw lineitem rows
    * joined to the vertex → community map, winner by
    * (votes DESC, community ASC). */
  private def basketCommunitySql: String =
    s"""WITH $louvainTwoLevelCtes,
       |vote AS MATERIALIZED (
       |  SELECT l.l_orderkey, vc.community,
       |         CAST(count(*) AS BIGINT) AS votes
       |  FROM lineitem l JOIN vcomm vc ON vc.v = l.l_partkey
       |  GROUP BY 1, 2),
       |tot AS (SELECT l_orderkey, CAST(sum(votes) AS BIGINT) AS n_lines
       |        FROM vote GROUP BY 1)
       |SELECT w.l_orderkey, CAST(w.community AS BIGINT) AS community,
       |       w.votes, t.n_lines
       |FROM (SELECT l_orderkey, community, votes,
       |             row_number() OVER (PARTITION BY l_orderkey
       |               ORDER BY votes DESC, community) AS rk
       |      FROM vote) w
       |JOIN tot t ON t.l_orderkey = w.l_orderkey
       |WHERE w.rk = 1
       |ORDER BY w.l_orderkey""".stripMargin

  /** op217's oracle: the identical division-first-normalized integer
    * trajectory unrolled as chained CTEs (h0 → a1 → h1 → a2 …). */
  private def hitsSql: String = {
    val rounds = (1 to hitsRounds).map { r =>
      s"""a${r}r AS (SELECT p, sum(h) AS a
         |       FROM e JOIN h${r - 1} USING (c) GROUP BY 1),
         |a${r}t AS (SELECT sum(a) AS t FROM a${r}r),
         |a$r AS MATERIALIZED (
         |  SELECT p, a // greatest(t // $hitsScale, 1) AS a
         |  FROM a${r}r CROSS JOIN a${r}t),
         |h${r}r AS (SELECT c, sum(a) AS h
         |       FROM e JOIN a$r USING (p) GROUP BY 1),
         |h${r}t AS (SELECT sum(h) AS t FROM h${r}r),
         |h$r AS MATERIALIZED (
         |  SELECT c, h // greatest(t // $hitsScale, 1) AS h
         |  FROM h${r}r CROSS JOIN h${r}t)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |h0 AS (SELECT c, CAST($hitsScale AS BIGINT) AS h
       |       FROM (SELECT DISTINCT c FROM e)),
       |$rounds,
       |deg AS (SELECT p, CAST(count(*) AS BIGINT) AS deg FROM e
       |        GROUP BY 1)
       |SELECT a$hitsRounds.p AS p_partkey,
       |  CAST(a$hitsRounds.a AS BIGINT) AS auth_ppb, deg.deg
       |FROM a$hitsRounds JOIN deg USING (p)
       |ORDER BY p_partkey""".stripMargin
  }

  /** op218's oracle: the Bellman–Ford relaxation unrolled d0 → d6. */
  private def ssspSql: String = {
    val rounds = (1 to sspRounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT v, min(dist) AS dist FROM (
         |    SELECT v, dist FROM d${r - 1}
         |    UNION ALL
         |    SELECT e.p2 AS v, x.dist + e.w AS dist
         |    FROM d${r - 1} x JOIN wund e ON e.p1 = x.v)
         |  GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |small AS MATERIALIZED (SELECT l_orderkey FROM li GROUP BY 1
       |          HAVING count(*) <= $prBasketCap),
       |li2 AS MATERIALIZED (SELECT li.l_orderkey, li.l_partkey
       |        FROM li JOIN small USING (l_orderkey)),
       |wp AS MATERIALIZED (
       |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
       |    10000 // count(*) AS w
       |  FROM li2 a JOIN li2 b ON a.l_orderkey = b.l_orderkey
       |    AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |wund AS MATERIALIZED (SELECT p1, p2, w FROM wp
       |        UNION ALL SELECT p2, p1, w FROM wp),
       |d0 AS MATERIALIZED (
       |  SELECT v, CAST(0 AS BIGINT) AS dist
       |  FROM (SELECT DISTINCT p1 AS v FROM wund) WHERE v % 97 = 0),
       |$rounds
       |SELECT v, CAST(dist AS BIGINT) AS dist FROM d$sspRounds
       |ORDER BY v""".stripMargin
  }

  /** op202's oracle: the same peel unrolled as chained CTEs (a0 → aN),
    * per-round rows from subquery counts — all BIGINT casts. */
  private def kcoreSql: String = {
    val roundCtes = (1 to kcoreRounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT e.p1 AS v, count(*) AS c
         |      FROM und e JOIN a${r - 1} x ON e.p1 = x.v
         |                 JOIN a${r - 1} y ON e.p2 = y.v
         |      GROUP BY 1),
         |a$r AS MATERIALIZED (SELECT v FROM d$r WHERE c >= $kcoreK)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to kcoreRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT CAST(count(*) AS BIGINT) FROM a${r - 1}) AS n_before,
         |  (SELECT CAST(count(*) AS BIGINT) FROM a$r) AS n_core,
         |  (SELECT CAST(count(*) AS BIGINT) FROM a${r - 1})
         |    - (SELECT CAST(count(*) AS BIGINT) FROM a$r) AS n_removed""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $graphBaseSql,
       |a0 AS MATERIALIZED (SELECT v FROM verts),
       |$roundCtes
       |SELECT * FROM (
       |$rows) ORDER BY round""".stripMargin
  }

  /** op176's oracle: the identical integer iteration unrolled as
    * chained CTEs (r0 → r5). */
  /** The integer-PageRank iteration chain (r1..rN over CTEs named
    * esd/verts/nverts/r0) — factored so op176's oracle and op320's
    * page-rank-over-the-crawl-graph oracle (WebQueries) share the
    * exact arithmetic. */
  private[queries] def prIterChainSql: String =
    (1 to prIters).map { i =>
      s"""r$i AS (
         |  SELECT v.pk,
         |    150000000 // nv.nv + ($prDampNum * coalesce(c.sc, 0)) // $prScale
         |      AS r
         |  FROM verts v CROSS JOIN nverts nv
         |  LEFT JOIN (
         |    SELECT e.dst, sum(rr.r // e.deg) AS sc
         |    FROM esd e JOIN r${i - 1} rr ON e.src = rr.pk
         |    GROUP BY 1) c ON v.pk = c.dst)""".stripMargin
    }.mkString(",\n")

  /** The iteration chain's prelude contract, shared with op320: the
    * caller provides edges → deg/esd/verts/nverts/r0 in these exact
    * names, appends [[prIterChainSql]], and reads r$prIters. */
  private[queries] def prFinalCte: String = s"r$prIters"

  private def pagerankSql: String = {
    val iters = prIterChainSql
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |small AS (
       |  SELECT l_orderkey FROM items GROUP BY 1
       |  HAVING count(*) <= $prBasketCap),
       |it2 AS (SELECT i.* FROM items i JOIN small s USING (l_orderkey)),
       |pairs AS (
       |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
       |  FROM it2 a JOIN it2 b USING (l_orderkey)
       |  WHERE a.l_partkey < b.l_partkey),
       |edges AS (
       |  SELECT p1 AS src, p2 AS dst FROM pairs
       |  UNION ALL SELECT p2, p1 FROM pairs),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |esd AS (SELECT e.src, e.dst, d.deg FROM edges e
       |        JOIN deg d USING (src)),
       |verts AS (SELECT src AS pk FROM deg),
       |nverts AS (SELECT count(*) AS nv FROM verts),
       |r0 AS (SELECT pk, $prScale // nv AS r
       |       FROM verts CROSS JOIN nverts),
       |$iters
       |SELECT v.pk AS p_partkey, CAST(r.r AS BIGINT) AS rank_ppb,
       |  CAST(d.deg AS BIGINT) AS deg
       |FROM verts v JOIN r$prIters r USING (pk) JOIN deg d ON v.pk = d.src
       |ORDER BY p_partkey""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "op267_label_prop" -> lpaSql,
    "op263_negative_sampling" ->
      s"""WITH $graphBaseSql,
         |rk AS MATERIALIZED (
         |  SELECT v, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS rn
         |  FROM verts),
         |nv AS (SELECT CAST(max(rn) AS BIGINT) AS nv FROM rk),
         |cand AS (
         |  SELECT r.v AS src, t.j,
         |    ('0x' || substring(md5('neg' || '|' ||
         |       CAST(r.v AS VARCHAR) || '|' || CAST(t.j AS VARCHAR)),
         |       1, 15))::BIGINT % nv.nv + 1 AS crn
         |  FROM rk r CROSS JOIN nv
         |  CROSS JOIN (SELECT unnest(range(8)) AS j) t),
         |cd AS (
         |  SELECT c.src, c.j, k.v AS neg_dst
         |  FROM cand c JOIN rk k ON c.crn = k.rn
         |  WHERE k.v <> c.src),
         |ne AS (
         |  SELECT cd.src, cd.j, cd.neg_dst
         |  FROM cd LEFT JOIN und u
         |    ON cd.src = u.p1 AND cd.neg_dst = u.p2
         |  WHERE u.p1 IS NULL),
         |fin AS (
         |  SELECT src, neg_dst,
         |    CAST(row_number() OVER (PARTITION BY src ORDER BY j)
         |         AS BIGINT) AS rank
         |  FROM ne)
         |SELECT src, rank, neg_dst FROM fin
         |WHERE rank <= 3 ORDER BY src, rank""".stripMargin,
    "op173_islands" ->
      """WITH flg AS (SELECT event_id, user_id, event_type, ts,
        |  CASE WHEN lag(event_type) OVER w IS NULL
        |         OR lag(event_type) OVER w <> event_type
        |       THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |ev AS (SELECT event_id, user_id, event_type, ts,
        |  sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS g
        |  FROM flg)
        |SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_run,
        |  min(event_id) AS min_id, max(event_id) AS max_id,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(min(ts) AS DATE))
        |       AS BIGINT) AS start_day
        |FROM ev GROUP BY user_id, event_type, g
        |ORDER BY user_id, min_id""".stripMargin,
    "op174_peak_concurrency" ->
      """WITH iv AS (
        |  SELECT l_suppkey,
        |    least(date_diff('day', DATE '1995-01-01',
        |            CAST(o_orderdate AS DATE)),
        |          date_diff('day', DATE '1995-01-01',
        |            CAST(l_shipdate AS DATE))) AS lo,
        |    greatest(date_diff('day', DATE '1995-01-01',
        |            CAST(o_orderdate AS DATE)),
        |          date_diff('day', DATE '1995-01-01',
        |            CAST(l_shipdate AS DATE))) + 1 AS hi
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deltas AS (
        |  SELECT l_suppkey, day, sum(delta) AS net FROM (
        |    SELECT l_suppkey, lo AS day, 1 AS delta FROM iv
        |    UNION ALL SELECT l_suppkey, hi, -1 FROM iv)
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_suppkey, day,
        |    sum(net) OVER (PARTITION BY l_suppkey ORDER BY day) AS open
        |  FROM deltas),
        |pk AS (
        |  SELECT l_suppkey, max(open) AS peak,
        |    CAST(count(*) AS BIGINT) AS n_days
        |  FROM cum GROUP BY 1)
        |SELECT p.l_suppkey AS l_suppkey, CAST(p.peak AS BIGINT) AS peak,
        |  CAST(min(c.day) AS BIGINT) AS peak_day, p.n_days
        |FROM pk p JOIN cum c ON p.l_suppkey = c.l_suppkey
        |  AND c.open = p.peak
        |GROUP BY 1, 2, p.n_days
        |ORDER BY p.l_suppkey""".stripMargin,
    "op175_fuzzy_join" ->
      """WITH probes AS (
        |  SELECT p_partkey,
        |    substring(p_name, 1, CAST(p_partkey % length(p_name) AS INT))
        |    || substring(p_name,
        |         CAST(p_partkey % length(p_name) AS INT) + 2) AS probe
        |  FROM part),
        |names AS (SELECT DISTINCT p_name AS cand FROM part),
        |pb AS (
        |  SELECT p_partkey, probe, bk FROM probes, UNNEST([
        |    'p:' || substring(probe, 1, 4),
        |    's:' || substring(probe, length(probe) - 3)]) AS t(bk)),
        |nb AS (
        |  SELECT cand, bk FROM names, UNNEST([
        |    'p:' || substring(cand, 1, 4),
        |    's:' || substring(cand, length(cand) - 3)]) AS t(bk)),
        |cands AS (
        |  SELECT DISTINCT p_partkey, probe, cand
        |  FROM pb JOIN nb USING (bk)),
        |scored AS (
        |  SELECT p_partkey, probe, cand,
        |    CAST(levenshtein(probe, cand) AS BIGINT) AS dist
        |  FROM cands
        |  WHERE abs(length(probe) - length(cand)) <= 2
        |    AND levenshtein(probe, cand) <= 2),
        |best AS (
        |  SELECT *, row_number() OVER (PARTITION BY p_partkey
        |    ORDER BY dist, cand) AS rn FROM scored)
        |SELECT b.p_partkey, b.probe, b.cand AS best, b.dist,
        |  CAST(CASE WHEN b.cand = p.p_name THEN 1 ELSE 0 END AS BIGINT)
        |    AS self_match
        |FROM best b JOIN part p USING (p_partkey)
        |WHERE b.rn = 1
        |ORDER BY p_partkey""".stripMargin,
    "op176_pagerank" -> pagerankSql,
    // op176b is op176 under a different partitioning strategy; the
    // shared oracle is the proof they emit identical integers
    "op176b_pagerank_partitioned" -> pagerankSql,
    "op202_kcore" -> kcoreSql,
    // op208's oracle reaches the same partition by a DIFFERENT
    // algorithm (recursive transitive closure vs iterative hash-min);
    // op208b shares it — the partition is unique, so hash-min, star
    // contraction, and transitive closure must emit identical rows
    "op208_connected_components" -> ccSql,
    "op208b_cc_star_contraction" -> ccSql,
    "op293_kcore" -> kCoreSql,
    "op298_dbscan" -> dbscanSql,
    "op299_stream_dbscan" -> dbscanClassifySql,
    "op300_louvain" -> louvainSql,
    // op300b/op301b are the co-partitioned (never-broadcast) spellings;
    // the shared oracles prove the partitioning strategy changes no bit
    "op300b_louvain_partitioned" -> louvainSql,
    "op301_louvain_two_level" -> louvain2Sql,
    "op301b_louvain_two_level_partitioned" -> louvain2Sql,
    "op302_stream_basket_community" -> basketCommunitySql,
    "op209_bfs_hops" ->
      s"""WITH RECURSIVE
         |$graphBaseSql,
         |src AS MATERIALIZED (SELECT v FROM verts WHERE v % 97 = 0),
         |walk(v, dist) AS (
         |  SELECT v, 0 FROM src
         |  UNION
         |  SELECT e.p2, w.dist + 1 FROM walk w JOIN und e ON e.p1 = w.v
         |  WHERE w.dist < $bfsMaxHops),
         |mind AS (SELECT v, min(dist) AS dist FROM walk GROUP BY v)
         |SELECT CAST(dist AS BIGINT) AS dist,
         |  CAST(count(*) AS BIGINT) AS n_vertices,
         |  CAST(min(v) AS BIGINT) AS min_v,
         |  CAST(max(v) AS BIGINT) AS max_v
         |FROM mind GROUP BY dist
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT),
         |  CAST(min(v) AS BIGINT), CAST(max(v) AS BIGINT)
         |FROM verts WHERE v NOT IN (SELECT v FROM mind)
         |HAVING count(*) > 0
         |ORDER BY dist""".stripMargin,
    "op217_hits" -> hitsSql,
    // op217b/op226b are the co-partitioned (never-broadcast) spellings;
    // the shared oracles prove the partitioning strategy changes no bit
    "op217b_hits_partitioned" -> hitsSql,
    "op218_weighted_sssp" -> ssspSql,
    "op226_rwr" -> rwrSql,
    "op226b_rwr_partitioned" -> rwrSql,
    "op224_two_hop_features" ->
      s"""WITH $graphBaseSql,
         |deg AS (SELECT p1, CAST(count(*) AS BIGINT) AS n_1hop
         |        FROM und GROUP BY 1),
         |cand AS (
         |  SELECT DISTINCT a.p1 AS v, b.p2 AS w
         |  FROM und a JOIN und b ON a.p2 = b.p1
         |  WHERE a.p1 <> b.p2),
         |ex2 AS (
         |  SELECT c.v, CAST(count(*) AS BIGINT) AS n_2hop
         |  FROM cand c LEFT JOIN und u ON c.v = u.p1 AND c.w = u.p2
         |  WHERE u.p1 IS NULL GROUP BY 1)
         |SELECT d.p1 AS p_partkey, d.n_1hop,
         |  CAST(coalesce(e.n_2hop, 0) AS BIGINT) AS n_2hop
         |FROM deg d LEFT JOIN ex2 e ON d.p1 = e.v
         |ORDER BY p_partkey""".stripMargin,
    "op225_clustering_coeff" ->
      s"""WITH $graphBaseSql,
         |deg AS (SELECT p1, CAST(count(*) AS BIGINT) AS deg
         |        FROM und GROUP BY 1),
         |keyed AS (
         |  SELECT u.p1, u.p2,
         |    d1.deg * 1000000000 + u.p1 AS k1,
         |    d2.deg * 1000000000 + u.p2 AS k2
         |  FROM und u JOIN deg d1 ON u.p1 = d1.p1
         |  JOIN deg d2 ON u.p2 = d2.p1),
         |oriented AS (
         |  SELECT p1 AS src, p2 AS dst, k2 AS dk
         |  FROM keyed WHERE k1 < k2),
         |wedges AS (
         |  SELECT e1.src, e1.dst AS v, e2.dst AS w
         |  FROM oriented e1 JOIN oriented e2 USING (src)
         |  WHERE e1.dk < e2.dk),
         |tri AS (
         |  SELECT t.src, t.v, t.w
         |  FROM wedges t JOIN oriented o
         |    ON t.v = o.src AND t.w = o.dst),
         |pv AS (
         |  SELECT x AS p1, CAST(count(*) AS BIGINT) AS tri
         |  FROM tri, UNNEST([src, v, w]) AS t(x) GROUP BY 1)
         |SELECT d.p1 AS p_partkey, d.deg,
         |  CAST(coalesce(p.tri, 0) AS BIGINT) AS tri,
         |  CASE WHEN d.deg < 2 THEN 0
         |    ELSE (2 * coalesce(p.tri, 0) * 10000)
         |         // (d.deg * (d.deg - 1)) END AS lcc_bp
         |FROM deg d LEFT JOIN pv p USING (p1)
         |ORDER BY p_partkey""".stripMargin,
    "op221_modularity" ->
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |small AS MATERIALIZED (SELECT l_orderkey FROM li GROUP BY 1
         |          HAVING count(*) <= $prBasketCap),
         |li2 AS MATERIALIZED (SELECT li.l_orderkey, li.l_partkey
         |        FROM li JOIN small USING (l_orderkey)),
         |pairs AS MATERIALIZED (SELECT a.l_partkey AS p1, b.l_partkey AS p2
         |          FROM li2 a JOIN li2 b ON a.l_orderkey = b.l_orderkey
         |            AND a.l_partkey < b.l_partkey
         |          GROUP BY 1, 2 HAVING count(*) >= 2),
         |etot AS (SELECT CAST(count(*) AS BIGINT) AS e_tot FROM pairs),
         |und AS MATERIALIZED (SELECT p1, p2 FROM pairs
         |        UNION ALL SELECT p2, p1 FROM pairs),
         |deg AS (SELECT p1, CAST(count(*) AS BIGINT) AS deg FROM und
         |        GROUP BY 1),
         |dcs AS (
         |  SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_vertices,
         |    CAST(sum(d.deg) AS BIGINT) AS d_c
         |  FROM deg d JOIN part p ON d.p1 = p.p_partkey GROUP BY 1),
         |ein AS (
         |  SELECT pa.p_brand, CAST(count(*) AS BIGINT) AS e_in
         |  FROM pairs j JOIN part pa ON j.p1 = pa.p_partkey
         |    JOIN part pb ON j.p2 = pb.p_partkey
         |  WHERE pa.p_brand = pb.p_brand GROUP BY 1)
         |SELECT d.p_brand, d.n_vertices,
         |  CAST(coalesce(e.e_in, 0) AS BIGINT) AS e_in, d.d_c,
         |  coalesce(e.e_in, 0) * 1000000000 // t.e_tot AS frac_in_ppb,
         |  ((d.d_c * 1000000000 // (2 * t.e_tot)) *
         |   (d.d_c * 1000000000 // (2 * t.e_tot))) // 1000000000
         |    AS exp_ppb,
         |  coalesce(e.e_in, 0) * 1000000000 // t.e_tot -
         |  ((d.d_c * 1000000000 // (2 * t.e_tot)) *
         |   (d.d_c * 1000000000 // (2 * t.e_tot))) // 1000000000
         |    AS contrib_ppb
         |FROM dcs d LEFT JOIN ein e USING (p_brand) CROSS JOIN etot t
         |ORDER BY p_brand""".stripMargin,
    // op215b/op194b are the co-partitioned degree-attach spellings —
    // shared oracles (the op176b rule)
    "op215_assortativity" -> assortSql,
    "op215b_assortativity_partitioned" -> assortSql,
    "op213_jaccard_recommend" ->
      s"""WITH li AS MATERIALIZED (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |small AS MATERIALIZED (SELECT l_orderkey FROM li GROUP BY 1
         |          HAVING count(*) <= $prBasketCap),
         |li2 AS MATERIALIZED (SELECT li.l_orderkey, li.l_partkey
         |        FROM li JOIN small USING (l_orderkey)),
         |nb AS MATERIALIZED (SELECT l_partkey, count(*) AS nbk
         |      FROM li2 GROUP BY 1),
         |co AS MATERIALIZED (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
         |        count(*) AS co
         |      FROM li2 a JOIN li2 b ON a.l_orderkey = b.l_orderkey
         |        AND a.l_partkey < b.l_partkey
         |      GROUP BY 1, 2 HAVING count(*) >= 2),
         |sym AS (SELECT p1, p2, co FROM co
         |        UNION ALL SELECT p2, p1, co FROM co),
         |j AS (SELECT s.p1, s.p2, s.co,
         |        s.co * 10000 // (na.nbk + nb2.nbk - s.co) AS jaccard_bp
         |      FROM sym s JOIN nb na ON s.p1 = na.l_partkey
         |        JOIN nb nb2 ON s.p2 = nb2.l_partkey),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY p1
         |        ORDER BY jaccard_bp DESC, p2) AS rank FROM j)
         |SELECT p1 AS p_partkey, CAST(rank AS BIGINT) AS rank,
         |  p2 AS partner, CAST(co AS BIGINT) AS co,
         |  CAST(jaccard_bp AS BIGINT) AS jaccard_bp
         |FROM rk WHERE rank <= $recK
         |ORDER BY p_partkey, rank""".stripMargin,
    // op194 oracle wedge terms: deg·(deg−1)/2 sums in DuckDB's HUGEINT
    // (128-bit, exact at any degree) and only the ≤10¹⁹-bounded final
    // scalars cast to BIGINT — overflow would fail loud in the cast,
    // never silently wrap (the Spark side's bound note sits at the
    // operator)
    "op194_triangles" -> trianglesSql,
    "op194b_triangles_broadcast" -> trianglesSql,
    "op191_interval_coverage" ->
      """WITH iv AS (
        |  SELECT l_suppkey,
        |    least(date_diff('day', DATE '1995-01-01',
        |            CAST(o_orderdate AS DATE)),
        |          date_diff('day', DATE '1995-01-01',
        |            CAST(l_shipdate AS DATE))) AS lo,
        |    greatest(date_diff('day', DATE '1995-01-01',
        |            CAST(o_orderdate AS DATE)),
        |          date_diff('day', DATE '1995-01-01',
        |            CAST(l_shipdate AS DATE))) + 1 AS hi
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |deltas AS (
        |  SELECT l_suppkey, day, sum(delta) AS net FROM (
        |    SELECT l_suppkey, lo AS day, 1 AS delta FROM iv
        |    UNION ALL SELECT l_suppkey, hi, -1 FROM iv)
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_suppkey, day,
        |    sum(net) OVER (PARTITION BY l_suppkey ORDER BY day) AS open,
        |    lead(day) OVER (PARTITION BY l_suppkey ORDER BY day) AS nxt
        |  FROM deltas)
        |SELECT l_suppkey,
        |  CAST(sum(CASE WHEN open > 0 THEN nxt - day ELSE 0 END)
        |       AS BIGINT) AS covered_days,
        |  CAST(max(day) - min(day) AS BIGINT) AS span_days,
        |  CAST(sum(CASE WHEN open > 0 THEN nxt - day ELSE 0 END)
        |       AS BIGINT) * 10000 // CAST(max(day) - min(day) AS BIGINT)
        |    AS util_bp
        |FROM cum GROUP BY 1
        |ORDER BY l_suppkey""".stripMargin,
    "op177_mad_outliers" ->
      """WITH ev AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |med AS (
        |  SELECT event_type, cents AS med, n FROM (
        |    SELECT event_type, cents,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY cents, event_id) AS rn,
        |      CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |    FROM ev) WHERE rn = (n + 1) // 2),
        |dev AS (
        |  SELECT e.event_id, e.event_type, abs(e.cents - m.med) AS adev,
        |    m.med, m.n
        |  FROM ev e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, adev AS mad FROM (
        |    SELECT event_type, adev,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY adev, event_id) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM dev) WHERE rn = (n + 1) // 2)
        |SELECT d.event_type, d.n, d.med AS med_cents,
        |  a.mad AS mad_cents,
        |  CAST(sum(CASE WHEN d.adev > 3 * a.mad THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_out
        |FROM dev d JOIN mad a USING (event_type)
        |GROUP BY 1, 2, 3, 4
        |ORDER BY event_type""".stripMargin,
    "op178_null_aware_not_in" ->
      """SELECT
        |  CASE
        |    WHEN c_custkey NOT IN (SELECT CASE WHEN o_orderstatus = 'F'
        |                           THEN o_custkey END FROM orders)
        |      THEN 'true'
        |    WHEN NOT (c_custkey NOT IN (SELECT CASE
        |                                WHEN o_orderstatus = 'F'
        |                                THEN o_custkey END FROM orders))
        |      THEN 'false'
        |    ELSE 'unknown' END AS with_nulls,
        |  CASE
        |    WHEN c_custkey NOT IN (SELECT o_custkey FROM orders
        |                           WHERE o_orderstatus = 'F')
        |      THEN 'true' ELSE 'false' END AS null_free,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM customer
        |GROUP BY 1, 2
        |ORDER BY with_nulls, null_free""".stripMargin)
}
