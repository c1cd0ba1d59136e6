package graft

import org.apache.spark.sql.functions._

import graft.queries.SeqGraphQueries
import graft.sources.Tables

/** Semantics of the sequence/interval/graph/linkage pack (op173–op178)
  * against naive driver-side replays on the sf0.001 fixture. */
class SeqGraphSpec extends SparkSpec {

  test("op173: islands partition each user's event sequence exactly") {
    val r = SeqGraphQueries.op173Islands(spark, sfDir).collect()
    val evDf = Tables.events(spark, sfDir)
    val ev = evDf
      .select(col("event_id"), col("user_id"), col("event_type"),
        Tables.tsUsExpr(evDf).as("us")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2),
        x.getLong(3)))
    // total island lengths == total events
    assert(r.map(_.getAs[Long]("n_run")).sum == ev.length)
    // naive replay: per user, count maximal same-type runs in (ts, id)
    // order and check each island's length
    val wantRuns = ev.groupBy(_._2).view.mapValues { rows =>
      val seq = rows.sortBy(x => (x._4, x._1)).map(_._3)
      seq.foldLeft(List.empty[(String, Int)]) {
        case ((t, n) :: rest, e) if t == e => (t, n + 1) :: rest
        case (acc, e) => (e, 1) :: acc
      }.reverse
    }.toMap
    val gotRuns = r.groupBy(_.getAs[Long]("user_id")).view.mapValues {
      rows => rows.sortBy(_.getAs[Long]("min_id"))
    }.toMap
    // same island count per user; lengths match as multisets per user
    wantRuns.foreach { case (u, runs) =>
      val got = gotRuns(u)
      assert(got.length == runs.length, s"user $u island count")
      assert(got.map(_.getAs[Long]("n_run")).sorted.toSeq ==
        runs.map(_._2.toLong).sorted.toSeq, s"user $u run lengths")
    }
  }

  test("op174: peak equals the naive per-day overlap count (sampled)") {
    val r = SeqGraphQueries.op174PeakConcurrency(spark, sfDir).collect()
      .map(x => x.getAs[Long]("l_suppkey") ->
        (x.getAs[Long]("peak"), x.getAs[Long]("peak_day"))).toMap
    val iv = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")),
        datediff(to_date(col("l_shipdate")), lit("1995-01-01").cast("date")))
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getInt(2)))
    val bySupp = iv.groupBy(_._1)
    bySupp.keys.toSeq.sorted.take(5).foreach { sk =>
      val ivs = bySupp(sk).map(x => (math.min(x._2, x._3),
        math.max(x._2, x._3)))
      val days = ivs.flatMap(i => Seq(i._1, i._2)).distinct
      val overlap = days.map(d =>
        d -> ivs.count(i => i._1 <= d && d <= i._2)).toMap
      val naivePeak = overlap.values.max.toLong
      val naiveDay = overlap.filter(_._2 == naivePeak).keys.min.toLong
      assert(r(sk)._1 == naivePeak, s"supp $sk peak")
      assert(r(sk)._2 == naiveDay, s"supp $sk peak day")
    }
  }

  test("op175: typo probes resolve to their own clean name") {
    val r = SeqGraphQueries.op175FuzzyJoin(spark, sfDir).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val d = row.getAs[Long]("dist")
      assert(d >= 0 && d <= 2)
    }
    // a 1-char deletion is distance ≤1 from the clean name, so on this
    // tiny vocabulary nearly every probe self-resolves
    val self = r.count(_.getAs[Long]("self_match") == 1L)
    assert(self * 10 >= r.length * 9, s"self-match $self of ${r.length}")
  }

  test("op176: rank mass is conserved up to integer-division loss") {
    val r = SeqGraphQueries.op176Pagerank(spark, sfDir).collect()
    val n = r.length
    assert(n > 0)
    val total = r.map(_.getAs[Long]("rank_ppb")).sum
    // r div deg floors away up to deg−1 ppb per vertex per round (plus
    // ≤2 from base/damping divs) — sub-0.01% of the mass here, never a
    // gain: the sum stays in (0.999·scale, scale]
    assert(total <= 1000000000L, s"total $total")
    assert(total >= 999000000L, s"total $total vs n=$n")
    // base floor: every vertex keeps at least (1-d)/N
    val base = 150000000L / n
    assert(r.forall(_.getAs[Long]("rank_ppb") >= base))
  }

  test("op177: med/mad match the exact lower-median replay") {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 100, 0).cast("long")).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    def lowerMed(xs: Seq[(Long, Long)]): Long = {
      // (value, id) sort; nearest-rank (n+1)/2
      val s = xs.sortBy(identity).map(_._1)
      s((s.length + 1) / 2 - 1)
    }
    val want = ev.groupBy(_._1).view.mapValues { rows =>
      val med = lowerMed(rows.map(x => (x._3, x._2)))
      val mad = lowerMed(rows.map(x => (math.abs(x._3 - med), x._2)))
      val nOut = rows.count(x => math.abs(x._3 - med) > 3 * mad)
      (rows.length.toLong, med, mad, nOut.toLong)
    }.toMap
    val r = SeqGraphQueries.op177MadOutliers(spark, sfDir).collect()
    assert(r.length == want.size)
    r.foreach { row =>
      val (n, med, mad, nOut) = want(row.getAs[String]("event_type"))
      assert(row.getAs[Long]("n") == n)
      assert(row.getAs[Long]("med_cents") == med)
      assert(row.getAs[Long]("mad_cents") == mad)
      assert(row.getAs[Long]("n_out") == nOut)
    }
  }

  test("op178: NOT IN over a NULL-bearing list is never TRUE") {
    val r = SeqGraphQueries.op178NullAwareNotIn(spark, sfDir).collect()
    val total = r.map(_.getAs[Long]("n")).sum
    assert(total == Tables.customer(spark, sfDir).count())
    assert(!r.exists(_.getAs[String]("with_nulls") == "true"),
      "NULL in the list must block TRUE")
    // the filtered twin classifies the same customers with two-valued
    // logic: its 'true' bucket is exactly the anti-join survivors
    val fCust = Tables.orders(spark, sfDir)
      .where(col("o_orderstatus") === "F")
      .select("o_custkey").distinct().count()
    val nTrue = r.filter(_.getAs[String]("null_free") == "true")
      .map(_.getAs[Long]("n")).sum
    assert(nTrue == Tables.customer(spark, sfDir).count() - fCust)
  }

  test("op191: coverage equals the naive merged-interval replay") {
    val r = SeqGraphQueries.op191IntervalCoverage(spark, sfDir).collect()
      .map(x => x.getAs[Long]("l_suppkey") ->
        (x.getAs[Long]("covered_days"), x.getAs[Long]("span_days"),
          x.getAs[Long]("util_bp"))).toMap
    val iv = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")),
        datediff(to_date(col("l_shipdate")), lit("1995-01-01").cast("date")))
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getInt(2)))
    iv.groupBy(_._1).foreach { case (sk, rows) =>
      val ivs = rows.map(x => (math.min(x._2, x._3), math.max(x._2, x._3)))
      val days = ivs.flatMap(i => i._1 to i._2).distinct
      val covered = days.length.toLong
      val span = (ivs.map(_._2).max + 1) - ivs.map(_._1).min
      assert(r(sk)._1 == covered, s"supp $sk covered")
      assert(r(sk)._2 == span, s"supp $sk span")
      assert(r(sk)._3 == covered * 10000 / span, s"supp $sk util")
    }
    // overlaps genuinely merge somewhere: coverage < sum of lengths
    val anyMerged = iv.groupBy(_._1).exists { case (sk, rows) =>
      rows.map(x => math.max(x._2, x._3) - math.min(x._2, x._3) + 1)
        .sum > r(sk)._1
    }
    assert(anyMerged, "no overlapping intervals exercised")
  }

  test("op194: triangle count equals the naive set replay") {
    val r = SeqGraphQueries.op194Triangles(spark, sfDir).collect()
    assert(r.length == 1)
    // naive replay: same support-2 basket-capped pairs, brute triangles
    val items = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val byOrder = items.groupBy(_._1).filter(_._2.length <= 7)
    val pairCnt = scala.collection.mutable.Map.empty[(Long, Long), Int]
    byOrder.values.foreach { rows =>
      val ps = rows.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length)
        pairCnt((ps(i), ps(j))) = pairCnt.getOrElse((ps(i), ps(j)), 0) + 1
    }
    val edges = pairCnt.filter(_._2 >= 2).keys.toSet
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      .toMap.withDefaultValue(Set.empty[Long])
    val verts = edges.flatMap(e => Seq(e._1, e._2))
    var tri = 0L
    edges.foreach { case (u, v) =>
      tri += (adj(u) & adj(v)).size // w > v > u by construction
    }
    val degs = verts.toSeq.map(v =>
      edges.count(e => e._1 == v || e._2 == v).toLong)
    val wedges = degs.map(dg => dg * (dg - 1) / 2).sum
    assert(r(0).getAs[Long]("n_vertices") == verts.size)
    assert(r(0).getAs[Long]("n_edges") == edges.size)
    assert(r(0).getAs[Long]("n_wedges") == wedges)
    assert(r(0).getAs[Long]("n_triangles") == tri, s"triangles")
    assert(r(0).getAs[Long]("transitivity_bp") ==
      (if (wedges == 0) 0L else 3 * tri * 10000 / wedges))
    assert(tri > 0, "no triangles exercised in the fixture graph")
  }

  // Every broadcast / co-partitioned twin sits under its base query's
  // oracle: the join strategy must not change a single emitted integer.
  // Both sides order by the same key, so the row sequences compare
  // directly. (label, base key, twin key, plan fragment the twin keeps)
  Seq(
    ("op176b (hash-partitioned ranks)", "op176_pagerank",
      "op176b_pagerank_partitioned", Some("Exchange hashpartitioning")),
    ("op194b (broadcast degree attach)", "op194_triangles",
      "op194b_triangles_broadcast", None),
    ("op215b (co-partitioned degree attach)", "op215_assortativity",
      "op215b_assortativity_partitioned", None),
    ("op217b (co-partitioned scores)", "op217_hits",
      "op217b_hits_partitioned", None),
    ("op226b (co-partitioned ranks)", "op226_rwr",
      "op226b_rwr_partitioned", None),
    ("op300b (co-partitioned sweeps)", "op300_louvain",
      "op300b_louvain_partitioned", None),
    ("op301b (co-partitioned sweeps)", "op301_louvain_two_level",
      "op301b_louvain_two_level_partitioned", None)
  ).foreach { case (label, base, twin, planHas) =>
    test(s"$label emits exactly ${base.takeWhile(_ != '_')}'s integers") {
      val want = SeqGraphQueries.defs(base)(spark, sfDir).collect().toSeq
      val twinDf = SeqGraphQueries.defs(twin)(spark, sfDir)
      assert(want.nonEmpty)
      assert(twinDf.collect().toSeq == want)
      // the partitioned spelling keeps its promise: the rank side meets
      // the pinned edge layout through hash exchanges
      planHas.foreach(frag =>
        assert(twinDf.queryExecution.executedPlan.toString.contains(frag),
          s"$twin lost its $frag"))
    }
  }

  test("op202: k-core peel matches a driver-side replay and reaches fixpoint") {
    val got = SeqGraphQueries.op202KCore(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // rebuild the op194 support-pruned co-purchase graph driver-side
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).filter(_._2.length <= 7)
    val pairCnt = scala.collection.mutable.Map.empty[(Long, Long), Int]
    byOrder.values.foreach { rows =>
      val parts = rows.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        pairCnt((parts(i), parts(j))) =
          pairCnt.getOrElse((parts(i), parts(j)), 0) + 1
    }
    val und = pairCnt.filter(_._2 >= 2).keys
      .flatMap(e => Seq(e, (e._2, e._1))).toSet
    var alive = und.map(_._1)
    val want = (1 to 10).map { r =>
      val deg = und.toSeq
        .filter(e => alive(e._1) && alive(e._2))
        .groupBy(_._1).view.mapValues(_.size).toMap
      val next = alive.filter(v => deg.getOrElse(v, 0) >= 3)
      val row = (r.toLong, alive.size.toLong, next.size.toLong,
        (alive.size - next.size).toLong)
      alive = next
      row
    }
    assert(got.toSeq == want)
    // convergence is IN-BAND: the last unrolled round removes nothing,
    // so the emitted table proves the peel reached the true 3-core
    assert(got.last._4 == 0L, s"peel did not converge: ${got.last}")
    assert(got.last._3 > 0L, "fixture 3-core is empty — nothing exercised")
    // the core is genuinely stable: every surviving vertex keeps
    // degree >= 3 inside the core
    val coreDeg = und.toSeq.filter(e => alive(e._1) && alive(e._2))
      .groupBy(_._1).view.mapValues(_.size)
    assert(coreDeg.forall(_._2 >= 3))
  }

  /** Driver-side rebuild of the op194 support-pruned undirected graph. */
  private def fixtureGraph(): Set[(Long, Long)] = {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).filter(_._2.length <= 7)
    val pairCnt = scala.collection.mutable.Map.empty[(Long, Long), Int]
    byOrder.values.foreach { rows =>
      val parts = rows.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        pairCnt((parts(i), parts(j))) =
          pairCnt.getOrElse((parts(i), parts(j)), 0) + 1
    }
    pairCnt.filter(_._2 >= 2).keys
      .flatMap(e => Seq(e, (e._2, e._1))).toSet
  }

  test("op208: components equal a driver-side union-find partition") {
    val got = SeqGraphQueries.op208ConnectedComponents(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("comp"), r.getAs[Long]("n_vertices"),
        r.getAs[Long]("min_v"), r.getAs[Long]("max_v"))).sortBy(_._1)
    val und = fixtureGraph()
    // union-find over the same edges — a third algorithm (after the
    // Spark hash-min propagation and the oracle's transitive closure)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    und.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = und.map(_._1)
    val comps = verts.groupBy(find)
    val want = comps.toSeq.map { case (_, vs) =>
      (vs.min, vs.size.toLong, vs.min, vs.max)
    }.sortBy(_._1)
    assert(got.toSeq == want)
    // component id is its minimum member (in-band self-check holds)
    assert(got.forall(r => r._1 == r._3))
    // partition covers every vertex exactly once
    assert(got.map(_._2).sum == verts.size.toLong)
  }

  test("op209: hop histogram equals a driver-side BFS; cap reported") {
    val got = SeqGraphQueries.op209BfsHops(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("dist"), r.getAs[Long]("n_vertices")))
      .sortBy(_._1)
    val und = fixtureGraph()
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val verts = und.map(_._1)
    val dist = scala.collection.mutable.Map.empty[Long, Long]
    var frontier = verts.filter(_ % 97 == 0)
    frontier.foreach(v => dist(v) = 0L)
    var hop = 0L
    while (frontier.nonEmpty && hop < 12) {
      hop += 1
      val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
        .filterNot(dist.contains)
      next.foreach(v => dist(v) = hop)
      frontier = next
    }
    val hist = dist.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val unreach = verts.size.toLong - dist.size.toLong
    val want = (hist.toSeq ++
      (if (unreach > 0) Seq(-1L -> unreach) else Nil)).sortBy(_._1)
    assert(got.toSeq == want)
    // sources exist and the -1 bucket is reported, never dropped
    assert(got.exists(_._1 == 0L))
    assert(got.map(_._2).sum == verts.size.toLong)
  }

  test("op215: knn(k) curve equals the naive neighbor-degree replay") {
    val got = SeqGraphQueries.op215Assortativity(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("deg"), r.getAs[Long]("n_vertices"),
        r.getAs[Long]("n_endpoints"), r.getAs[Long]("sum_nbr_deg"),
        r.getAs[Long]("avg_nbr_deg_bp"))).sortBy(_._1)
    val und = fixtureGraph()
    val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val want = und.toSeq.map { case (u, v) => (deg(u), deg(v)) }
      .groupBy(_._1).toSeq.map { case (k, es) =>
        val sum = es.map(_._2).sum
        (k, deg.values.count(_ == k).toLong, es.size.toLong, sum,
          sum * 10000L / es.size)
      }.sortBy(_._1)
    assert(got.toSeq == want)
    // endpoint accounting: Σ n_endpoints = |directed edges|
    assert(got.map(_._3).sum == und.size.toLong)
  }

  test("op217: authorities equal an exact integer HITS replay") {
    val got = SeqGraphQueries.op217Hits(spark, sfDir).collect()
      .map(r => r.getAs[Long]("p_partkey") ->
        (r.getAs[Long]("auth_ppb"), r.getAs[Long]("deg"))).toMap
    val edges = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .select("o_custkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val scale = 1000000000L
    var h = edges.map(_._1).distinct.map(_ -> scale).toMap
    var a = Map.empty[Long, Long]
    def renorm(m: Map[Long, Long]): Map[Long, Long] = {
      val q = math.max(m.values.sum / scale, 1L)
      m.view.mapValues(_ / q).toMap
    }
    (1 to 2).foreach { _ =>
      a = renorm(edges.groupBy(_._2).view
        .mapValues(_.map(e => h(e._1)).sum).toMap)
      h = renorm(edges.groupBy(_._1).view
        .mapValues(_.map(e => a(e._2)).sum).toMap)
    }
    val deg = edges.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(got == a.map { case (p, v) => p -> (v, deg(p)) })
    // mass is conserved within the division-first renorm's bounds:
    // q = max(tot div S, 1) floors per vertex (≤ |V| loss) and when
    // tot div S == 1 the pass is an identity, leaving tot < 2S
    val tot = got.values.map(_._1).sum
    assert(tot < 2 * scale && tot >= scale - got.size.toLong * 2,
      s"authority mass $tot vs $scale")
  }

  test("op218: distances equal a driver-side Bellman-Ford replay") {
    val got = SeqGraphQueries.op218WeightedSssp(spark, sfDir).collect()
      .map(r => r.getAs[Long]("v") -> r.getAs[Long]("dist")).toMap
    // weighted rebuild (fixtureGraph drops supports)
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).filter(_._2.length <= 7)
    val pairCnt = scala.collection.mutable.Map.empty[(Long, Long), Long]
    byOrder.values.foreach { rows =>
      val parts = rows.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        pairCnt((parts(i), parts(j))) =
          pairCnt.getOrElse((parts(i), parts(j)), 0L) + 1
    }
    val wund = pairCnt.filter(_._2 >= 2).toSeq.flatMap {
      case ((x, y), c) => Seq((x, y, 10000L / c), (y, x, 10000L / c))
    }
    var dist = wund.map(_._1).distinct.filter(_ % 97 == 0)
      .map(_ -> 0L).toMap
    (1 to 6).foreach { _ =>
      val relax = wund.flatMap { case (u, v, w) =>
        dist.get(u).map(du => v -> (du + w)) }
      dist = (dist.toSeq ++ relax).groupBy(_._1).view
        .mapValues(_.map(_._2).min).toMap
    }
    assert(got == dist)
    // sources stay at 0; every emitted distance is positive elsewhere
    assert(got.filter(_._1 % 97 == 0).values.forall(_ == 0L))
    assert(got.exists(_._2 > 0L))
  }

  test("op221: brand modularity terms replay exactly; e_in accounting holds") {
    val got = SeqGraphQueries.op221Modularity(spark, sfDir).collect()
      .map(r => r.getAs[String]("p_brand") ->
        (r.getAs[Long]("n_vertices"), r.getAs[Long]("e_in"),
          r.getAs[Long]("d_c"), r.getAs[Long]("frac_in_ppb"),
          r.getAs[Long]("exp_ppb"), r.getAs[Long]("contrib_ppb"))).toMap
    val und = fixtureGraph()
    val pairs = und.filter(e => e._1 < e._2)
    val brand = Tables.part(spark, sfDir)
      .select("p_partkey", "p_brand").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val eTot = pairs.size.toLong
    val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val byBrand = deg.keys.groupBy(brand)
    val want = byBrand.map { case (b, vs) =>
      // vs is a Set — map through a Seq so equal degrees don't collapse
      val dC = vs.toSeq.map(deg).sum
      val eIn = pairs.count(e => brand(e._1) == b && brand(e._2) == b)
        .toLong
      val frac = eIn * 1000000000L / eTot
      val half = dC * 1000000000L / (2 * eTot)
      val exp = half * half / 1000000000L
      b -> (vs.size.toLong, eIn, dC, frac, exp, frac - exp)
    }
    assert(got == want)
    // within-brand edges never exceed the total; both signs of
    // contribution can occur (the score genuinely discriminates)
    assert(got.values.map(_._2).sum <= eTot)
  }

  test("op224: exact-2-hop counts equal the naive set replay") {
    val got = SeqGraphQueries.op224TwoHopFeatures(spark, sfDir).collect()
      .map(r => r.getAs[Long]("p_partkey") ->
        (r.getAs[Long]("n_1hop"), r.getAs[Long]("n_2hop"))).toMap
    val und = fixtureGraph()
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = adj.map { case (v, n1) =>
      val two = n1.flatMap(adj(_)) - v -- n1
      v -> (n1.size.toLong, two.size.toLong)
    }
    assert(got == want)
    // exact-2 semantics genuinely excludes 1-hop: some vertex has a
    // wedge endpoint that is ALSO adjacent (else the anti-join is inert)
    assert(adj.exists { case (v, n1) =>
      n1.flatMap(adj(_)).exists(w => w != v && n1(w)) })
  }

  test("op225: per-vertex triangles and lcc equal the naive replay") {
    val got = SeqGraphQueries.op225ClusteringCoeff(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("p_partkey") ->
        (r.getAs[Long]("deg"), r.getAs[Long]("tri"),
          r.getAs[Long]("lcc_bp"))).toMap
    val und = fixtureGraph()
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = adj.map { case (v, ns) =>
      val nsSeq = ns.toSeq.sorted
      var tri = 0L
      for (i <- nsSeq.indices; j <- (i + 1) until nsSeq.length)
        if (adj(nsSeq(i))(nsSeq(j))) tri += 1
      val deg = ns.size.toLong
      val lcc = if (deg < 2) 0L else 2 * tri * 10000 / (deg * (deg - 1))
      v -> (deg, tri, lcc)
    }
    assert(got == want)
    // triangle mass: each triangle credits exactly 3 corners
    assert(got.values.map(_._2).sum % 3 == 0)
    assert(got.values.exists(_._2 > 0), "no triangles — inert")
    assert(got.values.forall(_._3 <= 10000L))
  }

  test("op226: RWR mass stays on the seeds' 5-hop ball; seeds keep the base") {
    val got = SeqGraphQueries.op226RandomWalkRestart(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("p_partkey") -> r.getAs[Long]("rwr_ppb"))
      .toMap
    val und = fixtureGraph()
    // driver BFS from the seed set (op209's semantics, cap 5 = iters)
    val adj = und.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val verts = und.map(_._1)
    val seeds = verts.filter(_ % 97 == 0)
    var ball = seeds
    var frontier = seeds
    (1 to 5).foreach { _ =>
      frontier = frontier.flatMap(v => adj(v)) -- ball
      ball = ball ++ frontier
    }
    val nS = seeds.size.toLong
    assert(nS > 0)
    // seeds always keep at least the restart base
    seeds.foreach(v => assert(got(v) >= 150000000L / nS, s"seed $v"))
    // positive mass only within 5 hops of a seed (floor loss may zero
    // the far fringe, never invent mass outside the ball)
    got.filter(_._2 > 0).keys.foreach(v =>
      assert(ball(v), s"mass outside the 5-hop ball at $v"))
    // total mass bounded by the scale
    assert(got.values.sum <= 1000000000L)
    // the walk genuinely spreads beyond the seeds
    assert(got.exists { case (v, r) => r > 0 && v % 97 != 0 })
  }

  test("op213: top-3 partners match the naive Jaccard ranking") {
    val got = SeqGraphQueries.op213JaccardRecommend(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("p_partkey"), r.getAs[Long]("rank"),
        r.getAs[Long]("partner"), r.getAs[Long]("jaccard_bp")))
    // naive basket-set replay
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val small = li.groupBy(_._1).filter(_._2.length <= 7)
    val baskets = small.values.flatten
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val co = scala.collection.mutable.Map.empty[(Long, Long), Long]
    small.values.foreach { rows =>
      val parts = rows.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        co((parts(i), parts(j))) = co.getOrElse((parts(i), parts(j)), 0L) + 1
    }
    val sym = co.filter(_._2 >= 2).toSeq
      .flatMap { case ((a, b), c) => Seq((a, b, c), (b, a, c)) }
    val want = sym.groupBy(_._1).flatMap { case (p, cands) =>
      cands.map { case (_, q, c) =>
        val j = c * 10000L / (baskets(p).size + baskets(q).size - c)
        (q, c, j)
      }.sortBy(x => (-x._3, x._1)).take(3).zipWithIndex
        .map { case ((q, _, j), i) => (p, i + 1L, q, j) }
    }.toSeq.sortBy(x => (x._1, x._2))
    assert(got.toSeq == want)
    // Jaccard in [0, 10000] and ranks are dense 1..k per part
    assert(got.forall(r => r._4 >= 0 && r._4 <= 10000))
    got.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq)
    }
  }

  test("op263: negatives replay the hash draws and never hit an edge") {
    val got = graft.queries.SeqGraphQueries
      .defs("op263_negative_sampling")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // rebuild the graph and replay the draw in the driver
    val pairs = {
      val li = Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_partkey").distinct()
      val small = li.groupBy("l_orderkey").agg(count(lit(1)).as("sz"))
        .where(col("sz") <= 7).select("l_orderkey")
      li.join(small, "l_orderkey").as("a")
        .join(li.join(small, "l_orderkey").as("b"), "l_orderkey")
        .where(col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
        .agg(count(lit(1)).as("supp")).where(col("supp") >= 2)
        .select("p1", "p2").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val edgeSet = pairs.flatMap(p => Seq(p, (p._2, p._1))).toSet
    val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val rnOf = verts.zipWithIndex.map { case (v, i) => (i + 1L, v) }.toMap
    def h60(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15), 16)
    val want = verts.flatMap { src =>
      val negs = (0L until 8L).map { j =>
        rnOf(h60(s"neg|$src|$j") % verts.length + 1)
      }.filter(nd => nd != src && !edgeSet((src, nd))).take(3)
      negs.zipWithIndex.map { case (nd, i) => (src, i + 1L, nd) }
    }
    assert(got.toSeq == want.toSeq)
    // structural guarantees: never a true edge, never self, <= 3/src
    assert(got.forall { case (s0, _, n0) =>
      s0 != n0 && !edgeSet((s0, n0)) })
    assert(got.groupBy(_._1).values.forall(_.length <= 3))
  }

  test("op267: labels replay a driver-side synchronous LPA exactly") {
    val got = graft.queries.SeqGraphQueries
      .defs("op267_label_prop")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val pairs = {
      val li = Tables.lineitem(spark, sfDir)
        .select("l_orderkey", "l_partkey").distinct()
      val small = li.groupBy("l_orderkey").agg(count(lit(1)).as("sz"))
        .where(col("sz") <= 7).select("l_orderkey")
      li.join(small, "l_orderkey").as("a")
        .join(li.join(small, "l_orderkey").as("b"), "l_orderkey")
        .where(col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
        .agg(count(lit(1)).as("supp")).where(col("supp") >= 2)
        .select("p1", "p2").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val nbrs = pairs.flatMap(p => Seq(p, (p._2, p._1)))
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var lab = nbrs.keys.map(v => v -> v).toMap
    (1 to 4).foreach { _ =>
      lab = nbrs.map { case (v, ns) =>
        // most frequent neighbor label, ties -> smallest label
        v -> ns.map(lab).groupBy(identity)
          .map { case (l, xs) => (l, xs.size) }
          .minBy { case (l, c) => (-c, l) }._1
      }
    }
    val want = lab.groupBy(_._2).toSeq.map { case (l, m) =>
      val vs = m.keys
      (l, m.size.toLong, vs.min, vs.max)
    }.sortBy(_._1)
    assert(got.toSeq == want)
    // communities genuinely merged: fewer labels than vertices
    assert(got.length < lab.size)
    assert(got.map(_._2).sum == lab.size, "labels must partition vertices")
  }

  test("op208b: star contraction beats hash-min on a planted chain " +
    "and emits the identical partition") {
    import spark.implicits._
    // a 40-link chain (diameter 40): hash-min needs ~|chain| barrier
    // rounds (the min label travels one hop per round); large-star/
    // small-star contracts it in O(log^2 n)
    val n = 41L
    val chain = (1L until n).map(i => (i, i + 1)).toDF("p1", "p2")
    val und = chain.union(chain.select(col("p2").as("p1"),
      col("p1").as("p2")))
    val canon = chain.select(col("p2").as("u"), col("p1").as("v"))
    val (hmLabels, hmRounds) = graft.functions.Components.minLabels(
      und.toDF("src", "dst"), und.select(col("p1").as("v")).distinct(),
      jumps = 0, 100)
    val (stars, starRounds) = SeqGraphQueries.starContract(canon, 100)
    // the planted chain is one component rooted at vertex 1
    val hm = hmLabels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(hm.length.toLong == n && hm.forall(_._2 == 1L),
      s"hash-min must label all $n vertices with 1")
    val st = stars.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(st.length.toLong == n - 1 && st.forall(_._2 == 1L),
      "star forest must be one star rooted at 1")
    assert(st.map(_._1).sorted.toSeq == (2L to n).toSeq,
      "every non-root vertex points at the root exactly once")
    // THE scale claim: round count O(log^2 n) vs O(diameter)
    assert(starRounds < hmRounds,
      s"star contraction ($starRounds rounds) must beat hash-min " +
        s"($hmRounds rounds) on a diameter-${n - 1} chain")
    assert(starRounds <= 8, s"expected O(log^2) rounds, got $starRounds")
    assert(hmRounds >= 40, s"hash-min should need ~diameter rounds, " +
      s"got $hmRounds")
  }

  test("op293: k-core equals a driver-side peel and reaches fixpoint in bound") {
    val got = SeqGraphQueries.op293KCore(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent replay: peel the collected edge list to ITS fixpoint
    // (no round cap) — the op's bounded unroll must land on the same set
    val k = SeqGraphQueries.kCoreK
    var edges = SeqGraphQueries.supportPrunedUnd(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    var rounds = 0
    var done = false
    while (!done) {
      val deg = edges.toSeq.groupBy(_._1).map { case (v, e) =>
        v -> e.size
      }
      val keep = deg.collect { case (v, c) if c >= k => v }.toSet
      val next = edges.filter { case (a, b) => keep(a) && keep(b) }
      done = next == edges
      edges = next
      rounds += 1
    }
    val want = edges.toSeq.groupBy(_._1)
      .map { case (v, e) => v -> e.size.toLong }
    assert(got == want)
    assert(got.values.forall(_ >= k), "a core vertex below degree k")
    // the contract bound must cover the fixture's true peel depth
    assert(rounds <= SeqGraphQueries.kCoreMaxRounds,
      s"fixture needs $rounds peel rounds > bound")
    assert(got.nonEmpty, "degenerate fixture: empty k-core")
  }

  test("op298: DBSCAN equals an uncapped driver-side reference") {
    // the oracle gate's SF: sf0.001's ~200 purchase points are all
    // noise at the contract (eps, minPts) — no roles to exercise there
    val dbDir = "/root/testdata/sf0.01"
    val got = SeqGraphQueries.op298Dbscan(spark, dbDir).collect()
      .map(r => (r.getLong(0),
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getLong(3))))
      .toMap
    // independent replay from the raw events: exact neighbor counts,
    // roles, and EXACT components (union-find — no round cap), so
    // equality also proves the op's pointer-jumped rounds converged
    // within the contract bound on this fixture
    val eps = SeqGraphQueries.dbscanEps
    val minPts = SeqGraphQueries.dbscanMinPts
    val pts = graft.sources.Tables.events(spark, dbDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"),
        (hour(col("ts")) * 60 + minute(col("ts"))).cast("bigint"),
        floor(col("value")).cast("bigint"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def close(a: (Long, Long, Long), b: (Long, Long, Long)): Boolean = {
      val (dx, dy) = (a._2 - b._2, a._3 - b._3)
      dx * dx + dy * dy <= eps * eps
    }
    val nbrs = pts.map(a => a._1 -> pts.filter(b => close(a, b))).toMap
    val core = pts.filter(p => nbrs(p._1).size >= minPts).map(_._1).toSet
    // union-find over core-core eps-edges
    val parent = scala.collection.mutable.Map(core.map(v => v -> v).toSeq: _*)
    def find(v: Long): Long = {
      var r = v
      while (parent(r) != r) r = parent(r)
      r
    }
    for (a <- pts if core(a._1); b <- nbrs(a._1)
         if core(b._1) && b._1 != a._1) {
      val (ra, rb) = (find(a._1), find(b._1))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = core.map(v => v -> find(v)).toMap
    val want = pts.map { p =>
      val n = nbrs(p._1).map(_._1)
      val coreN = n.filter(v => core(v) && v != p._1)
      val (role, cl) =
        if (core(p._1)) ("core", comp(p._1))
        else if (coreN.nonEmpty) ("border", coreN.map(comp).min)
        else ("noise", -1L)
      p._1 -> ((role, cl, n.size.toLong))
    }.toMap
    assert(got == want)
    val roles = got.values.map(_._1).toSet
    assert(roles == Set("core", "border", "noise"),
      s"fixture should exercise all three roles, got $roles")
    val nClusters = got.values.collect { case ("core", c, _) => c }.toSet.size
    assert(nClusters >= 2, s"degenerate fixture: $nClusters cluster(s)")
  }

  test("op299: streamed DBSCAN classification agrees with the op298 model") {
    val dbDir = "/root/testdata/sf0.01"
    val eps = SeqGraphQueries.dbscanEps
    // the model as op298 publishes it: core points with labels, plus
    // their coordinates from the raw events
    val coords = graft.sources.Tables.events(spark, dbDir)
      .select(col("event_id"),
        (hour(col("ts")) * 60 + minute(col("ts"))).cast("bigint"),
        floor(col("value")).cast("bigint"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val model = SeqGraphQueries.op298Dbscan(spark, dbDir).collect()
      .filter(_.getString(1) == "core")
      .map(r => (coords(r.getLong(0)), r.getLong(2)))
    val got = SeqGraphQueries.op299StreamDbscan(spark, dbDir).collect()
      .map(r => (r.getLong(0),
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getLong(3))))
      .toMap
    // driver-side classification of every view event against that model
    val want = graft.sources.Tables.events(spark, dbDir)
      .filter(col("event_type") === "view")
      .select(col("event_id"),
        (hour(col("ts")) * 60 + minute(col("ts"))).cast("bigint"),
        floor(col("value")).cast("bigint"))
      .collect().map { r =>
        val (pid, qx, qy) = (r.getLong(0), r.getLong(1), r.getLong(2))
        val close = model.filter { case ((x, y), _) =>
          (qx - x) * (qx - x) + (qy - y) * (qy - y) <= eps * eps
        }
        val (role, cl) =
          if (close.nonEmpty) ("cluster", close.map(_._2).min)
          else ("noise", -1L)
        pid -> ((role, cl, close.size.toLong))
      }.toMap
    assert(got == want)
    assert(got.values.exists(_._1 == "cluster") &&
      got.values.exists(_._1 == "noise"),
      "fixture should yield both assigned and noise arrivals")
  }

  test("op300: Louvain sweeps match a driver replay and raise modularity") {
    val got = SeqGraphQueries.op300Louvain(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = SeqGraphQueries.basketCliqueUnd(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.groupBy(_._1).map { case (v, e) => v -> e.map(_._2) }
    val k = adj.map { case (v, n) => v -> n.size.toLong }
    val m2 = k.values.sum
    // independent replay of the synchronous sweeps (exact integers)
    var c: Map[Long, Long] = k.keys.map(v => v -> v).toMap
    for (_ <- 1 to SeqGraphQueries.louvainSweeps) {
      val stot = c.groupMapReduce(_._2)(p => k(p._1))(_ + _)
      c = adj.map { case (v, nbrs) =>
        val kuc = nbrs.groupBy(c).map { case (lb, e) => lb -> e.size.toLong }
        val cands = (kuc.keySet + c(v)).toSeq.sorted
        v -> cands.maxBy { lb =>
          val st = stot(lb) - (if (c(v) == lb) k(v) else 0L)
          // maxBy keeps the FIRST max over the sorted candidates =
          // (score desc, lab asc), the op's exact tiebreak
          (m2 * kuc.getOrElse(lb, 0L) - k(v) * st, -lb)
        }
      }
    }
    assert(got == c)
    // modularity must RISE from the singleton partition (×(2m)² integer
    // form: Σ_C [2m·in_C·2 − stot_C²] … singletons have in = 0)
    def q2m2(part: Map[Long, Long]): Long = {
      val inn = edges.filter { case (u, v) => part(u) == part(v) }.size.toLong
      val stot = part.groupMapReduce(_._2)(p => k(p._1))(_ + _)
      2L * m2 * inn - stot.values.map(s => s * s).sum
    }
    val q0 = q2m2(k.keys.map(v => v -> v).toMap)
    val qF = q2m2(c)
    info(s"2m^2-scaled modularity: init $q0 -> swept $qF")
    assert(qF > q0, s"modularity did not rise: $q0 -> $qF")
    assert(c.values.toSet.size < k.size,
      "sweeps should merge at least some singleton communities")

    // ---- op301: contraction + downward weighted sweeps on top of c ----
    val gotL2 = SeqGraphQueries.op301LouvainTwoLevel(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = edges.groupMapReduce(e => (c(e._1), c(e._2)))(_ => 1L)(_ + _)
    val kk = w.groupMapReduce(_._1._1)(_._2)(_ + _)
    var c2: Map[Long, Long] = kk.keys.map(s => s -> s).toMap
    for (_ <- 1 to SeqGraphQueries.louvainContractedSweeps) {
      val stot = c2.groupMapReduce(_._2)(p => kk(p._1))(_ + _)
      val nbrW = w.toSeq.collect { case ((a, b), wt) if a != b =>
        (a, c2(b), wt)
      }.groupMapReduce(t => (t._1, t._2))(_._3)(_ + _)
      c2 = kk.keys.map { sv =>
        def score(g: Long): Long =
          m2 * nbrW.getOrElse((sv, g), 0L) -
            kk(sv) * (stot(g) - (if (c2(sv) == g) kk(sv) else 0L))
        val cands = (nbrW.keySet.collect { case (s2, g) if s2 == sv => g } +
          c2(sv)).filter(_ <= c2(sv))
        sv -> cands.toSeq.sorted.maxBy(g => (score(g), -g))
      }.toMap
    }
    val wantL2 = c.map { case (v, c1) => v -> c2(c1) }
    assert(gotL2 == wantL2)
    val qL2 = q2m2(wantL2)
    info(s"2m^2-scaled modularity: one-level $qF -> two-level $qL2")
    assert(qL2 > qF, s"contracted sweeps did not raise modularity: $qF -> $qL2")
  }

  test("op302: streamed basket vote agrees with a driver-side vote") {
    val got = SeqGraphQueries.op302StreamBasketCommunity(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val pc = SeqGraphQueries.op301LouvainTwoLevel(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lines = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // line-weighted vote over modeled parts only; winner by
    // (votes desc, community asc); unmodeled-only orders unassigned
    val want = lines.filter(l => pc.contains(l._2)).groupBy(_._1)
      .map { case (o, ls) =>
        val votes = ls.groupBy(l => pc(l._2))
          .map { case (cm, g) => cm -> g.size.toLong }
        val (cm, v) = votes.minBy { case (c2, n) => (-n, c2) }
        o -> ((cm, v, votes.values.sum))
      }
    assert(got == want)
    assert(got.nonEmpty, "degenerate fixture: no basket got a community")
    assert(got.values.exists(t => t._2 < t._3),
      "fixture should include at least one non-unanimous vote")
  }

  test("ModeAgg: partition-order independent, ties break to the smallest value") {
    import graft.functions.ModeAgg
    import spark.implicits._
    // group 1: clear winner; group 2: 2-2 tie -> smaller value wins;
    // group 3: all singletons -> smallest value
    val rows = Seq((1L, 7L), (1L, 7L), (1L, 3L),
      (2L, 9L), (2L, 4L), (2L, 9L), (2L, 4L),
      (3L, 8L), (3L, 5L), (3L, 6L))
    val expected = Map(1L -> (7L, 2L, 3L), 2L -> (4L, 2L, 4L),
      3L -> (5L, 1L, 3L))
    // the fold must not depend on row order or partitioning: run the
    // same aggregation over several shuffled/partitioned layouts
    Seq(1, 3, 7).foreach { parts =>
      val got = rows.reverse.toDF("g", "v").repartition(parts)
        .groupBy(col("g")).agg(ModeAgg.mode(col("v")).as("m"))
        .select(col("g"), col("m.value"), col("m.votes"), col("m.total"))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(got == expected, s"parts=$parts")
    }
  }

  test("ModeAgg: global aggregation over an empty frame yields null, not a crash") {
    import graft.functions.ModeAgg
    import spark.implicits._
    // the zero buffer reaches finish() only on this path (grouped
    // aggregations always have >= 1 row per group) — it must produce
    // a null ModeOut rather than minBy-throw inside the executor
    val got = Seq.empty[Long].toDF("v")
      .agg(ModeAgg.mode(col("v")).as("m")).collect()
    assert(got.length == 1 && got(0).isNullAt(0),
      s"empty global mode should be a single null row, got ${got.toSeq}")
  }
}
