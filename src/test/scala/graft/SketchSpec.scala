package graft

import org.apache.spark.sql.functions._

import graft.queries.SketchQueries
import graft.sources.Tables

/** Semantics of the sketch/sequence pack (op165–op168) against naive
  * driver-side replays. */
class SketchSpec extends SparkSpec {

  test("op165: KMV estimate lands within 3/sqrt(k) of the exact count") {
    val r = SketchQueries.op165KmvDistinct(spark, sfDir).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val exact = row.getAs[Long]("n_exact").toDouble
      val est = row.getAs[Long]("kmv_est").toDouble
      // KMV relative error ~1/sqrt(k); 3σ with k=64 → ±37.5%
      assert(math.abs(est - exact) / exact <= 0.375,
        s"lang ${row.getString(0)}: est $est vs exact $exact")
    }
  }

  test("op166: transition counts sum to events-1 per active user total") {
    val r = SketchQueries.op166MarkovTransitions(spark, sfDir).collect()
    val totalTrans = r.map(_.getAs[Long]("n")).sum
    val ev = Tables.events(spark, sfDir)
    val want = ev.count() - ev.select("user_id").distinct().count()
    assert(totalTrans == want)
    // per-source probabilities sum to ~10000 (floor-division slack < 5)
    r.groupBy(_.getAs[String]("prev_type")).foreach { case (_, rows) =>
      val s = rows.map(_.getAs[Long]("prob_bp")).sum
      assert(s > 10000 - rows.length && s <= 10000)
    }
  }

  test("op167: trailing equals the sum of the previous 7 day indices") {
    val r = SketchQueries.op167SpikeDetect(spark, sfDir).collect()
    val byKey = r.map(x => (x.getAs[String]("event_type"),
      x.getAs[Long]("day_idx")) -> x.getAs[Long]("n")).toMap
    r.foreach { row =>
      val t = row.getAs[String]("event_type")
      val d = row.getAs[Long]("day_idx")
      val want = (d - 7 to d - 1).flatMap(i => byKey.get((t, i))).sum
      assert(row.getAs[Long]("trailing") == want)
    }
  }

  test("op169: stream-maintained CMS grid is bit-equal to one-shot") {
    val state = tempDir("graft_sketchspec_").toString
    val streamed = graft.streaming.SketchStream
      .maintainedCounters(spark, sfDir, 4, 64, state)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // the serving merge materializes the (tiny) grid and RECLAIMS the
    // state dir — the r11-advice temp-dir leak is pinned closed here
    assert(!new java.io.File(state).exists(),
      "state dir must be deleted after the serving merge")
    val oneShot = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("w"))
      .agg(graft.functions.CountMin.sketch(4, 64)(col("w")).as("sk"))
      .selectExpr("posexplode(sk)")
      .collect().map(r => (r.getInt(0).toLong / 64,
        r.getInt(0).toLong % 64) -> r.getLong(1)).toMap
      .filter(_._2 > 0)
    assert(streamed.filter(_._2 > 0) == oneShot)
  }

  test("op170: pair counts match a driver-side basket fold") {
    val got = SketchQueries.op170Copurchase(spark, sfDir).collect()
      .map(x => (x.getAs[Long]("p1"), x.getAs[Long]("p2")) ->
        x.getAs[Long]("n")).toMap
    val baskets = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toSeq
      .groupBy(_._1).values.map(_.map(_._2).sorted)
    val want = baskets.flatMap(parts =>
      for (i <- parts.indices; j <- i + 1 until parts.length)
        yield (parts(i), parts(j)))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 3L).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("op171: bounds are the exact nearest-rank percentiles per lang") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "n_chars").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    val byLang = docs.groupBy(_._2)
    val wantBounds = byLang.view.mapValues { rows =>
      val sorted = rows.sortBy(x => (x._3, x._1)).map(_._3)
      val n = sorted.length
      val lo = sorted((5 * n + 99) / 100 - 1)
      val hi = sorted((95 * n + 99) / 100 - 1)
      (lo, hi)
    }.toMap
    val r = SketchQueries.op171Winsorize(spark, sfDir).collect()
    assert(r.length == docs.length)
    r.foreach { row =>
      val (lo, hi) = wantBounds(row.getAs[String]("lang"))
      val nc = row.getAs[Long]("n_chars")
      val clamped = row.getAs[Long]("clamped")
      assert(clamped == math.min(math.max(nc, lo), hi))
      assert(row.getAs[Long]("clipped") == (if (clamped != nc) 1L else 0L))
    }
    assert(r.exists(_.getAs[Long]("clipped") == 1L), "nothing clipped")
  }

  test("op172: CMS join-size estimate is one-sided and exact matches") {
    val r = SketchQueries.op172JoinSizeCms(spark, sfDir).collect()
    assert(r.length == 1)
    val exact = r(0).getAs[Long]("exact_size")
    val est = r(0).getAs[Long]("est_size")
    val want = Tables.lineitem(spark, sfDir)
      .groupBy("l_partkey").count().collect()
      .map(x => x.getLong(1) * x.getLong(1)).sum
    assert(exact == want)
    assert(est >= exact, "CMS inner product must overestimate")
  }

  test("op168: skyline equals the naive n-squared dominance replay") {
    val li = Tables.lineitem(spark, sfDir).select(
      col("l_orderkey"), col("l_linenumber").cast("long"),
      round(col("l_extendedprice") * 100, 0).cast("long"),
      round(col("l_discount") * 10000, 0).cast("long"))
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    val naive = li.filter { case (_, _, p, dd) =>
      !li.exists { case (_, _, p2, d2) =>
        (p2 < p && d2 >= dd) || (p2 <= p && d2 > dd)
      }
    }.map(x => (x._1, x._2)).toSet
    val got = SketchQueries.op168Skyline(spark, sfDir).collect()
      .map(x => (x.getAs[Long]("l_orderkey"),
        x.getAs[Long]("l_linenumber"))).toSet
    assert(got == naive)
    assert(got.nonEmpty)
  }

  test("op204: KMV set algebra equals a full driver-side sketch replay") {
    val k = 64
    val space = 1099511627776L // 2^40
    // per-source distinct shingle h40 sets, exactly as the operator
    // hashes them (md5 hex prefix-15 → BigInt → div 2^20)
    val docs = Tables.documents(spark, sfDir)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def h40(sh: String): Long = {
      val hex = md.digest(sh.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) / 1048576L
    }
    val sets = docs.groupBy(_._1).view.mapValues { rows =>
      rows.flatMap { case (_, text) =>
        val w = text.split(" ")
        (0 until math.max(w.length - 2, 0)).map(i =>
          h40(s"${w(i)} ${w(i + 1)} ${w(i + 2)}"))
      }.toSet
    }.toMap
    val mins = sets.view.mapValues(_.toSeq.sorted.take(k)).toMap
    val want = (for {
      s1 <- sets.keys.toSeq.sorted; s2 <- sets.keys.toSeq.sorted
      if s1 < s2
    } yield {
      val (a, b) = (sets(s1), sets(s2))
      val uk = (mins(s1) ++ mins(s2)).distinct.sorted.take(k)
      val cntU = uk.length.toLong
      val m = uk.count(h =>
        mins(s1).contains(h) && mins(s2).contains(h)).toLong
      val estU = if (cntU < k) cntU
        else (k - 1).toLong * space / math.max(uk(k - 1), 1L)
      val inter = (a & b).size.toLong
      (s1, s2, a.size.toLong, b.size.toLong, inter,
        a.size + b.size - inter, cntU, m, estU,
        m * estU / math.max(cntU, 1L), m * 10000 / math.max(cntU, 1L),
        inter * 10000 / (a.size + b.size - inter))
    }).toSet
    val got = SketchQueries.op204KmvSetOps(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getLong(9), r.getLong(10),
        r.getLong(11))).toSet
    assert(got == want)
    assert(got.exists(_._5 > 0), "no overlapping pair exercised")
  }

  test("op216: anomaly flags replay the leave-one-out weekday baseline") {
    val got = SketchQueries.op216SeasonalAnomaly(spark, sfDir).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day_idx"))
        -> (r.getAs[Long]("n"), r.getAs[Long]("n_wd"),
          r.getAs[Long]("sum_wd"), r.getAs[Long]("anomaly"))).toMap
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"),
        datediff(to_date(col("ts")),
          lit("2024-01-01").cast("date")).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val daily = ev.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val base = daily.toSeq
      .groupBy { case ((t, d), _) => (t, d % 7) }
      .view.mapValues(rs => (rs.size.toLong, rs.map(_._2).sum)).toMap
    assert(got.size == daily.size)
    daily.foreach { case ((t, d), n) =>
      val (nWd, sumWd) = base((t, d % 7))
      val flag = if (nWd > 1 && n * (nWd - 1) * 10 > (sumWd - n) * 15) 1L
                 else 0L
      assert(got((t, d)) == (n, nWd, sumWd, flag), s"($t, $d)")
    }
    // the gate genuinely separates: both outcomes occur on the fixture
    assert(got.values.exists(_._4 == 1L), "no anomaly flagged — inert")
    assert(got.values.exists(_._4 == 0L))
  }

  test("op220: stream-maintained seasonal gate emits exactly op216") {
    val batch = SketchQueries.op216SeasonalAnomaly(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val stream = SketchQueries.op220StreamSeasonal(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(stream == batch)
    // the event-id split genuinely spans a (type, day) cell across
    // micro-batches — the merge path is exercised
    val cells = Tables.events(spark, sfDir)
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .cast("long"),
        col("event_id") % 4)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
    assert(cells.groupBy(_._1).values
      .exists(_.map(_._2).distinct.size > 1), "merge path inert")
  }

  test("op245: argmax predictor accuracy replays the transition fold") {
    val got = SketchQueries.op245MarkovEval(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val ev = Tables.events(spark, sfDir)
      .select("user_id", "event_type", "ts_ns", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val trans = ev.groupBy(_._1).values.flatMap { rows =>
      val sorted = rows.sortBy(r => (r._3, r._4)).map(_._2)
      sorted.zip(sorted.tail)
    }.toSeq
    val want = trans.groupBy(_._1).view.mapValues { g =>
      val byCur = g.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
      val (pred, hits) = byCur.minBy { case (c, n) => (-n, c) }
      val tot = g.size.toLong
      (pred, hits, tot, hits * 10000 / tot)
    }.toMap
    assert(got == want)
    // accuracy is a proper share: hits never exceed the state's total
    assert(got.values.forall { case (_, h, t, bp) =>
      h <= t && bp <= 10000 })
  }

  test("op241: ewma equals the naive integer recurrence replay") {
    val got = SketchQueries.op241Ewma(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val ev = Tables.events(spark, sfDir).select(
      col("event_type"),
      datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
        .cast("long"),
      round(col("value") * 100, 0).cast("long")).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    val grid = ev.groupBy(e => (e._1, e._2)).view
      .mapValues(_.map(_._3).sum).toMap
    val want = grid.keys.map(_._1).toSeq.distinct.flatMap { t =>
      val days = grid.keys.filter(_._1 == t).map(_._2).toSeq.sorted
      val ys = days.map(d => grid((t, d)))
      val ss = ys.tail.scanLeft(ys.head) { (s, y) =>
        val v = 7 * s + y
        (if (v < 0) -1L else 1L) * (math.abs(v) / 8)
      }
      days.zip(ys.zip(ss)).map { case (d, (y, s)) => (t, d) -> ((y, s)) }
    }.toMap
    assert(got == want)
    // smoothing law: the ewma's range never exceeds the raw range
    grid.keys.map(_._1).toSeq.distinct.foreach { t =>
      val raw = grid.collect { case ((`t`, _), y) => y }
      val sm = got.collect { case ((`t`, _), (_, s)) => s }
      // trunc loses < 1 per step; the worst fixed point sits 8 below
      // the raw minimum (s* = (7s* + m)/8 - 1  =>  s* = m - 8)
      assert(sm.max <= raw.max && sm.min >= raw.min - 8,
        s"ewma left the data envelope for $t")
    }
  }
}
