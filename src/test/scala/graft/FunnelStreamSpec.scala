package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{Drain, FunnelStream, StateStores}
import graft.streaming.FunnelStream.{FEv, FunnelState, StepHit, Unset}

/** op199's streaming funnel semantics: the per-user state machine must
  * replay op161's batch chain exactly under time-sliced multi-batch
  * arrival (in-slice disorder repaired by the per-batch sort), emit
  * each step at most once, and enforce the strict-> step ordering. */
class FunnelStreamSpec extends SparkSpec {

  private def s(n: Long): Long = n * 1000000000L // seconds → ns

  test("foldBatch replays the strict view→click→purchase chain") {
    val init = FunnelState(Unset, Unset, Unset)
    // ts-sorted input (the processor sorts each batch before folding):
    // click@5 precedes any view → ignored; click@10 ties the view's ts
    // and strict > excludes it; purchase@20 precedes t2 → ignored
    val sorted = Seq(("click", s(5)), ("view", s(10)), ("click", s(10)),
      ("purchase", s(20)), ("click", s(30)), ("purchase", s(40)))
    val (h2, st2) = FunnelStream.foldBatch(7L, sorted, init)
    assert(h2 == Seq(StepHit(7L, "1_view", 0L),
      StepHit(7L, "2_click", 20L), StepHit(7L, "3_purchase", 10L)))
    assert(st2 == FunnelState(s(10), s(30), s(40)))
    // the same multiset folded OUT of order documents WHY the
    // processor sorts: with click@30 arriving last, both purchases
    // precede t2 and the funnel never completes
    val (h1, st1) = FunnelStream.foldBatch(7L,
      Seq(("click", s(5)), ("view", s(10)), ("click", s(10)),
        ("purchase", s(20)), ("purchase", s(40)), ("click", s(30))),
      init)
    assert(h1 == Seq(StepHit(7L, "1_view", 0L),
      StepHit(7L, "2_click", 20L)))
    assert(st1 == FunnelState(s(10), s(30), Unset))
  }

  test("each step closes exactly once; later candidates are ignored") {
    val (hits, st) = FunnelStream.foldBatch(1L,
      Seq(("view", s(1)), ("view", s(2)), ("click", s(3)),
        ("click", s(4)), ("purchase", s(5)), ("purchase", s(6))),
      FunnelState(Unset, Unset, Unset))
    assert(hits.map(_.step) == Seq("1_view", "2_click", "3_purchase"))
    assert(st == FunnelState(s(1), s(3), s(5)))
  }

  test("time-sliced multi-batch feed equals the batch chain (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // users exercising every edge: u1 full funnel split across slices;
    // u2 click-before-view dropped, later click counts; u3 purchase
    // with no click never fires; u4 completes inside one slice with
    // in-slice disorder
    val all = Seq(
      FEv(1, "view", s(10)), FEv(1, "click", s(110)),
      FEv(1, "purchase", s(220)),
      FEv(2, "click", s(20)), FEv(2, "view", s(30)),
      FEv(2, "click", s(130)),
      FEv(3, "view", s(40)), FEv(3, "purchase", s(50)),
      FEv(4, "purchase", s(95)), FEv(4, "click", s(92)),
      FEv(4, "view", s(91)))
    // slices are event-time ranges (the arrival contract); rows WITHIN
    // a slice arrive shuffled — the per-batch sort must repair that
    val slices = Seq(
      all.filter(_.ts_ns < s(100)).reverse,
      all.filter(e => e.ts_ns >= s(100) && e.ts_ns < s(200)).reverse,
      all.filter(_.ts_ns >= s(200)).reverse)
    val in = MemoryStream[FEv]
    val got = {
      val q = Drain.start(spark, StateStores.rocksDbConf)(
        FunnelStream.stepHits(in.toDS())
          .writeStream.outputMode("append").format("memory")
          .queryName("funnel_tws"))
      slices.foreach { sl => in.addData(sl); q.processAllAvailable() }
      val metrics = q.lastProgress.stateOperators.flatMap(
        _.customMetrics.keySet().toArray(Array.empty[String]))
      q.stop()
      assert(metrics.exists(_.startsWith("rocksdb")),
        s"funnel state not served by RocksDB: ${metrics.mkString(",")}")
      spark.table("funnel_tws").as[StepHit].collect().toSet
    }
    spark.sql("DROP VIEW IF EXISTS funnel_tws")
    // driver-side op161 chain replay
    val want = Set(
      StepHit(1, "1_view", 0L), StepHit(1, "2_click", 100L),
      StepHit(1, "3_purchase", 110L),
      StepHit(2, "1_view", 0L), StepHit(2, "2_click", 100L),
      StepHit(3, "1_view", 0L),
      StepHit(4, "1_view", 0L), StepHit(4, "2_click", 1L),
      StepHit(4, "3_purchase", 3L))
    assert(got == want)
  }

  test("deadlines skip expired steps forever (windowed fold)") {
    // click at +40s misses the 30s window; the later click at +50s is
    // later still — step 2 never fires, so neither does step 3
    val (h, st) = FunnelStream.foldBatch(1L,
      Seq(("view", s(0)), ("click", s(40)), ("click", s(50)),
        ("purchase", s(60))),
      FunnelState(Unset, Unset, Unset),
      clickWithinNs = s(30), purchaseWithinNs = s(30))
    assert(h == Seq(StepHit(1L, "1_view", 0L)))
    assert(st == FunnelState(s(0), Unset, Unset))
    // in-window chain converts; the purchase deadline measures from t2
    val (h2, _) = FunnelStream.foldBatch(1L,
      Seq(("view", s(0)), ("click", s(20)), ("purchase", s(45))),
      FunnelState(Unset, Unset, Unset),
      clickWithinNs = s(30), purchaseWithinNs = s(30))
    assert(h2 == Seq(StepHit(1L, "1_view", 0L),
      StepHit(1L, "2_click", 20L), StepHit(1L, "3_purchase", 25L)))
  }

  test("op207 aggregates to exactly op205's rows on the fixture") {
    val batch = graft.queries.AnalyticsQueries
      .op205WindowedFunnel(spark, sfDir).collect().toSeq
    val streamed = graft.queries.StreamQueries
      .op207StreamWindowedFunnel(spark, sfDir).collect().toSeq
    assert(streamed.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      == batch.map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
  }

  test("op199 aggregates to exactly op161's rows on the fixture") {
    val batch = graft.queries.AnalyticsQueries
      .op161Funnel(spark, sfDir).collect().toSeq
    val streamed = graft.queries.StreamQueries
      .op199StreamFunnel(spark, sfDir).collect().toSeq
    assert(streamed.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      == batch.map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
  }
}
