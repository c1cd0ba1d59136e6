package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{Drain, SessionPathStream, StateStores}
import graft.streaming.SessionPathStream.{ClosedPath, OpenSession, PEv}

/** op203's streaming session-path semantics: gap-close emission equals
  * the batch chain restricted to closed sessions, under time-sliced
  * multi-batch arrival with in-slice disorder; the final session per
  * user stays in state. */
class SessionPathStreamSpec extends SparkSpec {

  private def s(n: Long): Long = n * 1000000000L
  private val gap = s(1800)

  test("foldBatch caps paths, closes on gap, and keeps the final session open") {
    val (closed, st) = SessionPathStream.foldBatch(1L, 3, gap,
      Seq((s(0), "a"), (s(10), "b"), (s(20), "c"), (s(30), "d"),
        (s(5000), "e"), (s(5010), "f"), (s(99999), "g")),
      None)
    // first session capped at 3 of its 4 events; second closed by the
    // third gap; the "g" session remains open state
    assert(closed == Seq(ClosedPath(1L, "a>b>c"), ClosedPath(1L, "e>f")))
    assert(st == Some(OpenSession(s(99999), Vector("g"))))
  }

  test("a session spanning batches carries its path through state") {
    val (c1, st1) = SessionPathStream.foldBatch(1L, 8, gap,
      Seq((s(0), "a"), (s(10), "b")), None)
    assert(c1.isEmpty)
    val (c2, st2) = SessionPathStream.foldBatch(1L, 8, gap,
      Seq((s(20), "c"), (s(9000), "x")), st1)
    assert(c2 == Seq(ClosedPath(1L, "a>b>c")))
    assert(st2 == Some(OpenSession(s(9000), Vector("x"))))
  }

  test("time-sliced multi-batch feed equals closed-session batch replay (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val all = Seq(
      PEv(1, 1, s(0), "a"), PEv(1, 2, s(10), "b"),
      PEv(1, 3, s(5000), "c"), PEv(1, 4, s(10000), "d"),
      PEv(2, 5, s(20), "x"), PEv(2, 6, s(4000), "y"),
      PEv(3, 7, s(30), "q"))
    val slices = Seq(
      all.filter(_.ts_ns < s(3000)).reverse,
      all.filter(e => e.ts_ns >= s(3000) && e.ts_ns < s(8000)).reverse,
      all.filter(_.ts_ns >= s(8000)).reverse)
    val in = MemoryStream[PEv]
    val got = {
      val q = Drain.start(spark, StateStores.rocksDbConf)(
        SessionPathStream.closedPaths(in.toDS(), 8, gap)
          .writeStream.outputMode("append").format("memory")
          .queryName("paths_tws"))
      slices.foreach { sl => in.addData(sl); q.processAllAvailable() }
      q.stop()
      spark.table("paths_tws").as[ClosedPath].collect().toSet
    }
    spark.sql("DROP VIEW IF EXISTS paths_tws")
    // closed sessions only: u1 a>b (closed by c), c (closed by d); u2
    // x (closed by y); the final sessions (u1 d, u2 y, u3 q) are state
    assert(got == Set(ClosedPath(1, "a>b"), ClosedPath(1, "c"),
      ClosedPath(2, "x")))
  }

  test("op203 equals op200's chain restricted to non-final sessions on the fixture") {
    val got = graft.queries.StreamQueries
      .op203StreamSessionPaths(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // driver-side replay: sessionize, drop each user's last session,
    // count capped paths with the shared support threshold
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select("user_id", "event_id", "ts_ns", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    ev.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2)).toSeq
      val sessions = scala.collection.mutable.ArrayBuffer.empty[List[String]]
      var cur = List.empty[String]; var prev = Long.MinValue
      sorted.foreach { case (_, _, ts, typ) =>
        if (prev != Long.MinValue && ts - prev > gap) {
          sessions += cur.reverse; cur = Nil
        }
        cur ::= typ; prev = ts
      }
      // the open (final) session is NOT appended — it is operator state
      sessions.foreach { sess =>
        val p = sess.take(8).mkString(">")
        counts(p) = counts.getOrElse(p, 0L) + 1
      }
    }
    val want = counts.filter(_._2 >= 3).toMap
    assert(got == want)
    assert(got.nonEmpty)
  }
}
