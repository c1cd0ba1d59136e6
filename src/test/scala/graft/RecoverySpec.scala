package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.Stedi
import graft.streaming.Drain

/** Exactly-once semantics: checkpointed streaming queries resume from
  * committed offsets without reprocessing (OP-04 checkpoint contract),
  * and the bounded-state production join matches only in-window pairs. */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  test("checkpointed file-stream query resumes without duplicating processed data") {
    val srcDir = tempDir("graft_src_").toFile
    val ckpt = tempDir("graft_ckpt_").toString
    val outName = "recovery_out"

    def writeBatch(id: Int, rows: Seq[Long]): Unit =
      rows.toDF("v").coalesce(1).write.mode("append")
        .parquet(srcDir.getAbsolutePath)

    def runOnce(query: String): Unit = {
      val stream = spark.readStream
        .schema("v LONG").parquet(srcDir.getAbsolutePath)
        .groupBy().agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
      val q = stream.writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .format("memory").queryName(query)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    writeBatch(0, Seq(1L, 2L, 3L))
    runOnce(outName)
    val first = spark.table(outName).as[(Long, Long)].first()
    assert(first == ((6L, 3L)))

    // new data lands; a RESTARTED query (same checkpoint) must pick up
    // only from committed offsets — totals include old+new exactly once
    writeBatch(1, Seq(10L))
    runOnce(outName)
    val second = spark.table(outName).as[(Long, Long)].first()
    assert(second == ((16L, 4L)),
      s"restart must not double-count committed batches: $second")
  }

  test("changelog fMGWS state survives a checkpointed restart (counter continues, no regress)") {
    // the 100 TB changelog claim includes RECOVERY: the per-key held row
    // (KeyState) must round-trip through the state-store checkpoint, so
    // a restarted query continues the change counter instead of
    // recounting, and the no-regress straggler rule still sees the
    // pre-restart winner
    import graft.streaming.Changelog
    import graft.streaming.Changelog.Change
    val srcDir = tempDir("graft_clog_src_").toFile
    val ckpt = tempDir("graft_clog_ckpt_").toString
    def write(rows: Seq[Change]): Unit =
      rows.toDF().coalesce(1).write.mode("append")
        .parquet(srcDir.getAbsolutePath)
    // the memory sink cannot recover from a checkpoint (update mode) —
    // foreachBatch is the recoverable sink shape a real deployment uses
    def runOnce(): Seq[(Long, Long, Long, Long)] = {
      val buf =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      val in = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Change].schema)
        .parquet(srcDir.getAbsolutePath).as[Change]
      val q = Changelog.latestState(in).writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Changelog.LatestRow], _: Long) =>
          buf ++= batch.collect().map(r =>
            (r.user_id, r.n_changes, r.last_event_id, r.last_value_cents))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      buf.toSeq.sortBy(_._1)
    }
    write(Seq(Change(1L, 10L, 100L, "a", 5L), Change(1L, 11L, 200L, "b", 6L),
      Change(2L, 20L, 50L, "c", 7L)))
    val r1 = runOnce()
    assert(r1 == Seq((1L, 2L, 11L, 6L), (2L, 1L, 20L, 7L)))
    // a straggler OLDER than user 1's held state arrives; the restarted
    // query must emit n_changes=3 (restored counter + 1) with the held
    // winner unchanged — and must NOT re-emit untouched user 2
    write(Seq(Change(1L, 12L, 150L, "d", 8L)))
    val r2 = runOnce()
    assert(r2 == Seq((1L, 3L, 11L, 6L)),
      s"restart lost or regressed the held changelog state: $r2")
  }

  test("transformWithState changelog state survives a checkpointed restart (RocksDB)") {
    // the successor API's recovery contract: the typed ValueState row
    // must restore from the RocksDB checkpoint exactly as fMGWS state
    // does — restarted counter continues, straggler no-regress holds
    import graft.streaming.{Changelog, StateStores}
    import graft.streaming.Changelog.Change
    val srcDir = tempDir("graft_tws_src_").toFile
    val ckpt = tempDir("graft_tws_ckpt_").toString
    def write(rows: Seq[Change]): Unit =
      rows.toDF().coalesce(1).write.mode("append")
        .parquet(srcDir.getAbsolutePath)
    def runOnce(): Seq[(Long, Long, Long, Long)] = {
      val buf =
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      val in = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Change].schema)
        .parquet(srcDir.getAbsolutePath).as[Change]
      val q = Drain.start(spark, StateStores.rocksDbConf)(
        Changelog.latestStateTws(in).writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Changelog.LatestRow], _: Long) =>
            buf ++= batch.collect().map(r =>
              (r.user_id, r.n_changes, r.last_event_id, r.last_value_cents))
            ()
          }
          .trigger(Trigger.AvailableNow()))
      q.awaitTermination()
      buf.toSeq.sortBy(_._1)
    }
    write(Seq(Change(1L, 10L, 100L, "a", 5L), Change(1L, 11L, 200L, "b", 6L),
      Change(2L, 20L, 50L, "c", 7L)))
    assert(runOnce() == Seq((1L, 2L, 11L, 6L), (2L, 1L, 20L, 7L)))
    write(Seq(Change(1L, 12L, 150L, "d", 8L))) // straggler vs held 200
    val r2 = runOnce()
    assert(r2 == Seq((1L, 3L, 11L, 6L)),
      s"restart lost or regressed transformWithState state: $r2")
  }

  test("streaming SCD2 closes pre-restart versions after a checkpointed restart (RocksDB)") {
    // the history twin's recovery contract: the OPEN version is state,
    // so an interval opened before a restart must close correctly from
    // the restored RocksDB row — valid_from and the version counter
    // both come from the checkpoint, not the new batch
    import graft.streaming.{ScdStream, StateStores}
    import graft.streaming.ScdStream.Ev
    val srcDir = tempDir("graft_scd_src_").toFile
    val ckpt = tempDir("graft_scd_ckpt_").toString
    def write(rows: Seq[Ev]): Unit =
      rows.toDF().coalesce(1).write.mode("append")
        .parquet(srcDir.getAbsolutePath)
    def runOnce(): Seq[(Long, String, Long, Long, Long, Long)] = {
      val buf = scala.collection.mutable
        .ArrayBuffer.empty[(Long, String, Long, Long, Long, Long)]
      val in = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Ev].schema)
        .parquet(srcDir.getAbsolutePath).as[Ev]
      val q = Drain.start(spark, StateStores.rocksDbConf)(
        ScdStream.closedIntervals(in).writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[ScdStream.Closed], _: Long) =>
            buf ++= batch.collect().map(r =>
              (r.user_id, r.event_type, r.ver, r.val_bp, r.valid_from,
                r.valid_to))
            ()
          }
          .trigger(Trigger.AvailableNow()))
      q.awaitTermination()
      buf.toSeq.sortBy(t => (t._1, t._3))
    }
    // batch 1: user 1 changes once (one closed interval emitted); user 2
    // only opens — its interval must survive the shutdown as state
    write(Seq(Ev(1L, "a", 10L, 1L, 50000L), Ev(1L, "a", 20L, 2L, 70000L),
      Ev(2L, "a", 15L, 3L, 90000L)))
    assert(runOnce() == Seq((1L, "a", 1L, 50000L, 10L, 20L)))
    // restart: user 1 absorbs a no-change event then changes (closes v2
    // opened pre-restart); user 2's pre-restart open version closes with
    // its original valid_from=15 — only possible via restored state
    write(Seq(Ev(1L, "a", 30L, 4L, 70000L), Ev(1L, "a", 40L, 5L, 50000L),
      Ev(2L, "a", 35L, 6L, 10000L)))
    val r2 = runOnce()
    assert(r2 == Seq(
      (1L, "a", 2L, 70000L, 20L, 40L),
      (2L, "a", 1L, 90000L, 15L, 35L)),
      s"restart lost the open SCD2 version: $r2")
  }

  test("event-time session state and its timeout timer survive checkpointed restarts") {
    // the sessionizer's 100 TB mode (EventTimeTimeout) must recover BOTH
    // halves of its state from the checkpoint: the open-session row AND
    // the watermark/timer progression — an idle session opened before a
    // restart must still flush when a later run's watermark passes
    // last + gap
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.TimedEvent
    val srcDir = tempDir("graft_sess_src_").toFile
    val ckpt = tempDir("graft_sess_ckpt_").toString
    def ev(u: Long, ms: Long, v: Double) =
      TimedEvent(u, new java.sql.Timestamp(ms), v)
    def write(rows: Seq[TimedEvent]): Unit =
      rows.toDS().coalesce(1).write.mode("append")
        .parquet(srcDir.getAbsolutePath)
    def runOnce(): Seq[Sessionize.Session] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Sessionize.Session]
      val in = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[TimedEvent].schema)
        .parquet(srcDir.getAbsolutePath).as[TimedEvent]
      val q = Sessionize.sessionsEventTime(in, gapMs = 60000,
          delay = "0 seconds")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Sessionize.Session], _: Long) =>
          buf ++= batch.collect(); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      buf.toSeq
    }
    // run 1 opens user 1's session (watermark commits at 130s)
    write(Seq(ev(1L, 100000L, 1.0), ev(1L, 130000L, 2.0)))
    assert(runOnce().isEmpty, "no session may close while still active")
    // run 2 (restart): a far-future event advances the watermark past
    // user 1's last+gap; the restored timer fires (in the run's no-data
    // finalization batch) and the session opened in the PREVIOUS process
    // lifetime flushes intact
    write(Seq(ev(2L, 700000L, 9.0)))
    val r2 = runOnce().filter(_.user_id == 1L)
    assert(r2 == Seq(Sessionize.Session(1L, 100000L, 130000L, 2L, 3.0)),
      s"restart lost the open session or its timer: $r2")
    // run 3 (second restart): the flushed session's state was removed —
    // it must NOT re-emit
    write(Seq(ev(2L, 710000L, 1.0)))
    val r3 = runOnce().filter(_.user_id == 1L)
    assert(r3.isEmpty, s"flushed session re-emitted after restart: $r3")
  }

  test("transformWithState session timers survive a checkpointed restart (RocksDB)") {
    // completes the recovery matrix: the successor API's EXPLICIT timer
    // registrations (not just its ValueState rows) must restore from
    // the checkpoint — a session opened before the restart flushes via
    // its re-armed timer in a later process lifetime
    import graft.streaming.{Sessionize, StateStores}
    import graft.streaming.Sessionize.TimedEvent
    val srcDir = tempDir("graft_twss_src_").toFile
    val ckpt = tempDir("graft_twss_ckpt_").toString
    def ev(u: Long, ms: Long, v: Double) =
      TimedEvent(u, new java.sql.Timestamp(ms), v)
    def write(rows: Seq[TimedEvent]): Unit =
      rows.toDS().coalesce(1).write.mode("append")
        .parquet(srcDir.getAbsolutePath)
    def runOnce(): Seq[Sessionize.Session] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Sessionize.Session]
      val in = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[TimedEvent].schema)
        .parquet(srcDir.getAbsolutePath).as[TimedEvent]
      val q = Drain.start(spark, StateStores.rocksDbConf)(
        Sessionize.sessionsTws(in, gapMs = 60000, delay = "0 seconds")
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Sessionize.Session], _: Long) =>
            buf ++= batch.collect(); ()
          }
          .trigger(Trigger.AvailableNow()))
      q.awaitTermination()
      buf.toSeq
    }
    write(Seq(ev(1L, 100000L, 1.0), ev(1L, 130000L, 2.0)))
    assert(runOnce().isEmpty, "no session may close while still active")
    // restart: the far-future event pushes the watermark past the
    // restored timer's fire point — the pre-restart session flushes
    write(Seq(ev(2L, 700000L, 9.0)))
    val r2 = runOnce().filter(_.user_id == 1L)
    assert(r2 == Seq(Sessionize.Session(1L, 100000L, 130000L, 2L, 3.0)),
      s"restart lost the session or its registered timer: $r2")
    // second restart: flushed state must not re-emit
    write(Seq(ev(2L, 710000L, 1.0)))
    val r3 = runOnce().filter(_.user_id == 1L)
    assert(r3.isEmpty, s"flushed session re-emitted after restart: $r3")
  }

  test("bounded join state survives a checkpointed restart (join is the last stateful shape)") {
    // join state is the one stateful shape the other recovery tests
    // don't restart: a customer buffered BEFORE the stop must still
    // match a risk event arriving AFTER the restart (symmetric-hash
    // state restored from the checkpoint), and the checkpointed
    // watermark must keep filtering late rows after the restart
    val custDir = tempDir("graft_bj_cust_").toFile
    val riskDir = tempDir("graft_bj_risk_").toFile
    val ckpt = tempDir("graft_bj_ckpt_").toString
    def writeCust(rows: Seq[(String, String, String)]): Unit =
      rows.toDF("email", "birthYear", "seen_str").coalesce(1)
        .write.mode("append").parquet(custDir.getAbsolutePath)
    def writeRisk(rows: Seq[(String, String, String)]): Unit =
      rows.toDF("customer", "score", "riskDate").coalesce(1)
        .write.mode("append").parquet(riskDir.getAbsolutePath)
    // memory sink can't recover a checkpoint — foreachBatch is the
    // recoverable sink shape (same as the changelog recovery tests)
    def runOnce(): Seq[(String, String)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      val custDf = spark.readStream
        .schema("email STRING, birthYear STRING, seen_str STRING")
        .parquet(custDir.getAbsolutePath)
        .select(col("email"), col("birthYear"),
          col("seen_str").cast("timestamp").as("seenAt"))
      val riskDf = spark.readStream
        .schema("customer STRING, score STRING, riskDate STRING")
        .parquet(riskDir.getAbsolutePath)
      val q = Stedi.joinRiskBounded(riskDf, custDf, maxAge = "1 hour")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          buf ++= batch.select("customer", "score")
            .collect().map(r => (r.getString(0), r.getString(1)))
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      buf.toSeq.sorted
    }
    // run 1: the customer arrives alone — nothing to join yet
    writeCust(Seq(("a@test.com", "1950", "2024-01-01 10:00:00")))
    assert(runOnce().isEmpty, "no risk events yet: nothing may emit")
    // restart: an in-window risk arrives; the match REQUIRES the
    // customer row restored from the join-state checkpoint
    writeRisk(Seq(("a@test.com", "5.0", "2024-01-01T10:30:00.000Z")))
    assert(runOnce() == Seq(("a@test.com", "5.0")),
      "restart lost the buffered join state")
    // restart again: a next-day pair still matches (query live, state
    // keyed correctly) and advances the checkpointed watermark past day 1
    writeCust(Seq(("b@test.com", "1960", "2024-01-02 09:30:00")))
    writeRisk(Seq(("b@test.com", "7.0", "2024-01-02T10:00:00.000Z")))
    assert(runOnce() == Seq(("b@test.com", "7.0")),
      "post-restart pair failed to match")
    // final restart: a day-1 straggler is behind the restored watermark
    // — the bounded mode must drop it, not re-buffer unbounded state
    writeRisk(Seq(("a@test.com", "9.0", "2024-01-01T10:45:00.000Z")))
    assert(runOnce().isEmpty,
      "late row crossed the checkpointed watermark after restart")
  }

  test("streaming near-dup pair state survives a checkpointed restart (RocksDB)") {
    // op132's only in-run state is the candidate-pair dropDuplicates: a
    // pair emitted before a restart must stay suppressed after it (state
    // restored from the RocksDB checkpoint), while genuinely new
    // arrivals still match against the static store
    import graft.streaming.{StateStores, StreamingNearDedup}
    val srcDir = tempDir("graft_nd_src_").toFile
    val ckpt = tempDir("graft_nd_ckpt_").toString
    val storeDir = tempDir("graft_nd_store_").toString
    val tA = "quick brown fox jumps over the lazy dog today"
    val tB = "pack my box with five dozen liquor jugs tonight"
    StreamingNearDedup.storeWrite(
      Seq((3L, tA), (6L, tB)).toDF("doc_id", "text"),
      "doc_id", "text", storeDir)
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append")
        .parquet(srcDir.getAbsolutePath)
    def runOnce(): Seq[(Long, Long, Long)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val in = spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(srcDir.getAbsolutePath)
      val q = Drain.start(spark, StateStores.rocksDbConf)(
        StreamingNearDedup.matchesAgainstStore(
            in, storeDir, "doc_id", "text", 8000L)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            buf ++= batch.collect().map(r =>
              (r.getLong(0), r.getLong(1), r.getLong(2)))
            ()
          }
          .trigger(Trigger.AvailableNow()))
      q.awaitTermination()
      buf.toSeq.sorted
    }
    // run 1: arrival 10 is an exact copy of store doc 3
    write(Seq((10L, tA)))
    assert(runOnce() == Seq((10L, 3L, 10000L)))
    // restart: a replayed copy of arrival 10 (late re-delivery) plus a
    // genuinely new arrival 11 — only the new pair may emit
    write(Seq((10L, tA), (11L, tB)))
    val r2 = runOnce()
    assert(r2 == Seq((11L, 6L, 10000L)),
      s"restart lost (re-emitted) or over-suppressed near-dup state: $r2")
  }

  test("bounded-state join (production mode) matches only within maxAge") {
    implicit val sqlCtx = spark.sqlContext
    val customers = MemoryStream[(String, String, String)]
    val risks = MemoryStream[(String, String, String)]
    val custDf = customers.toDF().toDF("email", "birthYear", "seen_str")
      .select(col("email"), col("birthYear"),
        col("seen_str").cast("timestamp").as("seenAt"))
    val riskDf = risks.toDF().toDF("customer", "score", "riskDate")
    val joined = Stedi.joinRiskBounded(riskDf, custDf, maxAge = "1 hour")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("bounded_join_out").start()
    customers.addData(("a@test.com", "1950", "2024-01-01 10:00:00"))
    q.processAllAvailable()
    risks.addData(
      ("a@test.com", "5.0", "2024-01-01T10:30:00.000Z"),  // within 1h → match
      ("a@test.com", "9.0", "2024-01-01T13:00:00.000Z"))  // 3h later → dropped
    q.processAllAvailable()
    q.stop()
    val out = spark.table("bounded_join_out")
      .select("customer", "score").as[(String, String)].collect().toSeq
    assert(out == Seq(("a@test.com", "5.0")))
  }

  test("funnel state survives a checkpointed restart (RocksDB)") {
    // op199's recovery contract: the three per-user step timestamps
    // must restore from the RocksDB checkpoint, so a restarted query
    // (a) completes a funnel whose earlier steps closed pre-restart and
    // (b) still drops a cross-batch straggler against the RESTORED t1
    import graft.streaming.{FunnelStream, StateStores}
    import graft.streaming.FunnelStream.{FEv, StepHit}
    def s(n: Long): Long = n * 1000000000L
    val srcDir = tempDir("graft_funnel_src_").toFile
    val ckpt = tempDir("graft_funnel_ckpt_").toString
    def write(rows: Seq[FEv]): Unit =
      rows.toDF().coalesce(1).write.mode("append")
        .parquet(srcDir.getAbsolutePath)
    def runOnce(): Seq[StepHit] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[StepHit]
      val in = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[FEv].schema)
        .parquet(srcDir.getAbsolutePath).as[FEv]
      val q = Drain.start(spark, StateStores.rocksDbConf)(
        FunnelStream.stepHits(in).writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[StepHit], _: Long) =>
              buf ++= batch.collect(); ()
          }
          .trigger(Trigger.AvailableNow()))
      q.awaitTermination()
      buf.toSeq.sortBy(h => (h.user_id, h.step))
    }
    write(Seq(FEv(1, "view", s(10)), FEv(1, "click", s(20)),
      FEv(2, "view", s(30))))
    assert(runOnce() == Seq(StepHit(1, "1_view", 0), StepHit(1, "2_click", 10),
      StepHit(2, "1_view", 0)))
    // restart: u1's purchase completes against restored t2=20; u2's
    // straggler click@25 precedes restored t1=30 and must be dropped,
    // while the in-order click@40 closes the step
    write(Seq(FEv(1, "purchase", s(50)), FEv(2, "click", s(25)),
      FEv(2, "click", s(40))))
    val r2 = runOnce()
    assert(r2 == Seq(StepHit(1, "3_purchase", 30), StepHit(2, "2_click", 10)),
      s"restart lost or corrupted funnel state: $r2")
  }

  test("open session-path state (with its type list) survives a restart (RocksDB)") {
    // op203's state carries a Seq[String] (the capped path) — the
    // round-trip through the RocksDB checkpoint must restore the LIST,
    // not just scalars: the post-restart gap close emits the full
    // pre-restart prefix
    import graft.streaming.{SessionPathStream, StateStores}
    import graft.streaming.SessionPathStream.{ClosedPath, PEv}
    def s(n: Long): Long = n * 1000000000L
    val gap = s(1800)
    val srcDir = tempDir("graft_paths_src_").toFile
    val ckpt = tempDir("graft_paths_ckpt_").toString
    def write(rows: Seq[PEv]): Unit =
      rows.toDF().coalesce(1).write.mode("append")
        .parquet(srcDir.getAbsolutePath)
    def runOnce(): Seq[ClosedPath] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[ClosedPath]
      val in = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[PEv].schema)
        .parquet(srcDir.getAbsolutePath).as[PEv]
      val q = Drain.start(spark, StateStores.rocksDbConf)(
        SessionPathStream.closedPaths(in, 8, gap).writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[ClosedPath], _: Long) =>
              buf ++= batch.collect(); ()
          }
          .trigger(Trigger.AvailableNow()))
      q.awaitTermination()
      buf.toSeq.sortBy(p => (p.user_id, p.path))
    }
    write(Seq(PEv(1, 1, s(0), "a"), PEv(1, 2, s(10), "b")))
    assert(runOnce().isEmpty, "open session must not emit")
    // restart: c extends the RESTORED [a, b]; the later gap closes it
    write(Seq(PEv(1, 3, s(20), "c"), PEv(1, 4, s(9000), "z")))
    val r2 = runOnce()
    assert(r2 == Seq(ClosedPath(1, "a>b>c")),
      s"restart lost the carried path prefix: $r2")
  }

  test("transition state (the carried last event) survives a restart (RocksDB)") {
    // op249's recovery contract: the per-user LAST EVENT must restore
    // from the RocksDB checkpoint so the first post-restart arrival
    // emits the cross-restart transition (prev = pre-restart type)
    import graft.streaming.{StateStores, TransitionStream}
    import graft.streaming.TransitionStream.{TEv, Transition}
    def s(n: Long): Long = n * 1000000000L
    val srcDir = tempDir("graft_trans_src_").toFile
    val ckpt = tempDir("graft_trans_ckpt_").toString
    def write(rows: Seq[TEv]): Unit =
      rows.toDF().coalesce(1).write.mode("append")
        .parquet(srcDir.getAbsolutePath)
    def runOnce(): Seq[Transition] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Transition]
      val in = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[TEv].schema)
        .parquet(srcDir.getAbsolutePath).as[TEv]
      val q = Drain.start(spark, StateStores.rocksDbConf)(
        TransitionStream.transitions(in).writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[Transition], _: Long) =>
              buf ++= batch.collect(); ()
          }
          .trigger(Trigger.AvailableNow()))
      q.awaitTermination()
      buf.toSeq.sortBy(t => (t.user_id, t.prev_type, t.cur_type))
    }
    write(Seq(TEv(1, 1, s(10), "view"), TEv(1, 2, s(20), "click"),
      TEv(2, 3, s(30), "view")))
    assert(runOnce() == Seq(Transition(1, "view", "click")))
    // restart: u1's purchase transitions from the RESTORED click; u2's
    // first post-restart event transitions from the restored view
    write(Seq(TEv(1, 4, s(40), "purchase"), TEv(2, 5, s(50), "error")))
    val r2 = runOnce()
    assert(r2 == Seq(Transition(1, "click", "purchase"),
      Transition(2, "view", "error")),
      s"restart lost the carried last event: $r2")
  }

  test("RDB-seeded bootstrap state survives a checkpointed restart " +
    "(seed persists, straggler no-regress, counters continue)") {
    // op287's recovery contract: initial state is applied ONLY on the
    // first run, so after a restart the restored RocksDB rows must
    // still carry the snapshot seed for never-updated keys, and the
    // latest-wins stamp for updated ones
    import graft.streaming.{RdbBootstrapStream, StateStores}
    import RdbBootstrapStream.{ProfileEvent, ProfileRow, SnapshotRow}
    val srcDir = tempDir("graft_rdbboot_src_").toFile
    val ckpt = tempDir("graft_rdbboot_ckpt_").toString
    val snap = Seq(SnapshotRow("a@x", "1950"), SnapshotRow("b@x", "1960"),
      SnapshotRow("c@x", "1970")).toDS()
    def write(rows: Seq[ProfileEvent]): Unit =
      rows.toDF().coalesce(1).write.mode("append")
        .parquet(srcDir.getAbsolutePath)
    def runOnce(): Seq[(String, String, Long, Long)] = {
      val buf =
        scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Long)]
      val in = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[ProfileEvent].schema)
        .parquet(srcDir.getAbsolutePath).as[ProfileEvent]
      val q = Drain.start(spark, StateStores.rocksDbConf)(
        RdbBootstrapStream.bootstrappedProfiles(in, snap)
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[ProfileRow], _: Long) =>
            buf ++= batch.collect().map(r =>
              (r.email, r.birthYear, r.n_events, r.n_updates))
            ()
          }
          .trigger(Trigger.AvailableNow()))
      q.awaitTermination()
      buf.toSeq.sortBy(_._1)
    }
    write(Seq(ProfileEvent("a@x", 10L, 100L, "1999"),
      ProfileEvent("b@x", 11L, 100L, null)))
    assert(runOnce() == Seq(("a@x", "1999", 1L, 1L),
      ("b@x", "1960", 1L, 0L)),
      "first run must fold the update and keep b's snapshot seed")
    // restart mid-replay: a straggler update (older than a's held
    // stamp) and a plain event for b — the restored state must keep
    // a's 1999, keep b's SNAPSHOT value, and continue both counters
    write(Seq(ProfileEvent("a@x", 9L, 50L, "1888"),
      ProfileEvent("b@x", 12L, 200L, null)))
    val r2 = runOnce()
    assert(r2 == Seq(("a@x", "1999", 2L, 2L), ("b@x", "1960", 2L, 0L)),
      s"restart lost the seed or regressed the fold: $r2")
    // c@x never received an event: seeded state only, never emitted
    assert(!r2.exists(_._1 == "c@x"))
  }

  test("op315 URL-admission ListState survives a checkpointed restart (RocksDB)") {
    // the admitted-canonical LIST must restore from the RocksDB
    // checkpoint: a restarted query may neither re-admit a URL admitted
    // pre-restart (dedup half) nor admit past the restored count
    // (quota half)
    import graft.streaming.{DomainQuota, StateStores}
    import graft.streaming.DomainQuota.{UrlArrival, UrlAdmitted}
    val srcDir = tempDir("graft_urladm_src_").toFile
    val ckpt = tempDir("graft_urladm_ckpt_").toString
    def write(rows: Seq[UrlArrival]): Unit =
      rows.toDF().coalesce(1).write.mode("append")
        .parquet(srcDir.getAbsolutePath)
    def runOnce(): Seq[(Long, String, Long)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
      val in = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[UrlArrival].schema)
        .parquet(srcDir.getAbsolutePath).as[UrlArrival]
      val q = Drain.start(spark, StateStores.rocksDbConf)(
        DomainQuota.urlAdmitted(in, k = 2L).writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[UrlAdmitted], _: Long) =>
              buf ++= batch.collect().map(a =>
                (a.doc_id, a.url_canon, a.admit_seq)); ()
          }
          .trigger(Trigger.AvailableNow()))
      q.awaitTermination()
      buf.toSeq.sorted
    }
    write(Seq(UrlArrival(1L, "a.com", "X")))
    assert(runOnce() == Seq((1L, "X", 1L)))
    // restart: X re-arrival must stay suppressed against the RESTORED
    // list; Y fills the last quota slot; Z must be quota-rejected
    // against the restored count, not a reset one
    write(Seq(UrlArrival(2L, "a.com", "X"), UrlArrival(3L, "a.com", "Y"),
      UrlArrival(4L, "a.com", "Z")))
    val r2 = runOnce()
    assert(r2 == Seq((3L, "Y", 2L)),
      s"restart lost or reset the admission ListState: $r2")
  }

  test("op316 robots-gated admission survives a checkpointed restart") {
    // the composed ingest gate: the stateless robots filter must keep
    // gating replayed AND fresh offsets after restart, and the
    // admission ListState behind it must restore — a disallowed URL
    // may never be admitted OR consume a quota slot, in either life
    import graft.streaming.{AdmissionGate, StateStores}
    val rules = Map("a.com" -> Seq("/p/" -> false, "/p/ok" -> true))
    val srcDir = tempDir("graft_gate316_src_").toFile
    val ckpt = tempDir("graft_gate316_ckpt_").toString
    def write(rows: Seq[(Long, String, String, String)]): Unit =
      rows.toDF("doc_id", "domain", "path", "url_canon").coalesce(1)
        .write.mode("append").parquet(srcDir.getAbsolutePath)
    def runOnce(): Seq[(Long, String, Long)] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
      val in = spark.readStream
        .schema(spark.read.parquet(srcDir.getAbsolutePath).schema)
        .parquet(srcDir.getAbsolutePath)
      val q = Drain.start(spark, StateStores.rocksDbConf)(
        AdmissionGate.robotsGatedAdmission(in, rules, k = 2L)
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[
                org.apache.spark.sql.Row], _: Long) =>
              buf ++= batch.collect().map(r =>
                (r.getLong(0), r.getString(2), r.getLong(3))); ()
          }
          .trigger(Trigger.AvailableNow()))
      q.awaitTermination()
      buf.toSeq.sorted
    }
    // run 1: X admitted through the re-allowed subtree; B disallowed
    // (and must not occupy a quota slot)
    write(Seq((1L, "a.com", "/p/ok/x", "X"),
      (2L, "a.com", "/p/bad", "B")))
    assert(runOnce() == Seq((1L, "X", 1L)))
    // restart: X re-arrival suppressed against the RESTORED list, the
    // disallowed path still gated, Y takes the LAST slot (proving B
    // never consumed one), Z quota-rejected against the restored count
    write(Seq((3L, "a.com", "/p/ok/x", "X"),
      (4L, "a.com", "/p/bad", "B2"),
      (5L, "a.com", "/q/z", "Y"),
      (6L, "a.com", "/q/w", "Z")))
    val r2 = runOnce()
    assert(r2 == Seq((5L, "Y", 2L)),
      s"gate or admission state broke across restart: $r2")
  }
}
