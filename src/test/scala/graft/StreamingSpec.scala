package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.pipeline.Stedi
import graft.streaming.{Drain, Sessionize}

/** Streaming semantics through MemoryStream → memory sink: the reference
  * pipelines as actual streaming queries, watermark late-data dropping,
  * stream-stream join, and custom stateful sessionization. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private def redisFrame(name: String, email: String, birthDay: String): String =
    s"""{"key":"Q3VzdG9tZXI=","existType":"NONE","Ch":false,"Incr":false,"zSetEntries":[{"element":"${b64(
      s"""{"customerName":"$name","email":"$email","phone":"555","birthDay":"$birthDay"}""")}","score":0.0}]}"""

  test("job B streaming: redis frames → (email, birthYear) through memory sink") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = Stedi.emailAndBirthYear(in.toDF().withColumnRenamed("value", "value"))
      .writeStream.outputMode("append").format("memory")
      .queryName("jobb_out").start()
    in.addData(redisFrame("Trevor Phillips", "trevor@test.com", "1939-05-01"))
    q.processAllAvailable()
    in.addData(redisFrame("Travis Mitra", "travis@test.com", "1965-09-12"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("jobb_out").as[(String, String)].collect().toSet
    assert(out == Set(("trevor@test.com", "1939"), ("travis@test.com", "1965")))
  }

  test("job B SQL-style (views + spark.sql over a stream) equals the DataFrame chain") {
    implicit val sqlCtx = spark.sqlContext
    val frames = Seq(
      redisFrame("Trevor Phillips", "trevor@test.com", "1939-05-01"),
      redisFrame("Travis Mitra", "travis@test.com", "1965-09-12"))
    val batch = frames.toDF("value")
    val api = Stedi.decodeCustomers(batch)
      .select("customerName", "email", "phone", "birthDay", "birthYear")
      .collect().map(_.toSeq).toSet
    val sqlStyle = Stedi.decodeCustomersSqlStyle(batch)
      .collect().map(_.toSeq).toSet
    assert(sqlStyle == api && api.size == 2)

    // and as an actual streaming query through the console-sink style path
    val in = MemoryStream[String]
    val q = Stedi.decodeCustomersSqlStyle(in.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("jobb_sql_out").start()
    in.addData(frames: _*)
    q.processAllAvailable()
    q.stop()
    assert(spark.table("jobb_sql_out").count() == 2)
  }

  test("job A streaming: stream-stream inner join emits only matched pairs") {
    implicit val sqlCtx = spark.sqlContext
    val customers = MemoryStream[String]
    val risks = MemoryStream[String]
    val joined = Stedi.joinRisk(
      Stedi.parseRiskEventsFull(risks.toDF()),
      Stedi.decodeCustomers(customers.toDF()))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("joba_out").start()
    customers.addData(redisFrame("S F", "santosh@test.com", "1963-01-01"))
    q.processAllAvailable()
    // risk event arrives AFTER the customer: symmetric-hash state matches it
    risks.addData("""{"customer":"santosh@test.com","score":"28.5","riskDate":"2020-09-15T00:00:00Z"}""")
    risks.addData("""{"customer":"unknown@test.com","score":"1.0","riskDate":"2020-09-15T00:00:00Z"}""")
    q.processAllAvailable()
    q.stop()
    val out = spark.table("joba_out")
      .select("customer", "score", "email", "birthYear")
      .as[(String, String, String, String)].collect().toSeq
    assert(out == Seq(("santosh@test.com", "28.5", "santosh@test.com", "1963")))
  }

  test("watermark drops late rows in append-mode windowed aggregation (OP-51)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Double)]
    val events = in.toDF().toDF("ts_str", "value")
      .select(col("ts_str").cast("timestamp").as("ts"), col("value"))
    val agg = events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "HH:mm").as("w_start"), col("n"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("wm_out").start()
    in.addData(("2024-01-01 10:01:00", 1.0), ("2024-01-01 10:02:00", 1.0))
    q.processAllAvailable()
    // advance watermark far beyond the 10:00 window: it finalizes
    in.addData(("2024-01-01 11:00:00", 1.0))
    q.processAllAvailable()
    // this row is older than watermark (11:00 - 10min) → dropped
    in.addData(("2024-01-01 10:03:00", 99.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("wm_out").as[(String, Long)].collect().toMap
    assert(out("10:00") == 2L, s"late row must not be counted: $out")
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap (OP-53)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sessionize.Event]
    val sessions = Sessionize.sessions(in.toDS(), gapMs = 60000)
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("sess_out").start()
    in.addData(Sessionize.Event(1L, 0L, 1.0), Sessionize.Event(1L, 30000L, 2.0))
    q.processAllAvailable()
    // 5 minutes later: previous session closes, new one opens
    in.addData(Sessionize.Event(1L, 330000L, 5.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_out").as[Sessionize.Session].collect().toSeq
    assert(out == Seq(Sessionize.Session(1L, 0L, 30000L, 2L, 3.0)))
  }

  test("EventTimeTimeout flushes an idle session once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, ms: Long, v: Double) =
      Sessionize.TimedEvent(u, new java.sql.Timestamp(ms), v)
    val in = MemoryStream[Sessionize.TimedEvent]
    val sessions = Sessionize.sessionsEventTime(in.toDS(), gapMs = 60000,
      delay = "0 seconds")
    val q = sessions.writeStream.outputMode("append").format("memory")
      .queryName("sess_timeout_out").start()
    // start above epoch 0: a ts equal to the initial watermark (0) is
    // filtered as late by the stateful operator
    in.addData(ev(1L, 100000L, 1.0), ev(1L, 130000L, 2.0))
    q.processAllAvailable()
    // user 1 never returns; another user's far-future event advances the
    // watermark past user 1's last+gap (190 s) → the timeout fires and the
    // idle session flushes WITHOUT a closing event from user 1
    in.addData(ev(2L, 700000L, 9.0))
    q.processAllAvailable()
    in.addData(ev(2L, 710000L, 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_timeout_out").as[Sessionize.Session]
      .collect().toSeq
    assert(out == Seq(Sessionize.Session(1L, 100000L, 130000L, 2L, 3.0)),
      s"expected exactly the flushed idle session: $out")
  }

  test("out-of-order event within the watermark merges into the open session") {
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, ms: Long, v: Double) =
      Sessionize.TimedEvent(u, new java.sql.Timestamp(ms), v)
    val in = MemoryStream[Sessionize.TimedEvent]
    val q = Sessionize.sessionsEventTime(in.toDS(), gapMs = 60000,
        delay = "10 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_ooo_out").start()
    in.addData(ev(1L, 100000L, 1.0))
    q.processAllAvailable()
    // watermark is now 90 s; this 95 s event is accepted but OLDER than
    // the open session's last event — it must merge (span grows to
    // [95s, 100s]), not regress last_ms / split the session
    in.addData(ev(1L, 95000L, 2.0))
    q.processAllAvailable()
    in.addData(ev(2L, 700000L, 9.0))
    q.processAllAvailable()
    in.addData(ev(2L, 710000L, 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_ooo_out").as[Sessionize.Session].collect().toSeq
    assert(out == Seq(Sessionize.Session(1L, 95000L, 100000L, 2L, 3.0)),
      s"expected one merged session spanning both events: $out")
  }

  test("straggler older than session start minus gap becomes its own session") {
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, ms: Long, v: Double) =
      Sessionize.TimedEvent(u, new java.sql.Timestamp(ms), v)
    val in = MemoryStream[Sessionize.TimedEvent]
    // gap (5 s) shorter than the watermark delay (10 s): an accepted
    // event can precede the open session's start by MORE than the gap —
    // merging would fabricate a session bridging a silence > gap
    val q = Sessionize.sessionsEventTime(in.toDS(), gapMs = 5000,
        delay = "10 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_straggler_out").start()
    in.addData(ev(1L, 100000L, 1.0))
    q.processAllAvailable()
    in.addData(ev(1L, 93000L, 2.0)) // watermark 90 s: accepted, 7 s < start
    q.processAllAvailable()
    in.addData(ev(2L, 700000L, 9.0))
    q.processAllAvailable()
    in.addData(ev(2L, 710000L, 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("sess_straggler_out").as[Sessionize.Session]
      .collect().toSeq.filter(_.user_id == 1L).sortBy(_.start_ms)
    assert(out == Seq(
      Sessionize.Session(1L, 93000L, 93000L, 1L, 2.0),
      Sessionize.Session(1L, 100000L, 100000L, 1L, 1.0)),
      s"straggler must not bridge a silence longer than the gap: $out")
  }

  test("stream-static join: risk stream against RDB-bootstrapped customers") {
    // the snapshot-seed deployment shape: customers come from the Redis
    // RDB bootstrap (static side, re-read per micro-batch, no join state),
    // risk events stream in — complements the stream-stream mode above
    implicit val sqlCtx = spark.sqlContext
    val rdbPath = "/root/reference/dump.rdb"
    assume(new java.io.File(rdbPath).canRead, "reference snapshot not present")
    val customers = graft.sources.RedisRdb.customers(spark, rdbPath)
      .select("email", "birthYear")
    val email = customers.orderBy("email").limit(1)
      .collect()(0).getString(0)
    val risks = MemoryStream[String]
    val joined = Stedi.joinRisk(Stedi.parseRiskEventsFull(risks.toDF()), customers)
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("joba_static_out").start()
    risks.addData(
      s"""{"customer":"$email","score":"12.5","riskDate":"2020-09-15T00:00:00Z"}""",
      """{"customer":"nobody@nowhere.test","score":"1.0","riskDate":"2020-09-15T00:00:00Z"}""")
    q.processAllAvailable()
    q.stop()
    val out = spark.table("joba_static_out")
      .select("customer", "score").as[(String, String)].collect().toSeq
    assert(out == Seq((email, "12.5")),
      s"only the bootstrapped customer should match: $out")
  }

  test("streaming dedup: dropDuplicatesWithinWatermark emits each key once") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val events = in.toDF().toDF("ts_str", "k")
      .select(col("ts_str").cast("timestamp").as("ts"), col("k"))
    val deduped = events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val q = deduped.writeStream.outputMode("append").format("memory")
      .queryName("dedup_wm_out").start()
    in.addData(("2024-01-01 10:01:00", "a"), ("2024-01-01 10:01:30", "a"),
      ("2024-01-01 10:02:00", "b"))
    q.processAllAvailable()
    // a replayed duplicate inside the watermark window stays suppressed
    in.addData(("2024-01-01 10:03:00", "a"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_wm_out").select("k").as[String]
      .collect().toSeq.sorted
    assert(out == Seq("a", "b"), s"expected one row per key: $out")
  }

  test("RocksDB state store runs the stateful session query (100 TB config)") {
    // the provider SCALE.md prescribes for large state: verify the whole
    // stateful path (flatMapGroupsWithState + watermark timeout) executes
    // and produces identical results under RocksDB, not just the default
    // HDFS-backed in-memory store
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ev(u: Long, ms: Long, v: Double) =
        Sessionize.TimedEvent(u, new java.sql.Timestamp(ms), v)
      val in = MemoryStream[Sessionize.TimedEvent]
      val q = Sessionize.sessionsEventTime(in.toDS(), gapMs = 60000,
          delay = "0 seconds")
        .writeStream.outputMode("append").format("memory")
        .queryName("sess_rocksdb_out").start()
      in.addData(ev(1L, 100000L, 1.0), ev(1L, 130000L, 2.0))
      q.processAllAvailable()
      in.addData(ev(2L, 700000L, 9.0))
      q.processAllAvailable()
      in.addData(ev(2L, 710000L, 1.0))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("sess_rocksdb_out").as[Sessionize.Session]
        .collect().toSeq
      assert(out == Seq(Sessionize.Session(1L, 100000L, 130000L, 2L, 3.0)),
        s"RocksDB-backed session result diverged: $out")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState sessionization matches the fMGWS spelling") {
    // Spark 4's successor API (typed ValueState + explicit timers):
    // same fixture as the EventTimeTimeout test — the idle session must
    // flush via the registered timer, and ONLY that session must emit.
    // transformWithState requires the RocksDB state store provider.
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def ev(u: Long, ms: Long, v: Double) =
        Sessionize.TimedEvent(u, new java.sql.Timestamp(ms), v)
      val in = MemoryStream[Sessionize.TimedEvent]
      val q = Sessionize.sessionsTws(in.toDS(), gapMs = 60000,
          delay = "0 seconds")
        .writeStream.outputMode("append").format("memory")
        .queryName("sess_tws_out").start()
      in.addData(ev(1L, 100000L, 1.0), ev(1L, 130000L, 2.0))
      q.processAllAvailable()
      // extend user 1's session before it expires: the ORIGINAL timer
      // (190 s) becomes stale and must be ignored when it fires
      in.addData(ev(1L, 150000L, 5.0))
      q.processAllAvailable()
      in.addData(ev(2L, 700000L, 9.0))
      q.processAllAvailable()
      in.addData(ev(2L, 710000L, 1.0))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("sess_tws_out").as[Sessionize.Session]
        .collect().toSeq
      assert(out == Seq(Sessionize.Session(1L, 100000L, 150000L, 3L, 8.0)),
        s"transformWithState session result diverged: $out")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState changelog matches the fMGWS spelling over out-of-order batches") {
    // the second state shape on Spark 4's successor API (the sessionizer
    // is the first): one ValueState held row per key, fold shared with
    // the fMGWS spelling — multi-batch out-of-order arrival must compact
    // to the same final state per key. Requires RocksDB.
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Changelog
    import graft.streaming.Changelog.Change
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Change]
      val q = Changelog.latestStateTws(in.toDS())
        .writeStream.outputMode("update").format("memory")
        .queryName("clog_tws_out").start()
      in.addData(Change(1L, 10L, 100L, "a", 5L), Change(2L, 20L, 50L, "c", 7L))
      q.processAllAvailable()
      // batch 2: a newer change for user 1 AND a straggler older than
      // the held state — counter advances by 2, winner is event 11
      in.addData(Change(1L, 11L, 200L, "b", 6L), Change(1L, 9L, 80L, "z", 1L))
      q.processAllAvailable()
      q.stop()
      // update-mode sink: last row per key is the compacted state
      val fin = spark.table("clog_tws_out")
        .groupBy("user_id").agg(max_by(
          struct(col("last_event_id"), col("n_changes"), col("last_value_cents")),
          col("n_changes")).as("s"))
        .select(col("user_id"), col("s.last_event_id"), col("s.n_changes"),
          col("s.last_value_cents"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(fin == Map(1L -> ((11L, 3L, 6L)), 2L -> ((20L, 1L, 7L))),
        s"transformWithState changelog diverged: $fin")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("console sink (OP-03) starts and drains a streaming decode query") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = graft.sources.KafkaIO
      .toConsole(Stedi.emailAndBirthYear(in.toDF()))
      .start()
    in.addData(redisFrame("A B", "ab@test.com", "1950-01-01"))
    q.processAllAvailable()
    q.stop()
    assert(q.exception.isEmpty, s"console query failed: ${q.exception}")
  }

  test("foreachBatch sink receives micro-batches with batch ids") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val seen = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val q = Stedi.emailAndBirthYear(in.toDF())
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[_], id: Long) =>
        seen.put(id, batch.count()): Unit
      }
      .start()
    in.addData(redisFrame("A B", "a@test.com", "1950-01-01"))
    q.processAllAvailable()
    in.addData(redisFrame("C D", "c@test.com", "1960-01-01"),
      redisFrame("E F", "e@test.com", "1970-01-01"))
    q.processAllAvailable()
    q.stop()
    assert(seen.values.sum == 3, s"expected 3 rows across batches: $seen")
    assert(seen.keySet.size >= 2, s"expected multiple micro-batches: $seen")
  }

  test("cold bootstrap: EMPTY ANN indexes answer with no matches, not a " +
      "build failure (r15 advice)") {
    // the legacy stream-static join spelling returned an empty result
    // set over an empty cells store; the broadcast-shard spellings must
    // keep that contract instead of require-failing (ivf/sq8) or
    // crashing on empty.max in the codebook geometry (ivf-pq)
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingAnn
    val dir = tempDir("graft_empty_idx_")
    try {
      def cents(p: String): Unit =
        Seq.empty[(Long, Seq[Long], Long)]
          .toDF("cent_id", "cent_vec", "cent_n2").write.parquet(p)
      cents(s"$dir/ivf/centroids")
      Seq.empty[(Long, Long, Seq[Long], Long)]
        .toDF("cent_id", "n_id", "n_id_vec", "n_id_n2")
        .write.parquet(s"$dir/ivf/cells")
      cents(s"$dir/sq8/centroids")
      Seq.empty[(Long, Long, Seq[Long], Long)]
        .toDF("cent_id", "n_id", "codes", "c_n2")
        .write.parquet(s"$dir/sq8/codes")
      cents(s"$dir/ivfpq/centroids")
      Seq.empty[(Int, Long, Seq[Long], Long)]
        .toDF("sub_j", "code", "cent_vec", "cent_n2")
        .write.parquet(s"$dir/ivfpq/codebook")
      Seq.empty[(Long, Long, Seq[Long])]
        .toDF("cent_id", "n_id", "codes")
        .write.parquet(s"$dir/ivfpq/codes_packed")
      val legs = Seq[(String, org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame)](
        "ivf" -> (q => StreamingAnn.ivfProbeStream(q, s"$dir/ivf", 5)),
        "sq8" -> (q => StreamingAnn.sq8ProbeStream(q, s"$dir/sq8", 5)),
        "ivfpq" -> (q => StreamingAnn.ivfPqProbeStream(q, s"$dir/ivfpq", 5)))
      legs.foreach { case (name, leg) =>
        val in = MemoryStream[(Long, Seq[Float])]
        val q = leg(in.toDF().toDF("vec_id", "embedding"))
          .writeStream.outputMode("update").format("memory")
          .queryName(s"empty_idx_$name").start()
        in.addData((1L, Seq.fill(8)(0.5f)))
        q.processAllAvailable()
        q.stop()
        assert(spark.table(s"empty_idx_$name").count() == 0,
          s"$name leg emitted rows from an empty index")
        spark.sql(s"DROP VIEW IF EXISTS empty_idx_$name")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }

  test("streaming ANN probe over the prebuilt IVF index equals the batch probe") {
    // online-serving half of the similarity story: query vectors arrive
    // as a stream and probe the static persisted index (stream-static
    // join on cent_id + bounded TopKAgg) — results must equal the batch
    // ivfProbe for the same queries and parameters
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Similarity
    import graft.streaming.StreamingAnn
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val dir = tempDir("graft_stream_ann_")
    try {
      Similarity.ivfIndexWrite(emb, s"$dir/ivf", nCells = 16)
      val queries = emb.filter(col("vec_id") < 8)
      val in = MemoryStream[(Long, Seq[Float])]
      val stream = StreamingAnn.ivfProbeStream(
        in.toDF().toDF("vec_id", "embedding"), s"$dir/ivf", 5, nProbe = 4)
      val q = stream.writeStream.outputMode("complete").format("memory")
        .queryName("ann_probe_out").start()
      in.addData(queries.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq)
      q.processAllAvailable()
      q.stop()
      val got = StreamingAnn.explodeTopK(spark.table("ann_probe_out"))
        .orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val want = Similarity.ivfProbe(queries, s"$dir/ivf", 5, nProbe = 4)
        .orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got.nonEmpty, "streaming probe emitted no rows")
      assert(got == want,
        "streaming ANN probe diverged from the batch probe over the same index")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("incremental dedup against a persisted fingerprint store spans restarts") {
    // cross-run dedup contract: run 1 emits only content absent from the
    // store and appends what it emitted; a RESTARTED stream fed
    // overlapping data emits nothing already accepted — the guarantee
    // spans process lifetimes via the store, not a streaming checkpoint
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.IncrementalDedup
    import graft.sources.Tables
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .orderBy("doc_id").limit(150).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dir = tempDir("graft_fp_store_")
    val store = s"$dir/fps"
    try {
      // seed the store with docs 0..99 (a previous run's corpus)
      IncrementalDedup.fingerprints(
          spark.createDataFrame(docs.take(100).toSeq).toDF("doc_id", "text"),
          "text")
        .write.mode("overwrite").parquet(store)
      // run 1 streams docs 50..149 with an in-stream duplicate of #120
      val in1 = MemoryStream[(Long, String)]
      val q1 = IncrementalDedup.dedupAgainstStore(
          in1.toDF().toDF("doc_id", "text"), store, "text")
        .writeStream.outputMode("append").format("memory")
        .queryName("inc_dedup_1").start()
      val dup = docs(120)
      in1.addData(docs.drop(50).toSeq :+ dup)
      q1.processAllAvailable()
      q1.stop()
      val got1 = spark.table("inc_dedup_1").select("doc_id").as[Long]
        .collect().sorted.toSeq
      // store had 0..99; stream carried 50..149 → only 100..149 emerge,
      // the planted duplicate exactly once
      assert(got1 == (100L until 150L).toSeq,
        s"run 1 emitted ${got1.size} docs: $got1")
      // append run 1's fingerprints, restart, replay an overlapping slice
      IncrementalDedup.fingerprints(
          spark.createDataFrame(docs.drop(100).toSeq).toDF("doc_id", "text"),
          "text")
        .write.mode("append").parquet(store)
      val in2 = MemoryStream[(Long, String)]
      val q2 = IncrementalDedup.dedupAgainstStore(
          in2.toDF().toDF("doc_id", "text"), store, "text")
        .writeStream.outputMode("append").format("memory")
        .queryName("inc_dedup_2").start()
      in2.addData(docs.drop(80).toSeq)
      q2.processAllAvailable()
      q2.stop()
      assert(spark.table("inc_dedup_2").isEmpty,
        "restarted stream re-emitted content the store already holds")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("bloom fast-path incremental dedup emits exactly the plain spelling's rows") {
    // might-contain=false proves absence (those rows bypass the store
    // anti-join); positives — true hits AND false positives — confirm
    // against the store. Net: row-identical output, smaller join input.
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.IncrementalDedup
    import graft.sources.Tables
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .orderBy("doc_id").limit(150).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dir = tempDir("graft_fp_bloom_")
    val store = s"$dir/fps"
    try {
      IncrementalDedup.fingerprints(
          spark.createDataFrame(docs.take(100).toSeq).toDF("doc_id", "text"),
          "text")
        .write.mode("overwrite").parquet(store)
      def run(tag: String,
          f: (org.apache.spark.sql.DataFrame, String, String) =>
            org.apache.spark.sql.DataFrame): Seq[Long] = {
        val in = MemoryStream[(Long, String)]
        val q = f(in.toDF().toDF("doc_id", "text"), store, "text")
          .writeStream.outputMode("append").format("memory")
          .queryName(tag).start()
        in.addData(docs.drop(50).toSeq :+ docs(120))
        q.processAllAvailable()
        q.stop()
        spark.table(tag).select("doc_id").as[Long].collect().sorted.toSeq
      }
      val plain = run("inc_dedup_plain", IncrementalDedup.dedupAgainstStore)
      val bloom = run("inc_dedup_bloom",
        IncrementalDedup.dedupAgainstStoreBloom(_, _, _))
      assert(plain == (100L until 150L).toSeq)
      assert(bloom == plain)
      // and against a MISSING store the bloom path bootstraps too
      val fresh = tempDir("graft_fp_none_")
      try {
        val in = MemoryStream[(Long, String)]
        val q = IncrementalDedup.dedupAgainstStoreBloom(
            in.toDF().toDF("doc_id", "text"), s"$fresh/absent", "text")
          .writeStream.outputMode("append").format("memory")
          .queryName("inc_dedup_bloom_boot").start()
        in.addData(docs.take(5).toSeq :+ docs(2))
        q.processAllAvailable()
        q.stop()
        assert(spark.table("inc_dedup_bloom_boot").count() == 5L)
      } finally {
        import scala.reflect.io.Directory
        new Directory(fresh.toFile).deleteRecursively(): Unit
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("incremental dedup bootstraps when the store does not exist yet") {
    // first-run contract (advisor finding): an absent store dir means
    // "nothing accepted yet", not a stream-build crash — the run dedups
    // in-stream only, and an existing-but-empty dir behaves the same
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.IncrementalDedup
    val dir = tempDir("graft_fp_boot_")
    try {
      val missing = s"$dir/never_written"
      val in = MemoryStream[(Long, String)]
      val q = IncrementalDedup.dedupAgainstStore(
          in.toDF().toDF("doc_id", "text"), missing, "text")
        .writeStream.outputMode("append").format("memory")
        .queryName("inc_dedup_boot").start()
      in.addData((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("inc_dedup_boot").select("doc_id").as[Long]
        .collect().sorted.toSeq
      assert(got == Seq(1L, 2L), s"bootstrap run emitted $got")
      // empty dir (exists, no parquet yet): same behavior via the
      // explicit read schema
      val empty = java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(s"$dir/empty_store")).toString
      val in2 = MemoryStream[(Long, String)]
      val q2 = IncrementalDedup.dedupAgainstStore(
          in2.toDF().toDF("doc_id", "text"), empty, "text")
        .writeStream.outputMode("append").format("memory")
        .queryName("inc_dedup_boot2").start()
      in2.addData((7L, "gamma"))
      q2.processAllAvailable()
      q2.stop()
      assert(spark.table("inc_dedup_boot2").select("doc_id").as[Long]
        .collect().toSeq == Seq(7L))
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("incremental dedup runs its stateful operators on RocksDB via StateStores.withRocksDb") {
    // the 100 TB state config on the DEDUP path (the sessionization and
    // windowed-agg paths have their own RocksDB cases): same results as
    // the default provider, and the query's state-operator metrics must
    // carry rocksdb* entries — proof the provider actually served the
    // dropDuplicates state, not just that the conf was set. (The name
    // keeps the old helper's, so the test id stays stable; the query now
    // starts through Drain.start with StateStores.rocksDbConf.)
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{IncrementalDedup, StateStores}
    val dir = tempDir("graft_fp_rocks_")
    try {
      val store = s"$dir/fps"
      IncrementalDedup.fingerprints(
          Seq((1L, "seeded")).toDF("doc_id", "text"), "text")
        .write.mode("overwrite").parquet(store)
      val in = MemoryStream[(Long, String)]
      val q = Drain.start(spark, StateStores.rocksDbConf)(
        IncrementalDedup.dedupAgainstStore(
            in.toDF().toDF("doc_id", "text"), store, "text")
          .writeStream.outputMode("append").format("memory")
          .queryName("inc_dedup_rocks"))
      in.addData((2L, "fresh"), (3L, "seeded"), (4L, "fresh"))
      q.processAllAvailable()
      val metrics = q.lastProgress.stateOperators.flatMap(
        _.customMetrics.keySet().toArray(Array.empty[String]))
      q.stop()
      assert(metrics.exists(_.startsWith("rocksdb")),
        s"state metrics carry no rocksdb entries: ${metrics.mkString(",")}")
      assert(spark.table("inc_dedup_rocks").select("doc_id").as[Long]
        .collect().sorted.toSeq == Seq(2L),
        "RocksDB-backed dedup diverged from expected output")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("RocksDB matrix: every streaming state shape runs on the 100TB provider") {
    // StateStores.rocksDbConf is spec'd on the dedup path above; this
    // matrix runs EVERY other stateful streaming shape the library
    // ships under the RocksDB provider — the six online ANN serving
    // legs (TopKAgg / topKDistinct aggregation state) and the
    // changelog's flatMapGroupsWithState single-row-per-key state —
    // asserting per query that the state-operator metrics carry
    // rocksdb* entries (the provider actually served the state) and
    // that output is produced
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Similarity
    import graft.streaming.{Changelog, StateStores, StreamingAnn}
    import graft.sources.Tables
    import org.apache.spark.sql.DataFrame
    val emb = Tables.embeddings(spark, sfDir)
    val queryVecs = emb.filter(col("vec_id") < 8)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val dir = tempDir("graft_rocks_matrix_")
    def rocksMetrics(q: org.apache.spark.sql.streaming.StreamingQuery)
        : Array[String] =
      q.lastProgress.stateOperators.flatMap(
        _.customMetrics.keySet().toArray(Array.empty[String]))
    try {
      Similarity.ivfIndexWrite(emb, s"$dir/ivf", nCells = 16)
      Similarity.lshIndexWrite(emb, s"$dir/lsh")
      Similarity.pqIndexWrite(emb, s"$dir/pq")
      Similarity.sq8IndexWrite(emb, s"$dir/sq8", nCells = 16)
      Similarity.ivfPqIndexWrite(emb, s"$dir/ivfpq", nCells = 16)
      Similarity.nndIndexWrite(emb, s"$dir/nnd", k = 16, rounds = 3)
      val annLegs: Seq[(String, DataFrame => DataFrame)] = Seq(
        "op96_ivf" ->
          (df => StreamingAnn.ivfProbeStream(df, s"$dir/ivf", 5)),
        "op292_graph" ->
          (df => StreamingAnn.graphProbeStream(df, s"$dir/nnd", 5)),
        "op97_lsh" ->
          (df => StreamingAnn.lshProbeStream(df, s"$dir/lsh", 5)),
        "op100_pq_adc" ->
          (df => StreamingAnn.pqAdcProbeStream(df, s"$dir/pq", 5)),
        "op116_sq8" ->
          (df => StreamingAnn.sq8ProbeStream(df, s"$dir/sq8", 5)),
        "op120_ivfpq" ->
          (df => StreamingAnn.ivfPqProbeStream(df, s"$dir/ivfpq", 5)))
      for ((name, leg) <- annLegs) {
        locally {
          val in = MemoryStream[(Long, Seq[Float])]
          val q = Drain.start(spark, StateStores.rocksDbConf)(
            leg(in.toDF().toDF("vec_id", "embedding"))
              .writeStream.outputMode("complete").format("memory")
              .queryName(s"rocks_$name"))
          in.addData(queryVecs)
          q.processAllAvailable()
          val metrics = rocksMetrics(q)
          q.stop()
          assert(metrics.exists(_.startsWith("rocksdb")),
            s"$name: state metrics carry no rocksdb entries: " +
              metrics.mkString(","))
        }
        assert(spark.table(s"rocks_$name").count() > 0,
          s"$name emitted no rows under RocksDB")
        spark.sql(s"DROP VIEW IF EXISTS rocks_$name")
      }
      // the changelog's fMGWS state (op108): one held row per key
      locally {
        val in = MemoryStream[Changelog.Change]
        val q = Drain.start(spark, StateStores.rocksDbConf)(
          Changelog.latestState(in.toDS())
            .writeStream.outputMode("update").format("memory")
            .queryName("rocks_changelog"))
        in.addData(
          Changelog.Change(1L, 10L, 100L, "upd", 5L),
          Changelog.Change(1L, 11L, 200L, "upd", 7L),
          Changelog.Change(2L, 12L, 150L, "ins", 3L))
        q.processAllAvailable()
        val metrics = rocksMetrics(q)
        q.stop()
        assert(metrics.exists(_.startsWith("rocksdb")),
          s"changelog: state metrics carry no rocksdb entries: " +
            metrics.mkString(","))
      }
      // the streaming SCD2's open-version state (op131): one typed
      // ValueState row per (user, event_type) under transformWithState
      locally {
        import graft.streaming.ScdStream
        val in = MemoryStream[ScdStream.Ev]
        val q = Drain.start(spark, StateStores.rocksDbConf)(
          ScdStream.closedIntervals(in.toDS())
            .writeStream.outputMode("append").format("memory")
            .queryName("rocks_scd2"))
        in.addData(
          ScdStream.Ev(1L, "a", 10L, 1L, 50000L),
          ScdStream.Ev(1L, "a", 20L, 2L, 70000L),
          ScdStream.Ev(2L, "b", 15L, 3L, 90000L))
        q.processAllAvailable()
        val metrics = rocksMetrics(q)
        q.stop()
        assert(metrics.exists(_.startsWith("rocksdb")),
          s"scd2: state metrics carry no rocksdb entries: " +
            metrics.mkString(","))
      }
      // one closed interval (user 1's change); user 2 stays open state
      assert(spark.table("rocks_scd2").count() == 1,
        "streaming SCD2 emitted wrong closed-interval count under RocksDB")
      spark.sql("DROP VIEW IF EXISTS rocks_scd2")
      // the production bounded join's symmetric-hash state (op123):
      // both sides' keyed state lives in the provider under swap too
      locally {
        import graft.pipeline.Stedi
        val customers = MemoryStream[(String, String, String)]
        val risks = MemoryStream[(String, String, String)]
        val custDf = customers.toDF().toDF("email", "birthYear", "seen_str")
          .select(col("email"), col("birthYear"),
            col("seen_str").cast("timestamp").as("seenAt"))
        val riskDf = risks.toDF().toDF("customer", "score", "riskDate")
        val q = Drain.start(spark, StateStores.rocksDbConf)(
          Stedi.joinRiskBounded(riskDf, custDf, maxAge = "1 hour")
            .writeStream.outputMode("append").format("memory")
            .queryName("rocks_bounded_join"))
        customers.addData(("a@test.com", "1950", "2024-01-01 10:00:00"))
        risks.addData(("a@test.com", "5.0", "2024-01-01T10:30:00.000Z"))
        q.processAllAvailable()
        val metrics = rocksMetrics(q)
        q.stop()
        assert(metrics.exists(_.startsWith("rocksdb")),
          s"bounded join: state metrics carry no rocksdb entries: " +
            metrics.mkString(","))
      }
      assert(spark.table("rocks_bounded_join").count() == 1,
        "bounded join emitted wrong row count under RocksDB")
      spark.sql("DROP VIEW IF EXISTS rocks_bounded_join")
      // compaction semantics held through the provider swap: the last
      // write per key is the (ts_us, event_id)-max change
      val fin = spark.table("rocks_changelog")
        .groupBy("user_id").agg(max_by(
          struct(col("last_event_id"), col("n_changes")),
          col("n_changes")).as("s"))
        .select(col("user_id"), col("s.last_event_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fin == Map(1L -> 11L, 2L -> 12L),
        s"RocksDB-backed changelog compacted wrong state: $fin")
      spark.sql("DROP VIEW IF EXISTS rocks_changelog")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("streaming LSH probe over the prebuilt index equals the batch probe") {
    // third leg of the online-serving trio: per-row query bucketing with
    // the regenerated planes + stream-static join on the partitioned
    // bucket table; topKDistinct's one-slot-per-id buffer stands in for
    // the batch path's candidate-pair dropDuplicates — results must
    // equal the batch lshProbe exactly
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Similarity
    import graft.streaming.StreamingAnn
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val dir = tempDir("graft_stream_lsh_")
    try {
      Similarity.lshIndexWrite(emb, s"$dir/lsh")
      val queries = emb.filter(col("vec_id") < 8)
      val in = MemoryStream[(Long, Seq[Float])]
      val stream = StreamingAnn.lshProbeStream(
        in.toDF().toDF("vec_id", "embedding"), s"$dir/lsh", 5)
      val q = stream.writeStream.outputMode("complete").format("memory")
        .queryName("lsh_probe_out").start()
      in.addData(queries.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq)
      q.processAllAvailable()
      q.stop()
      val got = StreamingAnn.explodeTopK(spark.table("lsh_probe_out"))
        .orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val want = Similarity.lshProbe(queries, s"$dir/lsh", 5)
        .orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got.nonEmpty, "streaming LSH probe emitted no rows")
      assert(got == want,
        "streaming LSH probe diverged from the batch probe over the same index")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("streaming SQ8 probe over the prebuilt index matches an independent driver-side replay") {
    // the fourth leg of online serving: probe-cell choice from inlined
    // centroid literals + stream-static join on the partitioned int8
    // code store; the oracle here is a from-scratch Scala replay over
    // the stored tables (cell choice, code scoring, tiebreaks)
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Similarity
    import graft.streaming.StreamingAnn
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val dir = tempDir("graft_stream_sq8_")
    try {
      Similarity.sq8IndexWrite(emb, s"$dir/sq8", nCells = 16, lloydIters = 2)
      val queries = emb.filter(col("vec_id") < 4)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val in = MemoryStream[(Long, Seq[Float])]
      val stream = StreamingAnn.sq8ProbeStream(
        in.toDF().toDF("vec_id", "embedding"), s"$dir/sq8", 5, nProbe = 4)
      val q = stream.writeStream.outputMode("complete").format("memory")
        .queryName("sq8_probe_out").start()
      in.addData(queries.toSeq)
      q.processAllAvailable()
      q.stop()
      val got = StreamingAnn.explodeTopK(spark.table("sq8_probe_out"), "sq_bp")
        .orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

      def dot(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => x * y }.sum
      def cosBp(d: Long, n2a: Long, n2b: Long): Long =
        if (n2a == 0 || n2b == 0) 0L
        else math.floor(d.toDouble /
          (math.sqrt(n2a.toDouble) * math.sqrt(n2b.toDouble)) * 1e4).toLong
      val cents = spark.read.parquet(s"$dir/sq8/centroids").collect()
        .map(r => (r.getLong(r.fieldIndex("cent_id")),
          r.getSeq[Long](r.fieldIndex("cent_vec")).toArray,
          r.getLong(r.fieldIndex("cent_n2"))))
      val codes = spark.read.parquet(s"$dir/sq8/codes")
        .withColumn("cent_id", col("cent_id").cast("bigint")).collect()
        .map(r => (r.getLong(r.fieldIndex("n_id")),
          r.getLong(r.fieldIndex("cent_id")),
          r.getSeq[Long](r.fieldIndex("codes")).toArray,
          r.getLong(r.fieldIndex("c_n2"))))
      val want = queries.flatMap { case (qid, e) =>
        val qv = e.map(x => math.floor(x.toDouble * 1e6).toLong).toArray
        val qn2 = dot(qv, qv)
        val probed = cents
          .map { case (cid, cv, cn2) => (-cosBp(dot(qv, cv), qn2, cn2), cid) }
          .sorted.take(4).map(_._2).toSet
        codes.filter(c => probed(c._2) && c._1 != qid)
          .map { case (nid, _, cvec, cn2) =>
            (nid, cosBp(dot(qv, cvec), qn2, cn2)) }
          .sortBy { case (nid, bp) => (-bp, nid) }.take(5).zipWithIndex
          .map { case ((nid, bp), i) => (qid, nid, bp, (i + 1).toLong) }
      }.toSeq.sortBy(r => (r._1, r._4))
      assert(got == want, "streamed SQ8 probe diverged from the driver replay")
      assert(got.nonEmpty)
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("streaming PQ ADC probe over the prebuilt index matches an independent driver-side ADC") {
    // the PQ half of online serving: unlike IVF (which prunes to cells),
    // ADC scans every stored code array with a cheap per-candidate
    // distance — so the streaming plan is codebook-as-literals + a
    // stream-static join on the packed codes + one bounded TopKAgg, and
    // the oracle is a from-scratch ADC replay in plain Scala over the
    // stored tables (catches normalization, slicing, lookup and
    // tiebreak bugs independently of any Spark spelling)
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Similarity
    import graft.streaming.StreamingAnn
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val dir = tempDir("graft_stream_pq_")
    try {
      Similarity.pqIndexWrite(emb, s"$dir/pq", m = 8, nCents = 16)
      val queries = emb.filter(col("vec_id") < 4)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
      val in = MemoryStream[(Long, Seq[Float])]
      val stream = StreamingAnn.pqAdcProbeStream(
        in.toDF().toDF("vec_id", "embedding"), s"$dir/pq", 5)
      val q = stream.writeStream.outputMode("complete").format("memory")
        .queryName("pq_probe_out").start()
      in.addData(queries.toSeq)
      q.processAllAvailable()
      q.stop()
      val got = StreamingAnn.explodeTopK(spark.table("pq_probe_out"), "neg_d2")
        .orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

      // independent ADC replay over the stored tables, no Spark expressions
      val cb = spark.read.parquet(s"$dir/pq/codebook").collect()
        .map(r => (r.getInt(r.fieldIndex("sub_j")),
          r.getLong(r.fieldIndex("code"))) ->
          ((r.getSeq[Long](r.fieldIndex("cent_vec")).toArray,
            r.getLong(r.fieldIndex("cent_n2")))))
        .toMap
      val m = cb.keys.map(_._1).max + 1
      val subDim = cb.values.head._1.length
      val codesByVec = spark.read.parquet(s"$dir/pq/codes").collect()
        .map(r => (r.getLong(r.fieldIndex("vec_id")),
          r.getInt(r.fieldIndex("sub_j")), r.getLong(r.fieldIndex("code"))))
        .groupBy(_._1)
        .map { case (v, rows) => v -> rows.sortBy(_._2).map(_._3) }
      def normalize(v: Seq[Float]): Array[Long] = {
        val qv = v.map(x => math.floor(x.toDouble * 1e6).toLong).toArray
        val n2 = qv.map(x => x * x).sum
        if (n2 == 0) qv
        else qv.map(x => math.floor(x.toDouble * 1e6 / math.sqrt(n2.toDouble)).toLong)
      }
      val want = queries.flatMap { case (qid, embq) =>
        val nv = normalize(embq)
        val sv = (0 until m).map(j => nv.slice(j * subDim, (j + 1) * subDim))
        val s2 = sv.map(s => s.map(x => x * x).sum)
        codesByVec.toSeq.filter(_._1 != qid)
          .map { case (cand, codes) =>
            val d2 = (0 until m).map { j =>
              val (cvec, cn2) = cb((j, codes(j)))
              s2(j) - 2L * sv(j).zip(cvec).map { case (a, b) => a * b }.sum + cn2
            }.sum
            (cand, d2)
          }
          .sortBy { case (cand, d2) => (d2, cand) }.take(5).zipWithIndex
          .map { case ((cand, d2), i) => (qid, cand, -d2, (i + 1).toLong) }
      }.sortBy(t => (t._1, t._4)).toSeq
      assert(got.nonEmpty, "streaming PQ probe emitted no rows")
      assert(got == want,
        "streaming PQ ADC probe diverged from the driver-side ADC replay")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("streaming curation pipeline (quality gate + langid + scrub) equals the batch twin") {
    // documents arriving as a stream pass through the curation chain —
    // quality score, language ID, PII scrub, token count — and a
    // quality-gate filter; every op is per-row (narrow), so the chain
    // runs in plain append mode with no state, and a full replay must
    // equal the batch spelling over the same rows
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.TextOps
    import graft.sources.Tables
    val enStop = TextOps.defaultProfiles.head._2
    def curate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(col("doc_id"),
          TextOps.qualityScoreBp(col("text"), enStop).as("quality_bp"),
          TextOps.langId(col("text"), TextOps.defaultProfiles).as("lang_pred"),
          TextOps.scrubPii(col("text")).as("scrubbed"),
          TextOps.tokenCountWs(col("text")).as("n_tok"))
        .filter(col("quality_bp") >= 8000)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .limit(300).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val in = MemoryStream[(Long, String)]
    val q = curate(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append").format("memory")
      .queryName("curate_out").start()
    in.addData(docs)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("curate_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSet
    val want = curate(
        spark.createDataFrame(docs).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSet
    assert(got.nonEmpty && got == want,
      "streamed curation diverged from the batch twin")
    assert(got.size < docs.size, "quality gate filtered nothing — fixture too easy")
  }

  test("changelog compaction stream: final update per key equals the batch max_by (op106)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Changelog
    val ev = graft.sources.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"), col("event_type"),
        round(col("value") * 100, 0).cast("bigint").as("value_cents"))
      .as[Changelog.Change].collect()
    // arrival batches striped by event_id, NOT by time — later batches
    // carry stragglers older than the held state, exercising the
    // no-regress branch of the fold
    val batches = ev.groupBy(c => c.event_id % 3)
    assert(batches.size == 3)
    val in = MemoryStream[Changelog.Change]
    val q = Changelog.latestState(in.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("changelog_out").start()
    (0L to 2L).foreach { b =>
      in.addData(batches(b).toSeq); q.processAllAvailable()
    }
    q.stop()
    // update mode re-emits a touched key's state each batch; n_changes
    // strictly grows, so the max-n_changes row per key IS the final state
    val got = spark.table("changelog_out").as[Changelog.LatestRow].collect()
      .groupBy(_.user_id).map { case (_, rs) => rs.maxBy(_.n_changes) }.toSet
    val want = graft.queries.LakehouseQueries
      .op106ChangelogCompact(spark, sfDir).collect()
      .map(r => Changelog.LatestRow(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == want, "streamed changelog state diverged from batch op106")
  }

  test("op108 file-stream changelog drain equals batch op106 exactly") {
    val streamed = graft.queries.LakehouseQueries
      .op108StreamChangelog(spark, sfDir).collect().map(_.toSeq).toSeq
    val batch = graft.queries.LakehouseQueries
      .op106ChangelogCompact(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("op51 streamed tumbling equals the batch twin on a full replay") {
    val streamed = graft.streaming.WindowOps.streamedTumbling(spark, sfDir)
      .orderBy("w_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = graft.streaming.WindowOps
      .tumblingCounts(graft.sources.Tables.events(spark, sfDir), "1 hour")
      .orderBy("w_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("streaming decontamination flag: bloom path == plain path == batch replay") {
    // op134's contract: the ANY-overlap flag set must be identical
    // whether computed per micro-batch (bloom fast path or plain
    // semi-join) or as one batch frame — a bloom false positive must
    // never flag a clean doc (exact confirm), and a true benchmark
    // shingle must always flag (no false negatives by construction)
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDecontaminate
    import graft.sources.Tables
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .orderBy("doc_id").limit(200).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dir = tempDir("graft_decon_")
    try {
      StreamingDecontaminate.storeWrite(
        spark.createDataFrame(docs.filter(_._1 % 50 == 0).toSeq)
          .toDF("doc_id", "text"),
        "doc_id", "text", dir.toString)
      val streamRows = docs.filter(_._1 % 50 != 0).toSeq
      val want = StreamingDecontaminate.flagAgainstStore(
          spark.createDataFrame(streamRows).toDF("doc_id", "text"),
          dir.toString, "doc_id", "text")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(want.nonEmpty && want.size < streamRows.size,
        s"gate is vacuous: ${want.size} of ${streamRows.size} flagged")
      def run(tag: String, bloom: Boolean): Seq[Long] = {
        val in = MemoryStream[(Long, String)]
        val pipe =
          if (bloom) StreamingDecontaminate.flagAgainstStoreBloom(
            in.toDF().toDF("doc_id", "text"), dir.toString, "doc_id", "text")
          else StreamingDecontaminate.flagAgainstStore(
            in.toDF().toDF("doc_id", "text"), dir.toString, "doc_id", "text")
        val q = pipe.writeStream.outputMode("append").format("memory")
          .queryName(tag).start()
        in.addData(streamRows.take(80))
        q.processAllAvailable()
        in.addData(streamRows.drop(80))
        q.processAllAvailable()
        q.stop()
        spark.table(tag).collect().map(_.getLong(0)).sorted.toSeq
      }
      assert(run("decon_plain", bloom = false) == want)
      assert(run("decon_bloom", bloom = true) == want)
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("near-dup and decontamination streams bootstrap when the store is absent") {
    // the family's shared first-run contract (the IncrementalDedup
    // advisor finding, applied to the r9 stores): no store yet means
    // nothing can match/flag — the stream builds and emits nothing,
    // instead of crashing at the static-side read
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{StreamingDecontaminate, StreamingNearDedup}
    val dir = tempDir("graft_boot_r9_")
    try {
      val rows = Seq(
        (1L, "quick brown fox jumps over dogs"),
        (2L, "pack my box with five dozen jugs"))
      def drain(tag: String,
          pipe: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Long = {
        val in = MemoryStream[(Long, String)]
        val q = pipe(in.toDF().toDF("doc_id", "text"))
          .writeStream.outputMode("append").format("memory")
          .queryName(tag).start()
        in.addData(rows)
        q.processAllAvailable()
        q.stop()
        spark.table(tag).count()
      }
      assert(drain("nd_boot", StreamingNearDedup.matchesAgainstStore(
        _, s"$dir/absent_nd", "doc_id", "text")) == 0L)
      assert(drain("dc_boot", StreamingDecontaminate.flagAgainstStore(
        _, s"$dir/absent_dc", "doc_id", "text")) == 0L)
      assert(drain("dcb_boot", StreamingDecontaminate.flagAgainstStoreBloom(
        _, s"$dir/absent_dcb", "doc_id", "text")) == 0L)
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("streaming near-dup equals the batch spelling, default AND RocksDB providers") {
    // the op132 machinery: per-row KM signatures + stream-static band
    // join + candidate-restricted confirm must yield the identical pair
    // set whether the arrivals come as micro-batches (either state-store
    // provider — dropDuplicates holds the pair state) or as one batch
    // frame (stream-static joins degrade to plain joins)
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{StateStores, StreamingNearDedup}
    import graft.sources.Tables
    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
      .orderBy("doc_id").limit(90).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val texts = base.toMap
    // plant exact copies of store-slice docs (9, 21) at stream-slice ids
    // (10, 22) so confirmed matches exist by construction
    val corpus = base.map {
      case (10L, _) => (10L, texts(9L))
      case (22L, _) => (22L, texts(21L))
      case other    => other
    }
    val dir = tempDir("graft_neardup_")
    try {
      StreamingNearDedup.storeWrite(
        spark.createDataFrame(corpus.filter(_._1 % 3 == 0).toSeq)
          .toDF("doc_id", "text"),
        "doc_id", "text", dir.toString)
      val streamRows = corpus.filter(_._1 % 3 != 0).toSeq
      val want = StreamingNearDedup.matchesAgainstStore(
          spark.createDataFrame(streamRows).toDF("doc_id", "text"),
          dir.toString, "doc_id", "text", 8000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      val pairs = want.map(p => (p._1, p._2))
      assert(pairs.contains((10L, 9L)) && pairs.contains((22L, 21L)),
        s"planted copies not matched: $want")
      def run(tag: String, rocks: Boolean): Seq[(Long, Long, Long)] = {
        val in = MemoryStream[(Long, String)]
        val q = Drain.start(spark,
            if (rocks) StateStores.rocksDbConf else Map.empty)(
          StreamingNearDedup.matchesAgainstStore(
              in.toDF().toDF("doc_id", "text"), dir.toString,
              "doc_id", "text", 8000L)
            .writeStream.outputMode("append").format("memory")
            .queryName(tag))
        // two micro-batches so the band join runs incrementally
        in.addData(streamRows.take(20))
        q.processAllAvailable()
        in.addData(streamRows.drop(20))
        q.processAllAvailable()
        q.stop()
        spark.table(tag).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      }
      assert(run("neardup_default", rocks = false) == want)
      assert(run("neardup_rocksdb", rocks = true) == want)
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("op249 streamed transitions equal batch op166; split-invariant fold") {
    val stream = graft.queries.StreamQueries
      .op249StreamTransitions(spark, sfDir).collect().map(_.toSeq).toSeq
    val batch = graft.queries.SketchQueries.defs("op166_markov_transitions")
      .apply(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(stream == batch)
    // fold exactness on any batch split: pairs from (slice1 then slice2
    // with carried state) equal pairs from the whole sequence — the
    // property that lets multi-batch arrival sit under the batch oracle
    import graft.streaming.TransitionStream.{foldBatch, Transition}
    val evs = Seq((10L, 1L, "view"), (20L, 2L, "click"), (20L, 3L, "view"),
      (30L, 4L, "purchase"), (40L, 5L, "error"))
    val (wholeP, wholeS) = foldBatch(7L, evs, None)
    (0 to evs.length).foreach { cut =>
      val (p1, s1) = foldBatch(7L, evs.take(cut), None)
      val (p2, s2) = foldBatch(7L, evs.drop(cut), s1)
      assert(p1 ++ p2 == wholeP, s"cut=$cut")
      assert(s2 == wholeS, s"cut=$cut")
    }
    // first event emits nothing; n transitions = n events - 1
    assert(wholeP.length == evs.length - 1)
    assert(wholeP.head == Transition(7L, "view", "click"))
  }

  test("op306 chained join->agg: closed windows emit, open ones are withheld") {
    // the multi-stateful-operator contract: the daily aggregate after
    // the bounded join emits a window only once the watermark that
    // propagates THROUGH the join passes the day's end — a group fed
    // by the newest events must stay in state, not leak out early
    implicit val sqlCtx = spark.sqlContext
    import graft.pipeline.Stedi
    val customers = MemoryStream[(String, String, String)]
    val risks = MemoryStream[(String, String, String)]
    val custDf = customers.toDF().toDF("email", "birthYear", "seen_str")
      .select(col("email"), col("birthYear"),
        col("seen_str").cast("timestamp").as("seenAt"))
    val riskDf = risks.toDF().toDF("customer", "score", "riskDate")
    val q = Stedi.boundedFlagshipDaily(riskDf, custDf)
      .writeStream.outputMode("append").format("memory")
      .queryName("chained_flagship").start()
    customers.addData(
      ("a@test.com", "1950", "2024-01-01 01:00:00"),
      ("b@test.com", "1960", "2024-01-10 01:00:00"))
    q.processAllAvailable()
    // day-1 risks for a, then a day-10 risk for b: the day-10 arrival
    // pushes the input watermark to Jan 10, which — minus the join's
    // 24 h state horizon — still clears Jan 2, so a's day-1 window
    // closes and emits; b's day-10 window end (Jan 11) is ahead of the
    // propagated watermark and must be withheld
    risks.addData(
      ("a@test.com", "5.0", "2024-01-01T02:00:00.000Z"),
      ("a@test.com", "7.0", "2024-01-01T03:00:00.000Z"))
    q.processAllAvailable()
    risks.addData(("b@test.com", "9.0", "2024-01-10T02:00:00.000Z"))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("chained_flagship")
      .select("day", "email", "n_events", "sum_score_c")
      .collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(("2024-01-01", "a@test.com", 2L, 1200L)),
      s"chained stateful emitted the wrong set: $out")
    spark.sql("DROP VIEW IF EXISTS chained_flagship")
  }

  test("op306 on a fixture whose late-day windows stay OPEN: both engines " +
      "agree under the closed-window cutoff") {
    // r15 (verdict item 1): the r14 fixture-invariant gate errored at
    // sf0.1 precisely because late-day windows stayed open there. This
    // fixture VIOLATES that old invariant by construction — the last
    // matched day window ends 2024-01-05, way past the propagated
    // watermark min(max ts, max seenAt) − 24 h = min(Jan-04 06:30,
    // Jan-03 12:00) − 24 h = 2024-01-02 12:00 — and the full op306
    // query path (file-source streams, chained join→agg drain, explicit
    // cutoff filter) must still equal the batch replay under the SAME
    // cutoff, with the withheld days proving the cutoff actually bit.
    // This fixture is also the one that DISCRIMINATED the cutoff
    // formula (op306Cutoff scaladoc): only the Jan-01 window closes
    // (end Jan-02 ≤ Jan-02 12:00); a max(ts)−24h cutoff would wrongly
    // keep Jan-02 too.
    val dir = tempDir("graft_op306_open_")
    // the sf layout is a single FILE per table (the streaming drain
    // symlinks it as one file) — write the dir, then move the part out
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      df.coalesce(1).write.parquet(s"$dir/_tmp_$name")
      val part = new java.io.File(s"$dir/_tmp_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$dir/$name.parquet"))
      val rest = new java.io.File(s"$dir/_tmp_$name")
      Option(rest.listFiles()).foreach(_.foreach(_.delete()))
      rest.delete(): Unit
    }
    try {
      // custkey % 720 hours: 1 → Jan-01 01:00, 30 → Jan-02 06:00,
      // 60 → Jan-03 12:00 (the op306 seenAt synthesis)
      writeOne(Seq((1L, "Customer#1", 0, 0.0, "BUILDING"),
        (30L, "Customer#30", 1, 0.0, "MACHINERY"),
        (60L, "Customer#60", 2, 0.0, "AUTOMOBILE"))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment"), "customer")
      val evs = Seq(
        (1L, "2024-01-01 02:00:00", 1L, "view", 5.0),   // day 1 (closed)
        (2L, "2024-01-01 23:00:00", 1L, "view", 7.0),   // day 1 (closed)
        (3L, "2024-01-02 00:30:00", 1L, "view", 3.0),   // day 2 (OPEN)
        (4L, "2024-01-02 07:00:00", 30L, "view", 2.0),  // day 2 (OPEN)
        (5L, "2024-01-03 05:00:00", 30L, "view", 4.0),  // day 3 (OPEN)
        (6L, "2024-01-03 13:00:00", 60L, "view", 6.0),  // day 3 (OPEN)
        (7L, "2024-01-04 06:30:00", 60L, "view", 8.0))  // day 4 (OPEN, max)
      writeOne(evs.toDF("event_id", "ts_str", "user_id", "event_type", "value")
        .select(col("event_id"),
          col("ts_str").cast("timestamp_ntz").as("ts"),
          col("user_id"), col("event_type"), col("value"),
          lit("{}").as("props")), "events")
      val out = SparkEntry.queries("op306_stedi_bounded_flagship")(
        spark, dir.toString)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3),
          r.getLong(4))).toSeq
      // only day 1 closes under the cutoff; days 2-4 are open/withheld
      assert(out == Seq(("2024-01-01", "customer1@test.com", 2L, 1200L)),
        s"closed-window set mismatch: $out")
      // and the cutoff genuinely bit: the UNfiltered batch replay of
      // the band join carries the open days 3 and 4 this fixture was
      // built to leave open — exactly the shape the old invariant gate
      // rejected — yet they are absent from both engines' gated output
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select(concat(lit("customer"), col("c_custkey").cast("string"),
          lit("@test.com")).as("email"),
          (expr("timestamp'2024-01-01 00:00:00'")
            + make_interval(lit(0), lit(0), lit(0), lit(0),
              col("c_custkey").cast("int") % 720, lit(0), lit(0)))
            .as("seenAt"))
      val unfilteredDays = spark.read.parquet(s"$dir/events.parquet")
        .select(concat(lit("customer"), col("user_id").cast("string"),
          lit("@test.com")).as("customer"), col("ts"))
        .join(cust, col("customer") === col("email")
          && col("ts") >= col("seenAt")
          && col("ts") <= col("seenAt") + expr("interval 24 hours"))
        .select(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .distinct().collect().map(_.getString(0)).toSet
      val openDays = Set("2024-01-02", "2024-01-03", "2024-01-04")
      assert(openDays.subsetOf(unfilteredDays),
        s"fixture no longer violates the old invariant: $unfilteredDays")
      assert(!out.exists(r => openDays.contains(r._1)))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }
}
