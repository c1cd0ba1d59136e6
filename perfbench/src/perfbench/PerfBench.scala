package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.pipeline.{Stedi, StediFixtures}

/** Benchmark program: runs one workload against the fixture in `--data`
  * and writes `result.json` (and `trace.json` with `--trace 1`) into
  * `--out`. `run.py` builds it, makes the fixtures, checks the batch
  * results against DuckDB and prints the summary line.
  *
  * Usage: PerfBench --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <fixture dir> --out <dir>
  */
object PerfBench {
  import Tracer.{median, nowMs, percentile}

  /** Sessions set up per run; `setup_s` is their median. The first set-up
    * in a JVM is cold (class loading, JIT), so the median is of warm ones:
    * a batch set-up is cheap, so it takes more of them. */
  val BatchSetups = 7
  val StreamSetups = 3
  /** Timed passes per batch run at least. The JIT keeps compiling through
    * the first passes (pass times fall for about 10 s), so the metrics are
    * medians over the second half of the passes: see [[steady]]. */
  val MinPasses = 8

  /** The second half of a run of per-pass samples, after the warm-up. */
  def steady(xs: Seq[Double]): Seq[Double] = xs.drop(xs.size / 2)

  /** Batch workloads: fixed query lists (see README.md for why these). */
  val BatchLists: Map[String, Seq[String]] = Map(
    "iterative" -> Seq("op288_nn_descent"))

  /** Stream nominal phase: risk frames per second, for `--seconds`, in
    * chunks every [[ChunkMs]]. The rate is a fraction of
    * what a full micro-batch drains per second (see [[BurstFrames]]), so
    * a batch takes in about one batch interval of frames and a slow batch
    * is not amplified by a growing queue behind it. */
  val NominalRate = 500
  val ChunkMs = 25
  /** After the nominal phase, [[Bursts]] backlogs of [[BurstFrames]] risk
    * frames are each added at once and drained as one full micro-batch. */
  val Bursts = 5
  val BurstFrames = 4000
  /** Untimed open-loop warm-up before the nominal phase, at the same rate,
    * as a share of `--seconds`. The JIT compiles most in the first ~10 s
    * of traffic (about 9 s of compile time per 10 s, then a steady 5 s). */
  val WarmupShare = 0.5

  /** Seconds since start at each named step, for the run record. */
  val steps = mutable.LinkedHashMap.empty[String, Double]
  private val started = System.nanoTime()
  def step(name: String): Unit = steps(name) = (System.nanoTime() - started) / 1e9

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("out"))
    Files.createDirectories(Paths.get(a.out))
    val runStart = nowMs()
    val r = a.workload match {
      case "stedi_stream" => stream(a)
      case w if BatchLists.contains(w) => batch(a, BatchLists(w))
      case w => sys.error(s"unknown workload $w")
    }
    val spans = r.spans :+ Span(0, -1, "run", a.workload, runStart, nowMs())
    if (a.trace) Files.writeString(Paths.get(a.out, "trace.json"), Json(Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs))))): Unit
    step("done")
    val info = r.info ++ Map("steps" -> steps,"java_version" -> System.getProperty("java.version"),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "cores" -> Runtime.getRuntime.availableProcessors)
    Files.writeString(Paths.get(a.out, "result.json"), Json(Map(
      "metrics" -> (r.metrics + ("peak_rss_mb" -> peakRssMb())),
      "layers" -> r.layers, "info" -> info, "attempted" -> r.attempted,
      "failed" -> r.failed, "errors" -> r.errors, "checks" -> r.checks))): Unit
  }

  final case class Result(metrics: Map[String, Double], layers: Map[String, Double],
      info: Map[String, Any], attempted: Long, failed: Long,
      errors: Map[String, String], checks: Seq[Map[String, Any]], spans: Seq[Span])

  def session(a: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `one` `n` times, releasing all but the last; returns it
    * with the median set-up seconds. */
  def setUp[T](n: Int)(one: Int => T, release: T => Unit): (T, Double) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    (1 to n).foreach { k =>
      last.foreach(release)
      val t0 = System.nanoTime()
      last = Some(one(k))
      times += (System.nanoTime() - t0) / 1e9
    }
    steps("setups") = times.sum
    steps("setup_first") = times.head
    (last.get, median(times.toSeq))
  }

  /** JIT compilation and GC milliseconds so far, for the run record: a run
    * whose timed part still compiles or collects a lot shows it here. */
  def jitGcMs(): (Double, Double) = (
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble)

  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def unpersistAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

  def errMsg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  // ---------------------------------------------------------------- batch

  /** Closed loop, one client: a check pass writes every result for the
    * DuckDB comparison (outside the timed loop), then passes over the
    * list in a seeded order run until `--seconds` is spent (at least
    * [[MinPasses]]); the first half of the passes are warm-up. With
    * tracing, every second pass is traced, with the
    * listeners attached only during it. */
  def batch(a: Args, names: Seq[String]): Result = {
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val rng = new scala.util.Random(a.seed)
    step("start")
    val (spark, setupS) = setUp[SparkSession](BatchSetups)(
      _ => { val s = session(a); s.range(1).count(); s },
      _.stop())
    val errors = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L
    def attempt(name: String)(body: => Unit): Boolean = {
      attempted += 1
      try { body; true }
      catch { case e: Throwable =>
        failed += 1
        if (!errors.contains(name)) errors(name) = errMsg(e)
        false
      } finally unpersistAll(spark)
    }

    step("setup")
    val checks = rng.shuffle(fns).map { case (n, fn) =>
      val dir = s"${a.out}/check/$n"
      val ok = attempt(n)(fn(spark, a.data).write.mode("overwrite").parquet(dir))
      Map[String, Any]("name" -> n, "dir" -> dir, "ok" -> ok,
        "sql" -> SparkEntry.oracleSql.getOrElse(n, ""))
    }

    step("check")
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val windows = mutable.ArrayBuffer.empty[Span]
    val passWall = Map(false -> mutable.ArrayBuffer.empty[Double],
      true -> mutable.ArrayBuffer.empty[Double])
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val (jit0, gc0) = jitGcMs()
    var pass = 0
    while (pass < MinPasses || elapsed + median((passWall(false) ++ passWall(true)).toSeq) <= a.seconds) {
      val traced = tracer.isDefined && pass % 2 == 1
      val order = rng.shuffle(fns)
      val wid = tracer.map(_.newId()).getOrElse(0L)
      if (traced) tracer.foreach(_.on())
      val (w0, c0, p0) = (System.nanoTime(), cpuSeconds(), nowMs())
      order.foreach { case (n, fn) =>
        val q0 = System.nanoTime()
        val ok = tracer.filter(_ => traced) match {
          case Some(t) => t.span(wid, "query", n)(attempt(n)(noop(fn(spark, a.data))))
          case None => attempt(n)(noop(fn(spark, a.data)))
        }
        if (ok && !traced)
          perQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += (System.nanoTime() - q0) / 1e6
      }
      passWall(traced) += (System.nanoTime() - w0) / 1e9
      passes += passWall(traced).last
      if (!traced) passCpu += cpuSeconds() - c0
      if (traced) {
        windows += Span(wid, 0, "workload", s"${a.workload} pass $pass", p0, nowMs())
        tracer.foreach(_.off())
      }
      pass += 1
    }

    val (jit1, gc1) = jitGcMs()
    val queryMedians = perQuery.values.map(v => median(steady(v.toSeq))).toSeq
    def wall(traced: Boolean) = median(steady(passWall(traced).toSeq))
    val metrics = Map(
      "setup_s" -> setupS,
      "wall_s" -> wall(false),
      "latency_p50_ms" -> median(queryMedians),
      "latency_tail_ms" -> (if (queryMedians.isEmpty) 0.0 else queryMedians.max),
      "cpu_s" -> median(steady(passCpu.toSeq)))
    val (spans, layers) = tracer match {
      case Some(t) =>
        val (sp, c) = t.finish(windows.toSeq)
        val n = windows.size.toDouble
        // each traced (odd) pass against the mean of the untraced passes
        // on either side, so the warm-up trend cancels
        val ratios = (1 until passes.size - 1 by 2).map(i => passes(i) * 2 / (passes(i - 1) + passes(i + 1)))
        (sp, layerMetrics(c, n) ++ traceMetrics(sp, windows.toSeq, n, median(steady(ratios)), 1.0))
      case None => (Nil, Map.empty[String, Double])
    }
    step("timed")
    spark.stop()
    Result(metrics, layers, Map("passes" -> pass, "pass_s" -> passWall(false),
      "timed_jit_ms" -> (jit1 - jit0), "timed_gc_ms" -> (gc1 - gc0), "tail" -> "slowest query median",
      "per_query_ms" -> perQuery.map { case (k, v) => k -> median(steady(v.toSeq)) }.toMap),
      attempted, failed, errors.toMap, checks, spans)
  }

  /** Per-layer counters from the listeners, per traced pass (batch) or
    * over the traced stream segment (`n` = 1). */
  def layerMetrics(c: Map[String, Double], n: Double): Map[String, Double] = {
    def g(k: String) = c.getOrElse(k, 0.0) / n
    Map(
      "plans.plan_ms" -> g("plan_ms"), "plans.executions" -> g("executions"),
      "queries.jobs" -> g("jobs"), "queries.stages" -> g("stages"),
      "queries.tasks" -> g("tasks"), "queries.sched_delay_ms" -> g("sched_delay_ms"),
      "queries.driver_gap_s" -> g("driver_gap_s"), "queries.task_cpu_s" -> g("task_cpu_s"),
      "queries.gc_s" -> g("gc_s"), "queries.checkpoint_blocks" -> g("checkpoint_blocks"),
      "queries.checkpoint_bytes" -> g("checkpoint_bytes"),
      "sources.scan_rows" -> g("scan_rows"), "sources.scan_bytes" -> g("scan_bytes"),
      "shuffle.write_bytes" -> g("write_bytes"), "shuffle.read_bytes" -> g("read_bytes"),
      "shuffle.fetch_wait_ms" -> g("fetch_wait_ms"), "shuffle.spill_bytes" -> g("spill_bytes"),
      "shuffle.max_over_median_task" -> c.getOrElse("max_over_median_task", 0.0))
  }

  /** Self time per layer (per traced window), the share of the windows'
    * wall time the layers below the workload cover (time no span accounts
    * for stays the workload's own and lowers it), and tracing overhead:
    * traced minus untraced end-to-end, as a share of untraced. */
  def traceMetrics(spans: Seq[Span], windows: Seq[Span], n: Double,
      traced: Double, untraced: Double): Map[String, Double] = {
    val self = Tracer.selfTimes(spans, windows, Set("chunk"))
    val wall = windows.map(_.ms).sum
    Seq("workload", "query", "microbatch", "phase", "job", "stage").map { k =>
      s"trace.self_${k}_s" -> self.getOrElse(k, 0.0) / 1e3 / n
    }.toMap ++ Map(
      "trace.coverage" -> (if (wall > 0) 1 - self.getOrElse("workload", 0.0) / wall else 0.0),
      "trace.spans" -> spans.size.toDouble,
      "trace.overhead_pct" -> (if (untraced > 0) (traced - untraced) / untraced * 100 else 0.0))
  }

  // --------------------------------------------------------------- stream

  final class Rig(val spark: SparkSession, val customers: MemoryStream[String],
      val risks: MemoryStream[String], val query: org.apache.spark.sql.streaming.StreamingQuery,
      val progress: mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress])

  final case class Chunk(dueMs: Double, frames: Seq[String]) {
    var offset = -1L
    var sentMs = 0.0
  }

  /** Open loop, one generator thread: the paper's flagship
    * (`sparkpykafkajoin.py`) over MemoryStreams. Set-up drains the
    * customer snapshot (the Kafka Connect replay at batch 0). Then risk
    * frames arrive on a fixed schedule at [[NominalRate]], untimed for a
    * warm-up and then timed (latency), then
    * [[Bursts]] full micro-batches are drained back to back (throughput).
    * With tracing, the middle half of the nominal phase is traced and the
    * outer quarters are not, so drift over the phase (the join's state
    * grows) cancels out of the overhead. */
  def stream(a: Args): Result = {
    val rng = new scala.util.Random(a.seed)
    step("start")
    val (custFrames, riskPool) = {
      // wire frames synthesized from the fixture once, then kept beside it
      val files = Seq("customers", "risks").map(n => Paths.get(a.data, s"_stedi_$n.txt"))
      if (!files.forall(Files.exists(_))) {
        val s = session(a)
        try Seq(StediFixtures.redisFrames(s, a.data), StediFixtures.riskFrames(s, a.data))
          .zip(files).foreach { case (df, f) =>
            Files.write(f, df.collect().map(_.getString(0)).toSeq.asJava)
          }
        finally s.stop()
      }
      val Seq(c, r) = files.map(Files.readAllLines(_).asScala.toIndexedSeq)
      (c, rng.shuffle(r))
    }
    var next = 0
    def take(n: Int): Seq[String] = Seq.tabulate(n) { _ =>
      next += 1; riskPool((next - 1) % riskPool.size)
    }

    step("frames")
    val (rig, setupS) = setUp[Rig](StreamSetups)(k => {
      val spark = session(a)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
      spark.streams.addListener(new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          progress.synchronized { progress += e.progress }
        def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      })
      val customers = MemoryStream[String]
      val risks = MemoryStream[String]
      val out = Stedi.riskScoreKafkaPayload(Stedi.joinRisk(
        Stedi.parseRiskEventsFull(risks.toDF()), Stedi.decodeCustomers(customers.toDF())))
      val q = out.writeStream.format("memory").queryName("stedi_out").outputMode("append")
        .option("checkpointLocation", s"${a.out}/ckpt-$k").start()
      customers.addData(custFrames)
      q.processAllAvailable()
      new Rig(spark, customers, risks, q, progress)
    }, r => { r.query.stop(); r.spark.stop() })
    val spark = rig.spark
    step("setup")

    // the schedule: chunk sizes jitter between 0.5x and 1.5x of the mean
    // by the seed, scaled so that a phase offers exactly its rate; due
    // times count from the start of the timed phase, so warm-up is < 0
    def schedule(seconds: Double, fromMs: Double): Seq[Chunk] = {
      val n = math.round(seconds * 1000 / ChunkMs).toInt
      val w = Seq.fill(n)(0.5 + rng.nextDouble())
      val total = NominalRate * seconds
      var sent = 0.0
      w.scanLeft(0.0)(_ + _).tail.zipWithIndex.map { case (cum, i) =>
        val upto = math.round(total * cum / w.sum).toDouble
        val c = Chunk(fromMs + i.toDouble * ChunkMs, take(math.max(1, (upto - sent).toInt)))
        sent = upto
        c
      }
    }
    val warm = schedule(WarmupShare * a.seconds, -math.round(WarmupShare * a.seconds * 1000 / ChunkMs) * ChunkMs)
    val chunks = schedule(a.seconds, 0)
    val nominalMs = chunks.size.toDouble * ChunkMs

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val t0 = nowMs() + 200 - warm.headOption.map(_.dueMs).getOrElse(0.0)
    // send times at sub-millisecond resolution, on the same epoch-ms scale
    val n0 = System.nanoTime() - ((nowMs() - t0) * 1e6).toLong
    def sentAt(): Double = t0 + (System.nanoTime() - n0) / 1e6
    def sleepUntil(ms: Double): Unit =
      while (sentAt() < ms) LockSupport.parkNanos(((ms - sentAt()) * 1e6).toLong.max(10000L))
    @volatile var cpu0 = 0.0
    @volatile var gc0 = 0.0
    val jitAt = mutable.ArrayBuffer.empty[Double]
    val gen = new Thread(() => (warm ++ chunks).foreach { c =>
      sleepUntil(t0 + c.dueMs)
      if (c.dueMs == 0) { cpu0 = cpuSeconds(); gc0 = jitGcMs()._2 }
      if (c.dueMs >= jitAt.size * nominalMs / 4) jitAt += jitGcMs()._1
      c.sentMs = sentAt()
      c.offset = rig.risks.addData(c.frames).json.toLong
    }, "perfbench-generator")
    gen.start()
    // traced window: listeners attached from a quarter to three quarters in
    val (onAt, offAt) = tracer match {
      case Some(t) =>
        sleepUntil(t0 + nominalMs / 4)
        t.on()
        val on = nowMs()
        sleepUntil(t0 + nominalMs * 3 / 4)
        val off = nowMs()
        t.off()
        (on, off)
      case None => (Double.PositiveInfinity, Double.PositiveInfinity)
    }
    gen.join()
    rig.query.processAllAvailable()
    val cpuS = cpuSeconds() - cpu0
    val (jit1, gc1) = jitGcMs()
    jitAt += jit1
    step("nominal")
    val bursts = Seq.fill(Bursts)(take(BurstFrames))
    val burstS = bursts.map { b =>
      val b0 = System.nanoTime()
      rig.risks.addData(b)
      rig.query.processAllAvailable()
      (System.nanoTime() - b0) / 1e9
    }
    val end = nowMs()
    step("bursts")
    org.apache.spark.PerfBenchBus.drain(spark.sparkContext)

    // per chunk: the end of the micro-batch whose offsets took it in
    val desc = rig.risks.toString
    final case class Batch(id: Long, startMs: Double, endMs: Double, from: Long, to: Long,
        p: org.apache.spark.sql.streaming.StreamingQueryProgress)
    val batches = rig.progress.synchronized(rig.progress.toSeq).filter(_.numInputRows > 0).flatMap { p =>
      p.sources.find(_.description == desc).map { s =>
        def off(j: String) = Option(j).flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(-1L)
        val st = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        Batch(p.batchId, st, st + p.durationMs.get("triggerExecution").toDouble,
          off(s.startOffset), off(s.endOffset), p)
      }
    }.filter(b => b.to > b.from).sortBy(_.id)
    def emittedAt(offset: Long): Option[Batch] = batches.find(b => offset > b.from && offset <= b.to)
    val lat = chunks.map(c => emittedAt(c.offset).map(_.endMs - (t0 + c.dueMs)))
    val lost = lat.count(_.isEmpty) + warm.count(c => emittedAt(c.offset).isEmpty)
    val nomLat = lat.flatten
    // the most chunks one micro-batch took in: about one batch interval's
    // worth (batch time / ChunkMs) while the stream keeps up
    val backlog = batches.map(b => chunks.count(c => c.offset > b.from && c.offset <= b.to))
      .maxOption.getOrElse(0).toDouble

    // the highest of these percentiles with at least 10 samples beyond it
    def tailPct(n: Int): Double =
      Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
    val quarterP50 = (0 until 4).map { q =>
      percentile(chunks.indices.filter(j => (4 * chunks(j).dueMs / nominalMs).toInt == q)
        .flatMap(lat(_)), 50)
    }
    val metrics = Map(
      "setup_s" -> setupS,
      "wall_s" -> (end - t0) / 1e3,
      "latency_p50_ms" -> percentile(nomLat, 50),
      "latency_tail_ms" -> percentile(nomLat, tailPct(nomLat.size)),
      "sustained_rows_per_s" -> median(burstS.map(BurstFrames / _)),
      "cpu_s" -> cpuS)

    // correctness: the emitted rows equal batch joinRisk over the same frames
    import spark.implicits._
    val sentFrames = (warm ++ chunks).flatMap(_.frames) ++ bursts.flatten
    def fingerprint(df: DataFrame): (Long, String) = {
      val r = df.agg(count(lit(1)), sum(xxhash64(col("key"), col("value")).cast("decimal(38,0)")))
        .collect()(0)
      (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
    }
    val custDf = custFrames.toDF("value")
    val want = fingerprint(Stedi.riskScoreKafkaPayload(Stedi.joinRisk(
      Stedi.parseRiskEventsFull(sentFrames.toDF("value")), Stedi.decodeCustomers(custDf))))
    val got = fingerprint(spark.table("stedi_out"))
    val ok = got == want && lost == 0

    val (spans, layers) = tracer match {
      case Some(t) =>
        // micro-batch and progress-phase spans of the batches run wholly
        // inside the traced window (their jobs were all seen); the workload
        // span runs from the first one's start to the last one's end
        val wid = t.newId()
        val traced = batches.filter(b => b.startMs >= onAt && b.endMs <= offAt)
        val phaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")
        traced.foreach { b =>
          val mb = t.newId()
          t.add(Span(mb, wid, "microbatch", s"batch ${b.id}", b.startMs, b.endMs))
          var cur = b.startMs
          phaseOrder.foreach { ph =>
            Option(b.p.durationMs.get(ph)).map(_.toDouble).filter(_ > 0).foreach { ms =>
              val id = t.newId()
              t.add(Span(id, mb, "phase", ph, cur, cur + ms))
              if (ph == "addBatch") t.microBatch(b.id, id)
              cur += ms
            }
          }
        }
        def inWindow(c: Chunk) = t0 + c.dueMs >= onAt && t0 + c.dueMs < offAt
        chunks.zip(lat).foreach { case (c, l) =>
          if (inWindow(c)) l.foreach(v =>
            t.add(Span(t.newId(), wid, "chunk", s"chunk ${c.offset}", t0 + c.dueMs, t0 + c.dueMs + v)))
        }
        val w = Span(wid, 0, "workload", a.workload, traced.headOption.map(_.startMs).getOrElse(onAt),
          traced.lastOption.map(_.endMs).getOrElse(offAt))
        val (sp, c) = t.finish(Seq(w))
        def med(f: Batch => Double) = median(traced.map(f))
        def dur(k: String)(b: Batch) = Option(b.p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
        val lastB = traced.lastOption.map(_.p)
        val (inside, outside) = chunks.indices.partition(j => inWindow(chunks(j)))
        val tracedP50 = percentile(inside.flatMap(lat(_)), 50)
        val untracedP50 = percentile(outside.flatMap(lat(_)), 50)
        (sp :+ w, layerMetrics(c, 1) ++ traceMetrics(sp :+ w, Seq(w), 1, tracedP50, untracedP50) ++ Map(
          "streaming.batches" -> traced.size.toDouble,
          "streaming.batch_ms" -> med(dur("triggerExecution")),
          "streaming.add_batch_ms" -> med(dur("addBatch")),
          "streaming.query_planning_ms" -> med(dur("queryPlanning")),
          "streaming.wal_commit_ms" -> med(dur("walCommit")),
          "streaming.state_commit_ms" -> med(_.p.stateOperators.map(_.commitTimeMs).sum.toDouble),
          "streaming.state_rows" -> lastB.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
          "streaming.state_mem_bytes" -> lastB.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
          "streaming.backlog_chunks" -> backlog,
          "pipeline.join_rows_out" -> got._1.toDouble,
          "pipeline.decode_yield" -> Stedi.decodeCustomers(custDf).count().toDouble / custFrames.size,
          "bench.gen_lag_ms" -> chunks.map(c => c.sentMs - (t0 + c.dueMs)).max))
      case None => (Nil, Map.empty[String, Double])
    }
    step("check")
    rig.query.stop()
    spark.stop()
    val attempted = warm.size.toLong + chunks.size + Bursts
    Result(metrics, layers, Map(
      "nominal_rate" -> NominalRate, "nominal_chunks" -> nomLat.size,
      "tail_pct" -> tailPct(nomLat.size), "p50_by_quarter_ms" -> quarterP50,
      "last_chunk_ms" -> lat.last.getOrElse(Double.PositiveInfinity),
      "backlog_chunks" -> backlog, "batches" -> batches.size,
      "burst_s" -> burstS, "nominal_jit_ms" -> (jit1 - jitAt.head),
      "jit_by_quarter_ms" -> jitAt.sliding(2).map(p => p(1) - p(0)).toSeq, "nominal_gc_ms" -> (gc1 - gc0), "gen_lag_max_ms" -> chunks.map(c => c.sentMs - (t0 + c.dueMs)).max,
      "emitted_rows" -> got._1, "expected_rows" -> want._1, "lost_chunks" -> lost),
      attempted, if (ok) lost.toLong else attempted,
      if (ok) Map.empty else Map("stedi_stream" ->
        s"emitted $got, batch joinRisk $want, $lost chunks never emitted"),
      Nil, spans)
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => apply(x.toString)
  }
}
