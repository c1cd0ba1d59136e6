package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval; `parent` is the span that caused it (0: none). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Marker posted on the listener bus when a traced span opens (`span` > 0)
  * or closes (0). RDD block updates carry neither a job nor a time, so
  * they are attributed to the span open in bus order. */
final case class TraceMark(span: Long) extends SparkListenerEvent

/** Spans and per-layer counters, gathered only from Spark's public
  * listener interfaces. A job is traced when its local property
  * [[Tracer.SpanKey]] names a benchmark span (batch queries), or when
  * `streaming.sql.batchId` names a micro-batch the stream workload later
  * registers with [[microBatch]]; every other job is ignored. Nothing is
  * recorded until [[on]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext
  private var nextId = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]

  private final class JobRec(val key: String, val startMs: Double) {
    var endMs: Double = startMs
    val c: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  }
  private final class StageRec(val jobId: Int) {
    val taskMs = mutable.ArrayBuffer.empty[Double]
    var readsShuffle = false
    var span: Option[(Double, Double, String)] = None
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val blocks = mutable.Map.empty[Long, (Double, Double)]
    .withDefaultValue((0.0, 0.0))
  private var openSpan = 0L
  // (start ms of analysis, analysis + optimization + planning ms)
  private val plans = mutable.ArrayBuffer.empty[(Double, Double)]
  // micro-batch id -> the span its jobs nest under
  private val batchSpans = mutable.Map.empty[Long, Long]

  def newId(): Long = synchronized { nextId += 1; nextId }
  def add(s: Span): Unit = synchronized { spans += s }

  /** Runs `body` as a traced span: jobs it starts carry the span id. */
  def span[T](parent: Long, kind: String, name: String)(body: => T): T = {
    val id = newId()
    sc.setLocalProperty(SpanKey, id.toString)
    PerfBenchBus.post(sc, TraceMark(id))
    val t0 = nowMs()
    try body
    finally {
      add(Span(id, parent, kind, name, t0, nowMs()))
      PerfBenchBus.post(sc, TraceMark(0))
      sc.setLocalProperty(SpanKey, null)
    }
  }

  /** Registers a traced micro-batch: its jobs become children of `span`. */
  def microBatch(batchId: Long, span: Long): Unit =
    synchronized { batchSpans(batchId) = span }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val key = props.flatMap(p => Option(p.getProperty(SpanKey))).map("q" + _)
        .orElse(props.flatMap(p => Option(p.getProperty(BatchKey))).map("b" + _))
      key.foreach { k =>
        Tracer.this.synchronized {
          jobs(e.jobId) = new JobRec(k, e.time.toDouble)
          e.stageIds.foreach(s => stages(s) = new StageRec(e.jobId))
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble) }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        for (st <- stages.get(i.stageId); j <- jobs.get(st.jobId);
             s <- i.submissionTime; c <- i.completionTime) {
          st.span = Some((s.toDouble, c.toDouble, i.name))
          j.c("stages") += 1
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        for (st <- stages.get(e.stageId); j <- jobs.get(st.jobId)) {
          val m = e.taskMetrics
          val info = e.taskInfo
          val c = j.c
          c("tasks") += 1
          if (m != null) {
            c("task_cpu_s") += m.executorCpuTime / 1e9
            c("gc_s") += m.jvmGCTime / 1e3
            c("sched_delay_ms") += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
            c("scan_rows") += m.inputMetrics.recordsRead
            c("scan_bytes") += m.inputMetrics.bytesRead
            c("write_bytes") += m.shuffleWriteMetrics.bytesWritten
            c("read_bytes") += m.shuffleReadMetrics.totalBytesRead
            c("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
            c("spill_bytes") += m.diskBytesSpilled
            if (m.shuffleReadMetrics.totalBlocksFetched > 0) st.readsShuffle = true
            st.taskMs += m.executorRunTime.toDouble
          }
        }
      }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        Tracer.this.synchronized {
          if (openSpan != 0) {
            val (n, bytes) = blocks(openSpan)
            blocks(openSpan) = (n + 1, bytes + b.memSize + b.diskSize)
          }
        }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case TraceMark(id) => Tracer.this.synchronized { openSpan = id }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      val parts = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (parts.nonEmpty) Tracer.this.synchronized {
        plans += ((parts.map(_.startTimeMs).min.toDouble, parts.map(_.durationMs).sum.toDouble))
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private var listening = false

  /** Attaches the listeners; work done while they are detached costs
    * nothing and is not recorded, so traced and untraced windows can
    * alternate in one session. */
  def on(): Unit = if (!listening) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    listening = true
  }

  def off(): Unit = if (listening) {
    PerfBenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    listening = false
  }

  /** Delivers every pending listener event, detaches, and returns the
    * spans (benchmark spans plus job and stage spans) and the per-layer
    * counters of the traced work: jobs of untraced micro-batches drop out
    * here. `windows` are the traced workload spans counters are taken
    * over. */
  def finish(windows: Seq[Span]): (Seq[Span], Map[String, Double]) = {
    off()
    synchronized {
      val out = mutable.ArrayBuffer.empty[Span] ++= spans
      val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val jobSpan = mutable.Map.empty[Int, Long]
      val benchIds = spans.map(_.id).toSet
      for ((jobId, j) <- jobs) {
        val parent =
          if (j.key.startsWith("q")) Some(j.key.drop(1).toLong).filter(benchIds)
          else batchSpans.get(j.key.drop(1).toLong)
        parent.foreach { p =>
          val id = { nextId += 1; nextId }
          jobSpan(jobId) = id
          out += Span(id, p, "job", s"job $jobId", j.startMs, j.endMs)
          c("jobs") += 1
          j.c.foreach { case (k, v) => c(k) += v }
        }
      }
      val skews = mutable.ArrayBuffer.empty[Double]
      for ((stageId, st) <- stages; p <- jobSpan.get(st.jobId); (s, e, name) <- st.span) {
        nextId += 1
        out += Span(nextId, p, "stage", s"stage $stageId $name", s, e)
        if (st.readsShuffle && st.taskMs.size >= 2) {
          val med = median(st.taskMs.toSeq)
          if (med > 0) skews += st.taskMs.max / med
        }
      }
      c("max_over_median_task") = if (skews.isEmpty) 0.0 else median(skews.toSeq)
      blocks.foreach { case (id, (n, bytes)) =>
        if (benchIds(id)) { c("checkpoint_blocks") += n; c("checkpoint_bytes") += bytes }
      }
      plans.foreach { case (t, ms) =>
        if (windows.exists(w => t >= w.startMs && t <= w.endMs)) {
          c("plan_ms") += ms; c("executions") += 1
        }
      }
      // wall time inside the traced windows during which no traced job ran
      val jobIv = out.filter(_.kind == "job").map(s => (s.startMs, s.endMs)).toSeq
      c("driver_gap_s") = windows.map(w => w.ms - covered(w, jobIv)).sum / 1e3
      (out.toSeq, c.toMap)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val BatchKey = "streaming.sql.batchId"

  def nowMs(): Double = System.currentTimeMillis().toDouble

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (the usual "R-7" definition). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** Length of the part of `w` covered by the union of `ivs`. */
  def covered(w: Span, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, w.startMs), math.min(b, w.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) {
        if (!cs.isNaN) total += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** Self time per span kind inside the `roots` subtrees: a span's
    * duration minus the part its children cover. Kinds in `views` are
    * reported spans but not part of the execution stack (stream chunk
    * spans overlap the micro-batches that carry them). */
  def selfTimes(all: Seq[Span], roots: Seq[Span],
      views: Set[String]): Map[String, Double] = {
    val stack = all.filterNot(s => views(s.kind))
    val kids = stack.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def walk(s: Span): Unit = {
      val ch = kids.getOrElse(s.id, Nil)
      out(s.kind) += s.ms - covered(s, ch.map(c => (c.startMs, c.endMs)))
      ch.foreach(walk)
    }
    roots.foreach(walk)
    out.toMap
  }
}
