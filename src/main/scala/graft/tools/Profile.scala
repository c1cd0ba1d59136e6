package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.ListenerBusBridge

/** Overhead-vs-compute profiler (optimization r16, guide §1): per named
  * query, wall time and result rows next to the run's JOB/STAGE/TASK
  * counts, summed task time, and shuffle write bytes and records. A
  * query whose wall time dwarfs its summed task time is
  * ORCHESTRATION-bound (many tiny fixpoint jobs, scheduling + checkpoint
  * latency), and the fix is fewer rounds/stages, not faster
  * expressions — the distinction §1.1's empirical loop needs before
  * touching anything. Shuffle volume is also the scale-ladder
  * evidence wall time cannot give: wall time hides in parallelism
  * headroom, shuffle bytes and records do not.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.Profile op208b_cc_star_contraction"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val jobs = new LongAdder
    val stages = new LongAdder
    val tasks = new LongAdder
    val taskTimeMs = new LongAdder
    val shuffleBytes = new LongAdder
    val shuffleRecords = new LongAdder
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.increment()
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit =
        stages.increment()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.increment()
        val m = t.taskMetrics
        if (m != null) {
          taskTimeMs.add(m.executorRunTime)
          shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
          shuffleRecords.add(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // N timed repetitions after an untimed warm run when reps > 1
    val reps =
      math.max(1, sys.env.get("SPARK_GRAFT_PROFILE_REPS").map(_.toInt).getOrElse(1))
    args.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"""{"query":"$name","error":"unknown"}""")
        case Some(fn) =>
          def once(): Long = {
            val rows = fn(spark, sfDir).count()
            spark.sparkContext.getPersistentRDDs.values
              .foreach(_.unpersist(false))
            rows
          }
          if (reps > 1) once() // warm
          (1 to reps).foreach { _ =>
            ListenerBusBridge.drain(spark.sparkContext)
            Seq(jobs, stages, tasks, taskTimeMs, shuffleBytes, shuffleRecords)
              .foreach(_.reset())
            val t0 = System.nanoTime()
            val rows = once()
            val secs = (System.nanoTime() - t0) / 1e9
            ListenerBusBridge.drain(spark.sparkContext)
            println(f"""{"query":"$name","rows":$rows,"sec":$secs%.3f,"jobs":${jobs.sum()},"stages":${stages.sum()},"tasks":${tasks.sum()},"task_time_sec":${taskTimeMs.sum() / 1e3}%.3f,"shuffle_write_bytes":${shuffleBytes.sum()},"shuffle_write_records":${shuffleRecords.sum()},"sf":"$sfDir"}""")
          }
      }
    }
    spark.stop()
  }
}
