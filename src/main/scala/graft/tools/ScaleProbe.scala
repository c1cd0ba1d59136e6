package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Scale-ladder instrumentation (r16, verdict item 2): run named
  * SparkEntry queries against a dataset dir and report, per query, the
  * wall time plus the TOTAL SHUFFLE WRITE bytes/records the run moved —
  * the direct evidence for "this op's shuffle volume scales ~linearly"
  * that wall-clock alone can't give (wall time hides in parallelism
  * headroom; shuffle bytes don't).
  *
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 \
  *     sbt "runMain graft.tools.ScaleProbe op320_page_rank op208_connected_components"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val shuffleBytes = new LongAdder
    val shuffleRecords = new LongAdder
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
          shuffleRecords.add(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    args.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"""{"query":"$name","error":"unknown"}""")
        case Some(fn) =>
          shuffleBytes.reset(); shuffleRecords.reset()
          val t0 = System.nanoTime()
          val rows = fn(spark, sfDir).count()
          val secs = (System.nanoTime() - t0) / 1e9
          // listener events arrive asynchronously; give the bus a
          // moment to drain before reading the adders (the public API
          // has no waitUntilEmpty; a fixed beat is fine for a probe)
          Thread.sleep(500)
          println(f"""{"query":"$name","rows":$rows,"sec":$secs%.3f,"shuffle_write_bytes":${shuffleBytes.sum()},"shuffle_write_records":${shuffleRecords.sum()},"sf":"$sfDir"}""")
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(false))
      }
    }
    spark.stop()
  }
}
