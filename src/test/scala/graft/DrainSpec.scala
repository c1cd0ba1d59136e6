package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException,
  StreamingQueryListener}

import graft.streaming.{Drain, StateStores}

/** The shared drains: slice contract, failure hygiene (width restored,
  * no query left running), state-dir cleanup, and settings that hold
  * for the query alone. */
class DrainSpec extends SparkSpec {

  private def keys(n: Int): DataFrame =
    spark.range(n).select(col("id").as("k"), (col("id") * 10).as("v"))

  test("a failing batch reaches the caller, stops the query, restores the width") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      var seen = 0
      val e = intercept[StreamingQueryException] {
        Drain.slices(spark, keys(8), "k") { batch =>
          seen += 1
          if (seen == 2) throw new IllegalStateException("batch two fails")
          batch.collect(): Unit
        }
      }
      // Spark may wrap the user error; it must be somewhere in the chain
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => t.isInstanceOf[IllegalStateException] &&
          t.getMessage == "batch two fails"))
      assert(spark.streams.active.isEmpty)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("a failure outside the batch (null slice key) stops the query too") {
    // a failing batch terminates its query by itself; a failure in the
    // feed loop does not, so only the drain's own stop() ends it
    val rows = keys(8).withColumn("k",
      when(col("k") === 5, lit(null)).otherwise(col("k")))
    intercept[RuntimeException] {
      Drain.slices(spark, rows, "k")(_.collect(): Unit)
    }
    assert(spark.streams.active.isEmpty)
  }

  test("four batches, batch k holding the keys ≡ k (mod 4)") {
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
    Drain.slices(spark, keys(10), "k") { batch =>
      batches += batch.collect().toSeq
    }
    assert(batches.size == 4)
    batches.zipWithIndex.foreach { case (rows, k) =>
      assert(rows.map(_.getLong(0)).sorted ==
        (0L until 10L).filter(_ % 4 == k))
      assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 10))
    }
  }

  test("partials merges every batch's partial and deletes the state dir") {
    val state = tempDir("graft_drainspec_").toString
    val merged = Drain.partials(spark, keys(10), "k", state)(
      _.agg(count(lit(1)).as("n"), sum("v").as("s")))(
      _.agg(sum("n").as("n"), sum("s").as("s")))
    assert(!new java.io.File(state).exists(),
      "state dir must be deleted after the serving merge")
    val r = merged.collect().head
    assert(r.getLong(0) == 10L && r.getLong(1) == 450L)
  }

  test("a drain's settings hold for its query, not for the caller's session") {
    val widthKey = "spark.sql.shuffle.partitions"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(widthKey)
    spark.conf.set(widthKey, "7")
    try {
      val widths = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      Drain.slices(spark, keys(8), "k") { batch =>
        widths += spark.conf.get(widthKey) ->
          batch.sparkSession.conf.get(widthKey)
      }
      assert(widths.toSeq == Seq.fill(4)("7" -> "4"))

      // progress events reach listeners on the bus thread while the
      // drain's query runs, after start() has returned
      val callerProvider = spark.conf.getOption(providerKey)
      val providers = new java.util.concurrent.ConcurrentLinkedQueue[
        Option[String]]()
      val metrics = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
            : Unit = ()
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
            : Unit = {
          providers.add(spark.conf.getOption(providerKey))
          e.progress.stateOperators.foreach(
            _.customMetrics.keySet().forEach(k => metrics.add(k)))
        }
        def onQueryTerminated(
            e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      try {
        val counts = Drain.files(spark, sfDir, "drainspec", "events",
            "complete", Drain.width("4") ++ StateStores.rocksDbConf)(
          _.groupBy("event_type").count())
        assert(counts.count() > 0)
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (metrics.isEmpty && System.nanoTime() < deadline)
          Thread.sleep(20)
      } finally spark.streams.removeListener(listener)
      assert(metrics.toArray.exists(_.toString.startsWith("rocksdb")),
        s"state metrics carry no rocksdb entries: $metrics")
      assert(!providers.isEmpty &&
        providers.toArray.forall(_ == callerProvider),
        s"caller's provider was $callerProvider, listener saw $providers")
      assert(spark.conf.get(widthKey) == "7")
    } finally spark.conf.set(widthKey, prev)
  }
}
