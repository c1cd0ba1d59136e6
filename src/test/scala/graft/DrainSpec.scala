package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.streaming.Drain

/** The shared MemoryStream drain: slice contract, failure hygiene
  * (width restored, no query left running) and state-dir cleanup. */
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
    val state = java.nio.file.Files
      .createTempDirectory("graft_drainspec_").toString
    val merged = Drain.partials(spark, keys(10), "k", state)(
      _.agg(count(lit(1)).as("n"), sum("v").as("s")))(
      _.agg(sum("n").as("n"), sum("s").as("s")))
    assert(!new java.io.File(state).exists(),
      "state dir must be deleted after the serving merge")
    val r = merged.collect().head
    assert(r.getLong(0) == 10L && r.getLong(1) == 450L)
  }
}
