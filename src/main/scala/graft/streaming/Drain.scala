package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** The stream-drain harnesses, written once. [[slices]] and [[partials]]
  * replay a collected frame through a MemoryStream in four arrival
  * slices (the incremental, mergeable-state shape of Structured
  * Streaming: `foreachBatch` partials plus a merge run at serve time);
  * [[files]] drains one fixture table as a file-source stream. Each sets
  * the stateful shuffle width for the stream only and restores it in
  * `finally`, so a failed batch leaves neither the width nor a started
  * query behind. */
object Drain {

  /** Feed `rows` through a 4-batch MemoryStream, batch k holding the
    * rows whose `sliceBy` (a LONG column) is ≡ k (mod 4), and run
    * `perBatch` on each micro-batch (`processAllAvailable` fences each
    * one). */
  def slices(spark: SparkSession, rows: DataFrame, sliceBy: String)(
      perBatch: DataFrame => Unit): Unit = {
    val all = rows.collect()
    val key = rows.schema.fieldIndex(sliceBy)
    val in = MemoryStream(Encoders.row(rows.schema), spark)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = in.toDF().writeStream.outputMode("update")
        .foreachBatch((batch: DataFrame, _: Long) => perBatch(batch))
        .start()
      try (0 until 4).foreach { k =>
        in.addData(all.filter(_.getLong(key) % 4 == k).toSeq)
        q.processAllAvailable()
      } finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  /** [[slices]] with one `partial` appended per micro-batch to
    * `$stateDir/partials`; returns `merge` over all partials,
    * materialized (localCheckpoint severs the lineage) so the state dir
    * is deleted instead of leaking one temp dir per invocation. */
  def partials(spark: SparkSession, rows: DataFrame, sliceBy: String,
      stateDir: String)(partial: DataFrame => DataFrame)(
      merge: DataFrame => DataFrame): DataFrame = {
    slices(spark, rows, sliceBy) { batch =>
      partial(batch).coalesce(1).write.mode("append")
        .parquet(s"$stateDir/partials")
    }
    val merged = merge(spark.read.parquet(s"$stateDir/partials"))
      .localCheckpoint()
    new scala.reflect.io.Directory(new java.io.File(stateDir))
      .deleteRecursively()
    merged
  }

  /** File-source stream of ONE fixture table (the file source lists a
    * directory, so the fixture file is exposed through a temp dir of
    * symlinks — the op51 recipe) → `pipe` → memory sink,
    * Trigger.AvailableNow. Stateful shuffle width `parts` is scoped to
    * the stream: at fixture group counts, per-state-store overhead
    * dominates a wider shuffle. Symlink cleanup runs in finally so a
    * failed stream doesn't leak the temp dir; the sink's rows are
    * lifted out and the temp view dropped, so repeated invocations
    * (Bench reps) don't pin result sets in the session. */
  def files(s: SparkSession, d: String, tag: String,
      table: String, mode: String, parts: String)(
      pipe: DataFrame => DataFrame): DataFrame = {
    // events goes through the adaptive loader for its SCHEMA so a nanos
    // fixture in a session lacking the legacy flag fails with the
    // helpful Tables.eventsRaw diagnostic instead of the raw
    // PARQUET_TYPE_ILLEGAL error (the streaming read below then types
    // ts identically to the batch path)
    val schema =
      if (table == "events") graft.sources.Tables.eventsRaw(s, d).schema
      else s.read.parquet(s"$d/$table.parquet").schema
    val streamDir = java.nio.file.Files.createTempDirectory(s"graft_${tag}_")
    val link = streamDir.resolve(s"$table.parquet")
    val name = s"graft_${tag}_${System.nanoTime()}"
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    try {
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$d/$table.parquet"))
      val src = s.readStream.schema(schema).parquet(streamDir.toString)
      s.conf.set("spark.sql.shuffle.partitions", parts)
      val q = pipe(src).writeStream.outputMode(mode)
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.deleteIfExists(streamDir): Unit
    }
    val out = s.table(name)
    val rows = out.collect()
    s.catalog.dropTempView(name)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }
}
