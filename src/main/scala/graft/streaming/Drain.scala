package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  Trigger}

/** The stream-drain harnesses, written once. [[slices]] and [[partials]]
  * replay a collected frame through a MemoryStream in four arrival
  * slices (the incremental, mergeable-state shape of Structured
  * Streaming: `foreachBatch` partials plus a merge run at serve time);
  * [[files]] drains fixture tables as file-source streams. Every query
  * starts through [[start]], so its settings (stateful shuffle width,
  * state-store provider) belong to that query alone and the caller's
  * session keeps its own; a failed batch leaves no started query
  * behind. */
object Drain {

  /** The conf map that sets a stream's stateful shuffle width. */
  def width(parts: String): Map[String, String] =
    Map("spark.sql.shuffle.partitions" -> parts)

  /** Start `writer` with `conf` set in `spark`'s session only while
    * `start()` runs, then restore the previous values (unsetting keys
    * that had none). That is enough: StreamExecution's constructor
    * clones the session, and the stream's batches and offset log read
    * that clone, so the settings stay pinned to the query. */
  private[graft] def start(spark: SparkSession, conf: Map[String, String])(
      writer: DataStreamWriter[_]): StreamingQuery = {
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try writer.start()
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Feed `rows` through a 4-batch MemoryStream, batch k holding the
    * rows whose `sliceBy` (a LONG column) is ≡ k (mod 4), and run
    * `perBatch` on each micro-batch (`processAllAvailable` fences each
    * one) at stateful width 4. The batch frame carries the stream's
    * session; a frame `perBatch` reads from `spark` plans at the
    * caller's width. */
  def slices(spark: SparkSession, rows: DataFrame, sliceBy: String)(
      perBatch: DataFrame => Unit): Unit = {
    val all = rows.collect()
    val key = rows.schema.fieldIndex(sliceBy)
    val in = MemoryStream(Encoders.row(rows.schema), spark)
    val q = start(spark, width("4"))(
      in.toDF().writeStream.outputMode("update")
        .foreachBatch((batch: DataFrame, _: Long) => perBatch(batch)))
    try (0 until 4).foreach { k =>
      in.addData(all.filter(_.getLong(key) % 4 == k).toSeq)
      q.processAllAvailable()
    } finally q.stop()
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

  /** [[files]] over ONE fixture table. */
  def files(s: SparkSession, d: String, tag: String, table: String,
      mode: String, conf: Map[String, String])(
      pipe: DataFrame => DataFrame): DataFrame =
    files(s, d, tag, Seq(table), mode, conf)(srcs => pipe(srcs.head))

  /** File-source streams of the fixture `tables` (the file source lists
    * a directory, so each fixture file is exposed through its own temp
    * dir holding one symlink — the op51 recipe) → `pipe`, which gets
    * one stream per table in order → memory sink, Trigger.AvailableNow,
    * started under `conf` (at fixture group counts a narrow stateful
    * width pays: per-state-store overhead dominates a wider shuffle).
    * Symlink cleanup runs in finally so a failed stream doesn't leak
    * the temp dir; the sink's rows are lifted out and the temp view
    * dropped, so repeated invocations (Bench reps) don't pin result
    * sets in the session. */
  def files(s: SparkSession, d: String, tag: String, tables: Seq[String],
      mode: String, conf: Map[String, String])(
      pipe: Seq[DataFrame] => DataFrame): DataFrame = {
    // events goes through the adaptive loader for its SCHEMA so a nanos
    // fixture in a session lacking the legacy flag fails with the
    // helpful Tables.eventsRaw diagnostic instead of the raw
    // PARQUET_TYPE_ILLEGAL error (the streaming read below then types
    // ts identically to the batch path)
    val schemas = tables.map { t =>
      if (t == "events") graft.sources.Tables.eventsRaw(s, d).schema
      else s.read.parquet(s"$d/$t.parquet").schema
    }
    val streamDir = Files.createTempDirectory(s"graft_${tag}_")
    val links = tables.map(t => streamDir.resolve(t).resolve(s"$t.parquet"))
    val name = s"graft_${tag}_${System.nanoTime()}"
    try {
      val srcs = tables.lazyZip(schemas).lazyZip(links).map {
        (t, schema, link) =>
          Files.createDirectory(link.getParent)
          Files.createSymbolicLink(link, Paths.get(s"$d/$t.parquet"))
          s.readStream.schema(schema).parquet(link.getParent.toString)
      }
      start(s, conf)(pipe(srcs).writeStream.outputMode(mode)
        .format("memory").queryName(name)
        .trigger(Trigger.AvailableNow())).awaitTermination()
    } finally {
      links.foreach { link =>
        Files.deleteIfExists(link)
        Files.deleteIfExists(link.getParent)
      }
      Files.deleteIfExists(streamDir): Unit
    }
    val out = s.table(name)
    val rows = out.collect()
    s.catalog.dropTempView(name)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }
}
