package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Kafka source/sink wiring (SURVEY.md §2.1: OP-01, OP-03, OP-04, OP-05).
  *
  * Mirrors the reference's builder chains
  * (/root/reference/sparkpykafkajoin.py:48-54,136-142,202-209) in Scala.
  * Requires the spark-sql-kafka connector on the classpath at runtime
  * (`--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>`);
  * unit tests instead drive the same downstream stages through
  * MemoryStream, which is why every pipeline stage is DataFrame→DataFrame.
  *
  * Scale notes: `minPartitions` lets a 1000-executor cluster split hot
  * topic-partitions; `maxOffsetsPerTrigger` bounds micro-batch size so a
  * full-topic replay (startingOffsets=earliest) backfills in bounded,
  * spill-free batches instead of one giant batch.
  */
object KafkaIO {

  /** OP-01 builder: the fully-optioned reader BEFORE `.load()` resolves
    * the source provider. Split out so the option plumbing is testable
    * in this sandbox (no kafka connector jar: `.load()` would throw at
    * provider lookup, but every option the reference sets is already on
    * the reader — the contract spec pins them against
    * /root/reference/sparkpykafkajoin.py:48-54,136-142). */
  def readStreamBuilder(
      spark: SparkSession,
      bootstrap: String,
      topic: String,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None,
      minPartitions: Option[Int] = None): org.apache.spark.sql.streaming.DataStreamReader = {
    var b = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
    maxOffsetsPerTrigger.foreach(n => b = b.option("maxOffsetsPerTrigger", n))
    minPartitions.foreach(n => b = b.option("minPartitions", n))
    b
  }

  /** OP-01: streaming scan of one topic from the earliest offset. */
  def readStream(
      spark: SparkSession,
      bootstrap: String,
      topic: String,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None,
      minPartitions: Option[Int] = None): DataFrame =
    readStreamBuilder(spark, bootstrap, topic, startingOffsets,
      maxOffsetsPerTrigger, minPartitions).load()

  /** OP-03: console sink, append mode. */
  def toConsole(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.outputMode("append").format("console")

  /** OP-04: Kafka sink with exactly-once checkpoint bookkeeping.
    * Input must have `key`/`value` string or binary columns. */
  def toKafka(
      df: DataFrame,
      bootstrap: String,
      topic: String,
      checkpointLocation: String): DataStreamWriter[Row] =
    df.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpointLocation)

  /** OP-05: run several sinks of one application concurrently and block.
    *
    * The reference starts its Kafka sink then calls awaitTermination(),
    * leaving a second console sink as dead code
    * (/root/reference/sparkpykafkajoin.py:209-211). The supported pattern
    * is: start every query, then await any termination.
    */
  def startAllAndAwait(spark: SparkSession, writers: Seq[DataStreamWriter[Row]],
      trigger: Option[Trigger] = None): Seq[StreamingQuery] = {
    val queries = writers.map { w =>
      trigger.fold(w)(w.trigger).start()
    }
    spark.streams.awaitAnyTermination()
    queries
  }
}
