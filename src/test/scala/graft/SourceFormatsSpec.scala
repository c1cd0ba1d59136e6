package graft

import graft.sources.Tables

/** OP-02 breadth: the loaders and operators are format-agnostic
  * DataFrames, so the same data must survive json / csv / orc round
  * trips byte-for-byte — the property that lets a deployment swap
  * storage formats without touching a single operator. */
class SourceFormatsSpec extends SparkSpec {

  test("documents survive json/csv/orc write→read round trips") {
    val doc = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source")
    val want = doc.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val tmp = tempDir("graft_fmt_").toString
    try {
      doc.write.mode("overwrite").json(s"$tmp/json")
      // symmetric quote/escape so embedded quotes round-trip
      doc.write.mode("overwrite")
        .option("header", "true").option("quote", "\"").option("escape", "\"")
        .csv(s"$tmp/csv")
      doc.write.mode("overwrite").orc(s"$tmp/orc")

      val viaJson = spark.read.schema(doc.schema).json(s"$tmp/json")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val viaCsv = spark.read.schema(doc.schema)
        .option("header", "true").option("quote", "\"").option("escape", "\"")
        .csv(s"$tmp/csv")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val viaOrc = spark.read.orc(s"$tmp/orc")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq

      assert(viaJson == want, "json round trip diverged")
      assert(viaCsv == want, "csv round trip diverged")
      assert(viaOrc == want, "orc round trip diverged")

      // and an operator runs unchanged over the non-parquet source
      val quality = graft.functions.TextOps.qualityScoreBp(
        org.apache.spark.sql.functions.col("text"),
        graft.functions.TextOps.defaultProfiles.head._2)
      val fromParquet = doc.select(quality.as("q")).orderBy("q")
        .collect().map(_.getLong(0)).toSeq
      val fromOrc = spark.read.orc(s"$tmp/orc").select(quality.as("q"))
        .orderBy("q").collect().map(_.getLong(0)).toSeq
      assert(fromOrc == fromParquet)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively(): Unit
    }
  }
}
