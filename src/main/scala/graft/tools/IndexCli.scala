package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.Similarity
import graft.sources.Tables

/** Index-lifecycle driver: exercises the build-once / append-increments /
  * probe-many ANN contract end-to-end from the command line. Usage:
  *   sbt "runMain graft.tools.IndexCli <ivf|pq|lsh|ivfpq|sq8> [dir]"
  * Builds the chosen index on the even-id half of the embeddings fixture,
  * appends the odd-id half ({ivf,pq,lsh,ivfPq}IndexAppend — no
  * retraining), then probes with the first 8 vectors and prints the
  * top-k sample.
  * SPARK_GRAFT_SF_DIR changes the fixture dir (default sf0.001).
  */
object IndexCli {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty && Set("ivf", "pq", "lsh", "ivfpq", "sq8")(args(0)),
      "usage: IndexCli <ivf|pq|lsh|ivfpq|sq8> [dir]")
    val kind = args(0)
    val dir =
      if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_index_cli_").toString
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local()
    val emb = Tables.embeddings(spark, sfDir)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    val queries = emb.filter(col("vec_id") < 8)
    val d = s"$dir/$kind"
    kind match {
      case "ivf" =>
        Similarity.ivfIndexWrite(half, d, nCells = 16)
        Similarity.ivfIndexAppend(rest, d)
        println(s"[index] ivf cells rows=${spark.read.parquet(s"$d/cells").count()}")
        val r = Similarity.ivfProbe(queries, d, 5, nProbe = 4)
        println(s"[index] ivf probe rows=${r.count()}"); r.show(10)
      case "pq" =>
        Similarity.pqIndexWrite(half, d)
        Similarity.pqIndexAppend(rest, d)
        println(s"[index] pq codes rows=${spark.read.parquet(s"$d/codes").count()}")
        val r = Similarity.pqProbe(queries, d, 5)
        println(s"[index] pq probe rows=${r.count()}"); r.show(10)
      case "lsh" =>
        Similarity.lshIndexWrite(half, d)
        Similarity.lshIndexAppend(rest, d)
        println(s"[index] lsh bucket rows=${spark.read.parquet(s"$d/buckets").count()}")
        val r = Similarity.lshProbe(queries, d, 5)
        println(s"[index] lsh probe rows=${r.count()}"); r.show(10)
      case "ivfpq" =>
        Similarity.ivfPqIndexWrite(half, d, nCells = 16)
        Similarity.ivfPqIndexAppend(rest, d)
        println(s"[index] ivfpq packed rows=${spark.read.parquet(s"$d/codes_packed").count()}")
        val r = Similarity.ivfPqProbe(queries, d, 5, nProbe = 4)
        println(s"[index] ivfpq probe rows=${r.count()}"); r.show(10)
      case "sq8" =>
        Similarity.sq8IndexWrite(half, d, nCells = 16)
        Similarity.sq8IndexAppend(rest, d)
        println(s"[index] sq8 code rows=${spark.read.parquet(s"$d/codes").count()}")
        val r = Similarity.sq8Probe(queries, d, 5, nProbe = 4)
        println(s"[index] sq8 probe rows=${r.count()}"); r.show(10)
    }
    spark.stop()
  }
}
