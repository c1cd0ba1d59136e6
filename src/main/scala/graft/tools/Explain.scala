package graft.tools

/** Plan auditor: prints the formatted physical plan and timed count for
  * named queries. Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.Explain op61_dedup_ngram"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    args.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      println(s"===== $name =====")
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[explain] $name rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
