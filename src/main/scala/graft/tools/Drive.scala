package graft.tools

/** Manual driver: runs SparkEntry.entry (and optionally named queries)
  * exactly as the harness would, printing result samples. Usage:
  *   sbt "runMain graft.tools.Drive"            — entry() on sf0.001
  *   sbt "runMain graft.tools.Drive q1 q2 ..."  — named queries on sf0.001
  *   SPARK_GRAFT_SF_DIR=... to change the fixture dir.
  */
object Drive {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.local()
    if (args.isEmpty) {
      val df = graft.SparkEntry.entry(spark)
      println(s"[drive] entry rows=${df.count()}")
      df.show(10, truncate = false)
    } else args.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      println(s"[drive] $name rows=${df.count()}")
      df.show(10, truncate = false)
    }
    spark.stop()
  }
}
