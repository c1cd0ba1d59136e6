package graft.tools

/** Plan-artifact writer for the optimization rounds: dumps each named
  * query's `explain("formatted")` physical plan to
  * `<outDir>/<query><suffix>.txt` (no timed action — this is the
  * evidence file the judge reads, produced with the bench's session
  * settings). Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_PLAN_DIR=plans/r16 \
  *     SPARK_GRAFT_PLAN_SUFFIX=_after \
  *     sbt "runMain graft.tools.PlanDump op202_kcore ..."
  * Iterative queries materialize per-round intermediates during plan
  * CONSTRUCTION (localCheckpoint), so their dumped plan is the final
  * consumer plan over checkpointed rounds — the per-round shapes are
  * the loop bodies in code.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r16")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    val spark = GraftSession.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    args.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(outDir, s"$name$suffix.txt"), plan)
            println(s"[plandump] wrote $outDir/$name$suffix.txt")
          } catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[plandump] $name failed: $e")
          }
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(false))
      }
    }
    spark.stop()
  }
}
