package graft.tools

import org.apache.spark.sql.SparkSession

/** The one local session every command-line tool runs on — the session
  * shape of [[graft.Bench]]: `local[N]` with N shuffle partitions
  * (N = `SPARK_GRAFT_CPUS`, default 32), AQE on, the graft Catalyst
  * extensions, UTC, no UI, log level WARN. */
object GraftSession {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // custom Catalyst rules (base64 round-trip elimination)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // nanos-typed events fixtures read as longs; must be set at
      // construction (see Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
