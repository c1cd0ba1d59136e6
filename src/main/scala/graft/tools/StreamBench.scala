package graft.tools

/** Streaming-probes-only bench entry: the batch suite takes ~10 min at
  * sf0.1, but iterating on serving throughput (BenchStreaming) needs a
  * seconds-scale loop. Same session shape as [[graft.Bench]]. */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // optional first arg: repetitions (r16 — the serving-matrix
    // adjudication loop needs run-to-run spread, not one shot; each rep
    // is a full probe pass, so reps are minutes apart like Bench's
    // interleaved passes)
    val reps = args.headOption.map(_.toInt).getOrElse(1)
    val byKey = scala.collection.mutable.LinkedHashMap
      .empty[String, List[Double]]
    (1 to reps).foreach { pass =>
      graft.BenchStreaming.run(spark, sfDir).foreach { case (k, v) =>
        println(f"[streambench] pass $pass: $k = $v%.1f")
        byKey(k) = byKey.getOrElse(k, Nil) :+ v
      }
    }
    if (reps > 1) byKey.foreach { case (k, vs) =>
      val spread = if (vs.min > 0) vs.max / vs.min else -1.0
      println(f"[streambench] median $k = ${graft.Bench.median(vs)}%.1f " +
        f"(spread ${spread}%.2f)")
    }
    spark.stop()
  }
}
