package graft

import org.apache.spark.sql.functions._

/** Pins the two engine-infrastructure contracts (EngineQueries):
  * op264's bucketed join must plan with no Exchange and no Sort, and
  * op265's fact scan must carry a runtime `dynamicpruning` partition
  * filter — the properties the stores exist for, asserted at the plan
  * level where the correctness oracle cannot see them. */
class EngineSpec extends SparkSpec {

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) =>
      k -> (try Some(spark.conf.get(k)) catch { case _: Exception => None })
    }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("op264 bucketed join plans with zero Exchange and zero Sort") {
    // broadcast disabled: at test SF Catalyst would otherwise broadcast
    // the 15k-row side, which is exactly the escape hatch a 100 TB
    // fact⋈fact join does not have — the pin must hold on the SMJ path
    // sorted-bucket scan ordering is opt-in since Spark 3.0 (the
    // one-file-per-bucket precondition is expensive to VERIFY on huge
    // listings; our write guarantees it by construction, so opting in
    // is safe here and is what eliminates the Sort as well)
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
      val (ot, lt) = graft.queries.EngineQueries.bucketedTables(spark, sfDir)
      val o = spark.table(ot)
      val l = spark.table(lt)
      val joined = l.join(o, l("l_orderkey") === o("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle either side:\n$plan")
      // one key-sorted file per bucket ⇒ the scan itself satisfies the
      // SMJ's required ordering; a Sort here means the write-side
      // repartition/bucket alignment broke
      assert(!plan.contains("Sort "),
        s"bucketed join should not re-sort either side:\n$plan")
      assert(joined.count() ==
        graft.sources.Tables.lineitem(spark, sfDir).count())
    }
  }

  test("op264 store survives appends: zero-Exchange throughout, compaction restores zero-Sort") {
    // the production lifecycle the one-file-per-bucket guarantee needs:
    // appends are bucket-aligned (one MORE file per bucket), which
    // keeps Exchange elimination but costs the sorted-scan Sort until
    // a compaction rewrite (EngineQueries.compactBucketed) restores
    // one sorted run per bucket
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
      val nonce = s"graft_bcomp_${System.nanoTime()}"
      val dir = tempDir("graft_bcomp_")
      try {
        val l = graft.sources.Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_extendedprice"))
        val base = l.where(col("l_orderkey") % 2 === 0)
        val extra = l.where(col("l_orderkey") % 2 === 1)
        def bucketFiles(path: String): Map[String, Int] =
          new java.io.File(path).listFiles()
            .filter(_.getName.endsWith(".parquet")).toSeq
            .flatMap(f => "_(\\d{5})\\.".r.findFirstMatchIn(f.getName)
              .map(_.group(1)))
            .groupBy(identity).map { case (b, fs) => b -> fs.size }
        base.repartition(4, col("l_orderkey"))
          .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$dir/t").saveAsTable(s"${nonce}_t")
        assert(bucketFiles(s"$dir/t").values.forall(_ == 1))
        // bucket-aligned APPEND: same bucket spec, one more file/bucket
        extra.repartition(4, col("l_orderkey"))
          .write.mode("append").bucketBy(4, "l_orderkey")
          .sortBy("l_orderkey").option("path", s"$dir/t")
          .saveAsTable(s"${nonce}_t")
        val after = bucketFiles(s"$dir/t")
        assert(after.size == 4 && after.values.forall(_ == 2),
          s"expected 2 files in each of 4 buckets, got $after")
        def joinPlan(table: String): String = {
          val t = spark.table(table)
          val t2 = spark.table(table)
            .select(col("l_orderkey"), col("l_extendedprice").as("p2"))
          t.join(t2, "l_orderkey").queryExecution.executedPlan.toString
        }
        def agg(table: String): Seq[(Long, Long)] =
          spark.table(table).groupBy("l_orderkey")
            .agg(count(lit(1)).as("n"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        val want = agg(s"${nonce}_t")
        val multiPlan = joinPlan(s"${nonce}_t")
        // appends never cost the Exchange elimination...
        assert(!multiPlan.contains("Exchange"),
          s"multi-file buckets should still not shuffle:\n$multiPlan")
        // ...but DO cost the sorted scan (two sorted files ≠ one run)
        assert(multiPlan.contains("Sort "),
          s"expected the per-bucket Sort to reappear:\n$multiPlan")
        graft.queries.EngineQueries.compactBucketed(spark, s"${nonce}_t",
          4, "l_orderkey", s"$dir/t2", s"${nonce}_t2")
        val compacted = bucketFiles(s"$dir/t2")
        assert(compacted.size == 4 && compacted.values.forall(_ == 1),
          s"compaction should restore one file per bucket, got $compacted")
        val compactPlan = joinPlan(s"${nonce}_t2")
        assert(!compactPlan.contains("Exchange") &&
          !compactPlan.contains("Sort "),
          s"compacted store should join with zero Exchange AND zero " +
            s"Sort:\n$compactPlan")
        // the rewrite is lossless: same per-order aggregate
        assert(agg(s"${nonce}_t2") == want)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS ${nonce}_t")
        spark.sql(s"DROP TABLE IF EXISTS ${nonce}_t2")
        new scala.reflect.io.Directory(dir.toFile).deleteRecursively(): Unit
      }
    }
  }

  test("op264 two-table co-located join keeps zero Exchange when ONE side " +
    "has multi-file buckets; compaction restores zero-Sort") {
    // the r11 leg proved the lifecycle on a SELF-join; op264's actual
    // shape is fact ⋈ fact across TWO bucketed tables — after a
    // bucket-aligned append to one side the bucket spec still matches,
    // so Exchange elimination must survive (only the appended side's
    // per-bucket Sort reappears), and compact-first restores the
    // all-sorted plan. This pins the contract: appends never cost the
    // shuffle, only the sorted run — compaction is a Sort optimization,
    // not a correctness requirement.
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
      val nonce = s"graft_b2t_${System.nanoTime()}"
      val dir = tempDir("graft_b2t_")
      try {
        val l = graft.sources.Tables.lineitem(spark, sfDir)
          .select(col("l_orderkey"), col("l_extendedprice"))
        val o = graft.sources.Tables.orders(spark, sfDir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
        def writeBucketed(df: org.apache.spark.sql.DataFrame, path: String,
            table: String, mode: String): Unit =
          df.repartition(4, col("l_orderkey"))
            .write.mode(mode).bucketBy(4, "l_orderkey")
            .sortBy("l_orderkey").option("path", path).saveAsTable(table)
        writeBucketed(l.where(col("l_orderkey") % 2 === 0),
          s"$dir/l", s"${nonce}_l", "errorifexists")
        writeBucketed(o, s"$dir/o", s"${nonce}_o", "errorifexists")
        def joined = spark.table(s"${nonce}_l")
          .join(spark.table(s"${nonce}_o"), "l_orderkey")
        def planOf = joined.queryExecution.executedPlan.toString
        val before = planOf
        assert(!before.contains("Exchange") && !before.contains("Sort "),
          s"fresh two-table bucketed join must be exchange- and " +
            s"sort-free:\n$before")
        val wantRows = joined.count()
        // append to ONE side only — bucket counts now differ in files,
        // not in spec: the co-located join must keep Exchange
        // elimination, paying only the appended side's Sort
        writeBucketed(l.where(col("l_orderkey") % 2 === 1),
          s"$dir/l", s"${nonce}_l", "append")
        val after = planOf
        assert(!after.contains("Exchange"),
          s"multi-file buckets on one side must not reintroduce a " +
            s"shuffle:\n$after")
        assert(after.contains("Sort "),
          s"expected the appended side's per-bucket Sort:\n$after")
        val fullRows = joined.count()
        assert(fullRows > wantRows, "append must add joinable rows")
        // compact-first restores the all-sorted zero-Exchange plan
        graft.queries.EngineQueries.compactBucketed(spark, s"${nonce}_l",
          4, "l_orderkey", s"$dir/l2", s"${nonce}_l2")
        val compactJoin = spark.table(s"${nonce}_l2")
          .join(spark.table(s"${nonce}_o"), "l_orderkey")
        val cPlan = compactJoin.queryExecution.executedPlan.toString
        assert(!cPlan.contains("Exchange") && !cPlan.contains("Sort "),
          s"compacted two-table join should be exchange- and " +
            s"sort-free:\n$cPlan")
        assert(compactJoin.count() == fullRows, "compaction is lossless")
      } finally {
        Seq("_l", "_o", "_l2").foreach(sfx =>
          spark.sql(s"DROP TABLE IF EXISTS $nonce$sfx"))
        new scala.reflect.io.Directory(dir.toFile).deleteRecursively(): Unit
      }
    }
  }

  test("op264 matches the raw unbucketed join exactly") {
    val got = graft.queries.EngineQueries.op264BucketedJoin(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val l = graft.sources.Tables.lineitem(spark, sfDir)
    val o = graft.sources.Tables.orders(spark, sfDir)
    val want = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).cast("bigint").as("n_lines"),
        sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("price_cents"))
      .orderBy("o_orderpriority")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(got.size > 1, "fixture degenerate: one priority bucket")
  }

  test("op286 point lookup prunes to the keys' buckets and keeps zero Exchange") {
    val df = graft.queries.EngineQueries.bucketedLookup(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the IN-list's 3 keys hash into at most 3 of the 8 buckets — the
    // scan must report bucket pruning, and the aggregate must reuse the
    // scan's hash(l_orderkey) partitioning (no Exchange)
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, s"scan lost bucket pruning:\n$plan")
    assert(sel.get.group(1).toInt <= 3 && sel.get.group(2).toInt == 8,
      s"expected <=3 of 8 buckets selected, got ${sel.get.matched}")
    assert(!plan.contains("Exchange"),
      s"bucketed lookup aggregate should not shuffle:\n$plan")
    assert(df.count() == 3)
  }

  test("op265 fact scan is dynamically partition-pruned by the dim filter") {
    val df = graft.queries.EngineQueries.op265DppScan(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"fact scan lost its DPP subquery filter:\n$plan")
    // the quarter selects exactly 3 of the store's ~83 month partitions
    val months = df.collect().map(_.getString(0)).toSeq
    assert(months == months.sorted && months.forall(_.startsWith("1995-0")))
    assert(months.size == 3, s"expected 3 months, got $months")
  }

  test("op266 fact side carries the injected runtime Bloom filter") {
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = graft.queries.EngineQueries.bloomJoin(spark, sfDir)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"runtime bloom filter not injected on the fact side:\n$plan")
      assert(plan.contains("bloom_filter_agg"),
        s"no bloom_filter_agg creation subquery in the plan:\n$plan")
      // and the filtered result is still exact
      assert(df.count() > 0)
    }
  }

  test("op281 per-order aggregate over the bucketed store has no Exchange") {
    val df = graft.queries.EngineQueries.bucketedAgg(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed per-entity aggregate should not shuffle:\n$plan")
    assert(df.count() ==
      graft.sources.Tables.lineitem(spark, sfDir)
        .select("l_orderkey").distinct().count())
  }

  test("op274 AQE splits the hot-key partition (skew=true in final plan)") {
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2048",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1024",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = graft.queries.EngineQueries.skewJoin(spark, sfDir)
      df.collect() // AQE finalizes the plan only on execution
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not split the hot partition:\n$plan")
    }
  }

  test("op265 matches the raw unpartitioned computation exactly") {
    val got = graft.queries.EngineQueries.op265DppScan(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = graft.sources.Tables.lineitem(spark, sfDir)
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("m"),
        col("l_extendedprice"))
      .where(expr("(cast(substring(m, 6, 2) AS BIGINT) + 2) div 3") === 2 &&
        col("m").startsWith("1995"))
      .groupBy("m")
      .agg(count(lit(1)).cast("bigint").as("n_lines"),
        sum(round(col("l_extendedprice") * 100, 0).cast("long"))
          .as("price_cents"))
      .orderBy("m")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
  }
}
