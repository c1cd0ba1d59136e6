package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Executable evidence for the SCALE.md designs: bucketed storage removes
  * the join shuffle; watermarked stream-stream joins bound state. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without a shuffle on the join key") {
    val db = "graft_buckets"
    // each JVM gets a fresh in-memory metastore but the warehouse dir on
    // disk persists across runs — clear stale table locations first
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"/tmp/graft_warehouse/$db.db")).deleteRecursively()
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    Tables.orders(spark, sfDir)
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(s"$db.orders_b")
    Tables.lineitem(spark, sfDir)
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(s"$db.lineitem_b")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = spark.table(s"$db.lineitem_b")
        .join(spark.table(s"$db.orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      // bucketing co-locates both sides: the join itself needs no Exchange
      val joinSection = plan.substring(0, plan.length)
      assert(joinSection.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).size
      // only the final groupBy aggregate may shuffle — not the join inputs
      assert(exchanges <= 1,
        s"join inputs must not re-shuffle (found $exchanges exchanges):\n$plan")

      // and the result matches the unbucketed join
      val expect = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(joined.collect().map(r => (r.getString(0), r.getLong(1))).toSet
        == expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("bucketed fingerprint store anti-joins without re-shuffling the store") {
    // SCALE.md's IncrementalDedup claim, executed: with the accepted-
    // content store bucketed by fp, the dedup anti-join shuffles ONLY
    // the incoming batch — the store (the big side: every doc ever
    // accepted) is read in place. One Exchange in the whole plan.
    import graft.streaming.IncrementalDedup
    val db = "graft_buckets"
    import scala.reflect.io.Directory
    new Directory(
      new java.io.File(s"/tmp/graft_warehouse/$db.db/fp_store_b"))
      .deleteRecursively()
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    IncrementalDedup.fingerprints(docs.filter(col("doc_id") < 300), "text")
      .write.mode("overwrite")
      .bucketBy(8, "fp").sortBy("fp")
      .saveAsTable(s"$db.fp_store_b")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val incoming = docs
        .withColumn("fp", IncrementalDedup.fingerprint(col("text")))
      val deduped = incoming.join(spark.table(s"$db.fp_store_b"),
        Seq("fp"), "left_anti")
      val plan = deduped.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges <= 1,
        s"store side must not re-shuffle (found $exchanges exchanges):\n$plan")
      val got = deduped.select("doc_id").collect().map(_.getLong(0)).toSet
      val expect = docs.filter(col("doc_id") >= 300)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == expect, "bucketed anti-join diverged from the id filter")
      assert(expect.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("bucketed benchmark-shingle store: contamination semi-join reads it in place") {
    // SCALE.md's op134 claim, executed: with the benchmark shingle
    // store bucketed by h, the decontamination LEFT SEMI join shuffles
    // ONLY the arrival shingles — the store is read in place. One
    // Exchange below the join.
    val db = "graft_buckets"
    import scala.reflect.io.Directory
    new Directory(
      new java.io.File(s"/tmp/graft_warehouse/$db.db/bench_sh_b"))
      .deleteRecursively()
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def hashes(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"),
        explode(ColumnBridge.column(graft.expressions.TrigramMd5s(
          ColumnBridge.expression(
            graft.functions.TextOps.tokens(col("text")))))).as("h"))
    hashes(docs.filter(col("doc_id") % 50 === 0)).select("h").distinct()
      .write.mode("overwrite").bucketBy(8, "h").sortBy("h")
      .saveAsTable(s"$db.bench_sh_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val flagged = hashes(docs.filter(col("doc_id") % 50 =!= 0))
        .join(spark.table(s"$db.bench_sh_b"), Seq("h"), "left_semi")
        .select(col("doc_id"))
      val plan = flagged.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges <= 1,
        s"store side must not re-shuffle (found $exchanges exchanges):\n$plan")
      val got = flagged.distinct().collect().map(_.getLong(0)).toSet
      val want = graft.streaming.StreamingDecontaminate.flagAgainstStore(
          docs.filter(col("doc_id") % 50 =!= 0), {
            // unbucketed store dir for the reference computation
            val d = tempDir("graft_dc_ref_")
            graft.streaming.StreamingDecontaminate.storeWrite(
              docs.filter(col("doc_id") % 50 === 0), "doc_id", "text",
              d.toString)
            d.toString
          }, "doc_id", "text")
        .collect().map(_.getLong(0)).toSet
      assert(got == want && want.nonEmpty,
        "bucketed semi-join diverged from the plain gate")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("bucketed band store: near-dup candidate join reads the store in place") {
    // SCALE.md's op132 claim, executed: with the reference corpus' band
    // store bucketed by the join keys (band_idx, band_hash), the
    // candidate join shuffles ONLY the arrival micro-batch — the store
    // (every accepted doc's bands) is read in place. One Exchange below
    // the join.
    import graft.streaming.StreamingNearDedup
    val db = "graft_buckets"
    import scala.reflect.io.Directory
    new Directory(
      new java.io.File(s"/tmp/graft_warehouse/$db.db/nd_bands_b"))
      .deleteRecursively()
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    def bandRows(df: org.apache.spark.sql.DataFrame, as: String) =
      StreamingNearDedup.shinglesAndBands(df, "doc_id", "text", 16, 4)
        .select(col("doc_id").as(as), explode(col("__bands")).as("b"))
        .select(col(as), col("b.band_idx").as("band_idx"),
          col("b.band_hash").as("band_hash"))
    bandRows(docs.filter(col("doc_id") % 3 === 0), "dup_of")
      .write.mode("overwrite")
      .bucketBy(8, "band_idx", "band_hash").sortBy("band_idx", "band_hash")
      .saveAsTable(s"$db.nd_bands_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // plant one exact copy of a store doc among the arrivals so the
      // candidate set is non-empty by construction at any fixture size
      val copyText = docs.filter(col("doc_id") % 3 === 0)
        .filter(size(split(col("text"), " ")) >= 3)
        .orderBy("doc_id").limit(1).collect()(0).getString(1)
      val arrivalsDocs = docs.filter(col("doc_id") % 3 =!= 0).unionByName(
        spark.createDataFrame(Seq((1000001L, copyText))).toDF("doc_id", "text"))
      val arrivals = bandRows(arrivalsDocs, "doc_id")
      val cand = arrivals
        .join(spark.table(s"$db.nd_bands_b"), Seq("band_idx", "band_hash"))
        .select(col("doc_id"), col("dup_of"))
      val plan = cand.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(exchanges <= 1,
        s"store side must not re-shuffle (found $exchanges exchanges):\n$plan")
      // the bucketed join's candidate set must equal the plain one
      val got = cand.distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = arrivals
        .join(bandRows(docs.filter(col("doc_id") % 3 === 0), "dup_of"),
          Seq("band_idx", "band_hash"))
        .select(col("doc_id"), col("dup_of")).distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want && want.nonEmpty,
        "bucketed candidate join diverged from the plain join")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("LSH-bucket-partitioned storage prunes non-probed buckets at scan time") {
    // SCALE.md's ANN storage claim, executed: write the corpus
    // partitioned by its (deterministic, integer-exact) sign-LSH bucket,
    // then probe one bucket — the scan must read ONLY that partition
    // (partition pruning), which at 100 TB turns an ANN probe into a
    // ~2^-bits fraction of the corpus read.
    import graft.functions.Similarity
    val dir = tempDir("graft_lsh_store_")
    try {
      val emb = Tables.embeddings(spark, sfDir)
      val bucketed = Similarity.lshBucketsMulti(emb, "vec_id", nBits = 4,
          nTables = 1)
        .select(col("vec_id"), col("embedding"), col("bucket"))
      bucketed.write.mode("overwrite").partitionBy("bucket")
        .parquet(dir.toString)

      val probe = spark.read.parquet(dir.toString)
        .filter(col("bucket") === 3)
      val plan = probe.queryExecution.executedPlan.toString
      // the bucket predicate must land in PartitionFilters, not a
      // post-scan Filter over all partitions
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
        s"bucket filter did not become a partition filter:\n$plan")
      // and the pruned read equals the unpruned filter
      val expect = bucketed.filter(col("bucket") === 3)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(probe.select("vec_id").collect().map(_.getLong(0)).toSet
        == expect)
      assert(expect.nonEmpty, "fixture produced an empty probe bucket")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("LSH probe pushes the probed-bucket IN-list into the store scan (static PartitionFilter)") {
    // the round-4 weak spot, fixed: lshProbe collects the (bounded,
    // metadata-sized) probed bucket set at plan time and pushes it into
    // the (tbl, bucket)-partitioned store scan — the scan must carry a
    // static PartitionFilter instead of reading all nTables·2^nBits
    // directories, and the pruned probe must still equal the end-to-end
    // annTopK exactly.
    import graft.functions.Similarity
    val dir = tempDir("graft_lsh_probe_")
    try {
      val emb = Tables.embeddings(spark, sfDir)
      Similarity.lshIndexWrite(emb, dir.toString, nBits = 4, nTables = 8)
      val queries = emb.filter(col("vec_id") < 8)
      val probe = Similarity.lshProbe(queries, dir.toString, 5)
      val plan = probe.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
        s"probed-bucket set did not become a partition filter:\n$plan")
      val got = probe.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val expect = Similarity.annTopK(queries, emb, 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.sorted.toSeq == expect.sorted.toSeq,
        "pruned probe diverged from the end-to-end build")
      assert(got.nonEmpty)
      // file hygiene: the write clusters rows by target directory, so
      // each (tbl, bucket) dir holds ONE data file, not one per task
      val bucketDirs = new java.io.File(s"$dir/buckets").listFiles()
        .filter(_.getName.startsWith("tbl="))
        .flatMap(_.listFiles()).filter(_.getName.startsWith("bucket="))
      assert(bucketDirs.nonEmpty)
      bucketDirs.foreach { bd =>
        val parts = bd.listFiles().count(_.getName.endsWith(".parquet"))
        assert(parts == 1, s"${bd.getPath} holds $parts part files")
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("SQ8 probe prunes the cent_id-partitioned code store at scan time") {
    // op115's scale shape: the probed-cell IN-list (collected plan-time,
    // ≤ queries×nProbe values) must land as a static PartitionFilter on
    // the codes scan — the probe reads only the probed cells' int8
    // codes, never the full store
    import graft.functions.Similarity
    val dir = tempDir("graft_sq8_probe_")
    try {
      val emb = Tables.embeddings(spark, sfDir)
      Similarity.sq8IndexWrite(emb, dir.toString, nCells = 16, lloydIters = 2)
      val queries = emb.filter(col("vec_id") < 8)
      val probe = Similarity.sq8Probe(queries, dir.toString, 5, nProbe = 4)
      val plan = probe.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cent_id".r.findFirstIn(plan).isDefined,
        s"probed-cell set did not become a partition filter:\n$plan")
      assert(probe.collect().nonEmpty)
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("IVF-PQ probes prune the cent_id-partitioned code store (batch static, streaming micro-batch)") {
    // op119's scale shape: the probed-cell IN-list lands as a static
    // PartitionFilter on the packed-code scan (the op115 shape); op120's
    // streaming leg must also read only probed cent_id partitions in its
    // micro-batch plan — the whole point of composing IVF onto op100's
    // full-scan PQ-flat ADC
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Similarity
    import graft.streaming.StreamingAnn
    val dir = tempDir("graft_ivfpq_probe_")
    try {
      val emb = Tables.embeddings(spark, sfDir)
      Similarity.ivfPqIndexWrite(emb, dir.toString, nCells = 16,
        ivfLloyd = 2, m = 8, nCents = 16, pqLloyd = 1)
      val queries = emb.filter(col("vec_id") < 8)
      val probe = Similarity.ivfPqProbe(queries, dir.toString, 5, nProbe = 4)
      val plan = probe.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*cent_id".r.findFirstIn(plan).isDefined,
        s"probed-cell set did not become a partition filter:\n$plan")
      assert(probe.collect().nonEmpty)
      // streaming leg (r13 shape): the whole probe is ONE PqShardTopK
      // projection over the broadcast shard — the micro-batch plan must
      // carry NO join and NO static file scan (the former stream-static
      // join re-read the code store every trigger; the shard loads once
      // at stream build, which is the SqShardTopK/GraphBeamTopK recipe)
      val in = MemoryStream[(Long, Seq[Float])]
      val stream = StreamingAnn.ivfPqProbeStream(
        in.toDF().toDF("vec_id", "embedding"), dir.toString, 5, nProbe = 4)
      val joins = stream.queryExecution.analyzed.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.isEmpty, "IVF-PQ serving plan must be join-free")
      assert(stream.queryExecution.analyzed.toString
          .toLowerCase.contains("pqshardtopk"),
        "expected the PqShardTopK expression in the serving plan")
      val q = stream.writeStream.outputMode("complete").format("memory")
        .queryName("ivfpq_probe_out").start()
      in.addData(queries.select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq)
      q.processAllAvailable()
      q.stop()
      assert(spark.table("ivfpq_probe_out").count() > 0)
      spark.sql("DROP VIEW IF EXISTS ivfpq_probe_out")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("streaming PQ ADC probe prunes to probed cells on a celled store " +
    "(delegation = the ivfpq leg, bit-identical)") {
    // r12: pqAdcProbeStream's full-store scan survives only for the
    // cell-less legacy layout; on the IVF-PQ layout it MUST delegate to
    // the pruned leg — identical rows, partition-pruned micro-batch plan
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.Similarity
    import graft.streaming.StreamingAnn
    val dir = tempDir("graft_pqadc_prune_")
    try {
      val emb = Tables.embeddings(spark, sfDir)
      Similarity.ivfPqIndexWrite(emb, dir.toString, nCells = 16,
        ivfLloyd = 2, m = 8, nCents = 16, pqLloyd = 1)
      val queryRows = emb.filter(col("vec_id") < 8)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      def drain(tag: String,
          probe: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
          : (Seq[(Long, Long, Long, Long)], String) = {
        val in = MemoryStream[(Long, Seq[Float])]
        val q = probe(in.toDF().toDF("vec_id", "embedding"))
          .writeStream.outputMode("complete").format("memory")
          .queryName(tag).start()
        in.addData(queryRows)
        q.processAllAvailable()
        val sw = new java.io.StringWriter
        Console.withOut(new java.io.PrintStream(new java.io.OutputStream {
          def write(b: Int): Unit = sw.write(b)
        })) { q.explain() }
        q.stop()
        val rows = StreamingAnn.explodeTopK(spark.table(tag), "neg_d2")
          .orderBy("q_id", "rank").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSeq
        spark.sql(s"DROP VIEW IF EXISTS $tag")
        (rows, sw.toString)
      }
      val (viaAdc, adcPlan) = drain("pqadc_celled",
        df => StreamingAnn.pqAdcProbeStream(df, dir.toString, 5, nProbe = 2))
      val (viaIvfPq, _) = drain("pqadc_ref",
        df => StreamingAnn.ivfPqProbeStream(df, dir.toString, 5, nProbe = 2))
      assert(viaAdc == viaIvfPq,
        "celled pqAdcProbeStream must equal the ivfpq leg bit-for-bit")
      assert(viaAdc.nonEmpty)
      // r13: the delegated leg is the join-free PqShardTopK projection
      // (probed cells selected INSIDE the expression) — no join, no
      // static scan in the micro-batch plan
      assert(adcPlan.toLowerCase.contains("pqshardtopk"),
        s"celled pqAdcProbeStream must delegate to the shard leg:\n$adcPlan")
      assert(!adcPlan.toLowerCase.contains("sortmergejoin") &&
          !adcPlan.toLowerCase.contains("broadcasthashjoin") &&
          !adcPlan.toLowerCase.contains("shuffledhashjoin"),
        s"celled pqAdcProbeStream micro-batch must be join-free:\n$adcPlan")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("IVF index storage (cells partitioned by cent_id) prunes non-probed cells at scan time") {
    // SCALE.md's IVF claim ("cell id becomes a storage partition key"),
    // executed: ivfIndexWrite persists the cell-assigned corpus
    // partitioned by cent_id, so a probe touching nProbe cells reads
    // nProbe/nCells of the corpus — partition pruning, same mechanics
    // the LSH layout proves above.
    import graft.functions.Similarity
    val dir = tempDir("graft_ivf_store_")
    try {
      val emb = Tables.embeddings(spark, sfDir)
      Similarity.ivfIndexWrite(emb, dir.toString, nCells = 16)
      val cells = spark.read.parquet(s"$dir/cells")
      val probeCells = cells.filter(col("cent_id").isin(0, 3))
      val plan = probeCells.queryExecution.executedPlan.toString
      // the cell predicate must land in PartitionFilters, not a
      // post-scan Filter over all 16 partitions
      assert("PartitionFilters: \\[[^\\]]*cent_id".r.findFirstIn(plan).isDefined,
        s"cent_id filter did not become a partition filter:\n$plan")
      // and the pruned read equals the unpruned filter
      val all = cells.select("n_id", "cent_id").collect()
        .map(r => r.getLong(0) -> r.get(1).toString.toLong)
      val expect = all.filter(p => p._2 == 0 || p._2 == 3).map(_._1).toSet
      assert(probeCells.select("n_id").collect().map(_.getLong(0)).toSet
        == expect)
      assert(expect.nonEmpty && expect.size < all.length,
        "fixture probe must hit a strict, non-empty subset of cells")
      // stronger: the REAL probe path needs no static predicate at all —
      // ivfProbe joins cells against the broadcast query-cell list, and
      // Spark's dynamic partition pruning turns that join into a
      // runtime PartitionFilter on the cells scan (reads nProbe/nCells
      // of the corpus with zero manual plumbing)
      val probePlan = Similarity.ivfProbe(
          Tables.embeddings(spark, sfDir).filter(col("vec_id") < 8),
          dir.toString, 5, nProbe = 4)
        .queryExecution.executedPlan.toString
      assert(probePlan.toLowerCase.contains("dynamicpruning"),
        s"ivfProbe cells scan is not dynamically partition-pruned:\n$probePlan")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively(): Unit
    }
  }

  test("RocksDB state store runs the watermarked aggregation (100TB state config)") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(String, Double)]
      val agg = in.toDF().toDF("ts_str", "value")
        .select(col("ts_str").cast("timestamp").as("ts"), col("value"))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "10 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("w.start"), "HH:mm").as("w_start"), col("n"))
      val q = agg.writeStream.outputMode("complete").format("memory")
        .queryName("rocks_out").start()
      in.addData(("2024-01-01 10:01:00", 1.0), ("2024-01-01 10:12:00", 2.0),
        ("2024-01-01 10:14:00", 3.0))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("rocks_out").as[(String, Long)].collect().toMap
      assert(out == Map("10:00" -> 1L, "10:10" -> 2L))
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("op102's bloom prefilter sits below the confirm join (prunes before the shuffle)") {
    // the 100 TB decontamination claim: the corpus-side shuffle into the
    // confirm join carries only might-contain survivors. Verify the
    // optimizer kept the Bloom probe in a Filter with NO join beneath it
    // — i.e. it runs against the scan side, not over join output.
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val df = graft.queries.DedupQueries.op102BloomDecontaminate(spark, sfDir)
    val lp = df.queryExecution.optimizedPlan
    val bloomFilters = lp.collect {
      case f: Filter
        if f.condition.find(_.isInstanceOf[BloomFilterMightContain]).isDefined => f
    }
    assert(bloomFilters.nonEmpty, s"no bloom Filter in plan:\n$lp")
    bloomFilters.foreach { f =>
      assert(f.collect { case j: Join => j }.isEmpty,
        s"bloom prefilter evaluates above a join:\n$f")
    }
  }

  test("op106 compacts the changelog hash-based — ObjectHashAggregate, one exchange, no input sort") {
    // the scale claims in the scaladocs: LatestAgg plans as an
    // ObjectHashAggregate (the built-in max_by(struct, struct) spelling
    // would be a SortAggregate that sorts every input partition by the
    // grouping key), partials run below ONE exchange, and nothing under
    // that exchange sorts the changelog
    val df = graft.queries.LakehouseQueries.op106ChangelogCompact(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      "LatestAgg did not plan hash-based aggregation")
    assert(!plan.contains("SortAggregate"),
      "changelog compaction fell back to SortAggregate")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected 1 hash exchange, saw $hashEx")
    val belowExchange = plan.substring(plan.indexOf("Exchange hashpartitioning"))
    assert(!belowExchange.contains("Sort "),
      "changelog got sorted below the aggregate exchange")
  }

  test("op124 vocab merges: two bounded hash exchanges, top-K via TakeOrdered") {
    // the scale claims in Vocab.pairMerges' scaladoc: one shuffle for
    // the word-frequency group, one for the pair group, and the top-K
    // goes through TakeOrdered (map-side k-trim) — never a global Sort
    // of the full pair table
    val df = graft.functions.Vocab.pairMerges(
      graft.sources.Tables.documents(spark, sfDir), "text", 50)
    val plan = df.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 2, s"expected 2 hash exchanges, saw $hashEx:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K did not plan as TakeOrdered:\n$plan")
  }

  test("op127 bpe encode: merge chain on the vocab table, broadcast join to corpus") {
    // the scale claim in Vocab.encodeTokens' scaladoc: the k-stage
    // replace chain runs over DISTINCT words only, and the per-word
    // token counts come back to the exploded corpus via a broadcast
    // join — never a SortMergeJoin (vocab is KB-to-MB at any corpus
    // size)
    val df = graft.functions.Vocab.encodeTokens(
      graft.sources.Tables.documents(spark, sfDir), "doc_id", "text",
      Seq(("e", "r"), ("e", "_"), ("er", "_")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab join did not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side SortMergeJoin in the encode plan:\n$plan")
  }

  test("op129 weighted sample: TakeOrdered k-trim, no global sort") {
    val df = graft.queries.TrainQueries.op129WeightedSample(
      spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted sample did not plan as TakeOrdered:\n$plan")
    // the only range partitioning allowed is the final k-row rank/order,
    // never over the full corpus — TakeOrdered already reduced to k
    val full = "Exchange rangepartitioning".r.findAllIn(plan).length
    assert(full <= 1, s"full-corpus range exchange in the sample plan:\n$plan")
  }

  test("op130 char-dup: fingerprints generate from the linear expression") {
    val df = graft.functions.Dedup.charDupProfile(
      graft.sources.Tables.documents(spark, sfDir), "doc_id", "text", 40)
    val plan = df.queryExecution.executedPlan.toString
    // the stride-1 windows must come from the one-pass RollingHashWindows
    // expression (8-byte keys), not a substring/transform materialization
    assert(plan.toLowerCase.contains("rollinghashwindows"),
      s"windows not generated by the rolling-hash expression:\n$plan")
    assert(!plan.contains("substring("),
      s"window text materialized in the plan:\n$plan")
  }

  test("stream-stream join with watermarks + time bound emits matches (bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    val impressions = MemoryStream[(String, String)] // (ad_id, ts)
    val clicks = MemoryStream[(String, String)]
    val imp = impressions.toDF().toDF("ad_id", "ts_str")
      .select(col("ad_id"), col("ts_str").cast("timestamp").as("imp_ts"))
      .withWatermark("imp_ts", "10 minutes")
    val clk = clicks.toDF().toDF("ad_id", "ts_str")
      .select(col("ad_id").as("c_ad_id"), col("ts_str").cast("timestamp").as("clk_ts"))
      .withWatermark("clk_ts", "10 minutes")
    // click must follow its impression within 30 minutes — the time bound
    // is what lets Spark purge state on both sides as watermarks advance
    val joined = imp.join(clk,
      expr("""ad_id = c_ad_id AND
              clk_ts >= imp_ts AND clk_ts <= imp_ts + interval 30 minutes"""))
      .select(col("ad_id"), date_format(col("clk_ts"), "HH:mm").as("click_at"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ad_join_out").start()
    impressions.addData(("ad1", "2024-01-01 10:00:00"), ("ad2", "2024-01-01 10:05:00"))
    q.processAllAvailable()
    clicks.addData(("ad1", "2024-01-01 10:10:00")) // within 30min → match
    clicks.addData(("ad2", "2024-01-01 11:30:00")) // 85min later → no match
    q.processAllAvailable()
    q.stop()
    val out = spark.table("ad_join_out").as[(String, String)].collect().toSet
    assert(out == Set(("ad1", "10:10")))
  }

  // ------------------------------------------------- r9 pack plan shapes

  test("op173: one hash Exchange feeds both windows (lag + cumsum)") {
    val plan = graft.queries.SeqGraphQueries
      .op173Islands(spark, sfDir).queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    // lag + running sum share (user_id) partitioning; only the final
    // groupBy may add a second hash Exchange
    assert(hashEx <= 2, s"expected <=2 hash exchanges:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("op175/op178/op188: candidate generation is hash joins, never " +
      "a nested-loop or cartesian product") {
    Seq(
      graft.queries.SeqGraphQueries.op175FuzzyJoin(spark, sfDir),
      graft.queries.SeqGraphQueries.op178NullAwareNotIn(spark, sfDir),
      graft.queries.WarehouseQueries.op188PitLookup(spark, sfDir)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"BNLJ in plan:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"cartesian in plan:\n$plan")
    }
  }

  test("op176: every rank-side join is a broadcast (edges never " +
      "re-shuffled per iteration)") {
    val plan = graft.queries.SeqGraphQueries
      .op176Pagerank(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the contribution joins against ranks must not sort-merge: an SMJ
    // there would re-shuffle the edge list every iteration
    assert(!plan.contains("SortMergeJoin"), s"SMJ in plan:\n$plan")
  }

  test("op182: attribution runs on one window partitioning, no " +
      "purchase-event self-join") {
    val plan = graft.queries.WarehouseQueries
      .op182Attribution(spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"join in plan:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 2, s"expected <=2 hash exchanges:\n$plan")
  }

  // ------------------------------------------------ r12 pack plan shapes

  test("op213/op215/op221: degree/brand attaches broadcast; no BNLJ or cartesian") {
    Seq(
      graft.queries.SeqGraphQueries.op213JaccardRecommend(spark, sfDir),
      graft.queries.SeqGraphQueries.op215Assortativity(spark, sfDir),
      graft.queries.SeqGraphQueries.op221Modularity(spark, sfDir)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"expected broadcast attach:\n$plan")
      // op221's 1-row e_tot scalar attach is a declared broadcast NL
      // (the op176 nVerts pattern); nothing may plan as a
      // non-broadcast cartesian
      assert(!plan.contains("CartesianProduct"),
        s"cartesian in plan:\n$plan")
    }
  }

  test("op210: both retrieval legs and the fusion stay hash/broadcast joins") {
    val plan = graft.queries.LakehouseQueries
      .op210RrfFusion(spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the brute cosine leg is a DECLARED broadcast NL over the 3-query
    // set (op67's contract; the production leg is an index probe) —
    // but nothing may plan as a non-broadcast cartesian
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n$plan")
  }

  test("op222: every delta leg joins by broadcast (refresh moves O(delta))") {
    val plan = graft.queries.WarehouseQueries
      .op222DeltaJoin(spark, sfDir).queryExecution.executedPlan.toString
    // three delta legs => at least three broadcast joins in the plan
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 3, s"expected >=3 broadcast legs, got $bhj:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("op250: selection is the bounded TopKAgg, never a window sort") {
    // the scale claim: both half-counts in one hash aggregate, the
    // top-10 through ObjectHashAggregate (map-side k-trim) — the
    // window-sort spelling the oracle uses would single-partition the
    // user table
    val df = graft.queries.MonitorQueries
      .op250HeavyChangers(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"TopKAgg did not plan hash-based:\n$plan")
    assert(!plan.contains("Window"),
      s"selection fell back to a window sort:\n$plan")
  }

  test("op238: negation pattern is one user shuffle, one Window node") {
    // the scale claim: both running maxima (view and error) share ONE
    // window spec, so the whole negative-pattern match costs a single
    // hash exchange by user and a single Window operator
    val df = graft.queries.AnalyticsQueries.op238CepNoError(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected 1 hash exchange, saw $hashEx:\n$plan")
    val windows = "\\bWindow\\b".r.findAllIn(plan).length
    assert(windows == 1, s"expected 1 Window node, saw $windows:\n$plan")
  }

  test("op233: rank sums reduce to the value grid before the single-partition walk") {
    // the grid contract in mwuFromGrid's scaladoc: ONE hash exchange
    // (the value-count aggregate), and the only single-partition stage
    // is the cumulative walk over the distinct-value grid
    val df = graft.queries.MonitorQueries.op233MannWhitney(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected 1 hash exchange, saw $hashEx:\n$plan")
    assert(plan.contains("Exchange SinglePartition"),
      s"grid walk missing its declared single-partition stage:\n$plan")
  }

  // ------------------------------------------------ r14 web-pack plan shapes

  test("op318: main-content extraction is map-only (no join, no hash shuffle)") {
    // the scaladoc's 100 TB claim: cost ∝ page bytes, nothing else —
    // the only exchange allowed is ordered()'s output range sort
    val plan = graft.queries.WebQueries.defs("op318_main_content")(
      spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"join in plan:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"hash shuffle in a map-only op:\n$plan")
  }

  test("op319: link-graph build is map-only until the single edge-count shuffle") {
    val plan = graft.queries.WebQueries.defs("op319_link_graph")(
      spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"join in plan:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected 1 hash exchange, saw $hashEx:\n$plan")
  }

  test("op320: every rank-side join is a broadcast (page edges never re-shuffled per iteration)") {
    // op176's contract carried onto the crawl graph
    val plan = graft.queries.WebQueries.defs("op320_page_rank")(
      spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"SMJ in plan:\n$plan")
  }

  test("op317: PSL attach is a broadcast join over the suffix dim") {
    val plan = graft.queries.WebQueries.defs("op317_registered_domain_psl")(
      spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"SMJ in plan:\n$plan")
  }

  test("op323: URL resolution is map-only (no join, no hash shuffle)") {
    // the resolver is one row-local expression chain — at 100 TB it
    // adds ZERO exchanges to the extraction stage; the only exchange
    // allowed is ordered()'s output range sort
    val plan = graft.queries.WebQueries.defs("op323_url_resolve")(
      spark, sfDir).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"join in plan:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"hash shuffle in a map-only op:\n$plan")
  }
}
