package graft

import org.apache.spark.sql.functions._

import graft.functions.Layout
import graft.sources.Tables

/** Z-order layout semantics + the file-skipping concentration argument. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("mortonKey Column arithmetic is bit-identical to the Scala reference") {
    // deterministic pseudo-random 16-bit pairs (no Math.random: specs
    // must be replayable), including the mask edges
    val pairs = (0 until 512).map { i =>
      val a = (i * 2654435761L) & 0xFFFFL
      val b = (i * 40503L + 17) & 0xFFFFL
      (a, b)
    } ++ Seq((0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L))
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        Layout.mortonKey(col("a"), col("b")).as("z"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) == Layout.mortonKeyRef(a, b),
        s"morton($a, $b)")
    }
    // interleave is a bijection on the 16+16-bit grid: even/odd bit
    // positions never collide
    assert(pairs.map { case (a, b) => Layout.mortonKeyRef(a, b) }.distinct.size
      == pairs.distinct.size)
  }

  test("mortonKey masks inputs above 16 bits instead of corrupting neighbors") {
    assert(Layout.mortonKeyRef(0x1FFFFL, 0L) == Layout.mortonKeyRef(0xFFFFL, 0L))
  }

  test("clustered write concentrates a dimension rectangle into few files; round-robin spreads it") {
    val docs = Layout.denseDimIds(Tables.documents(spark, sfDir), "lang", "lang_id")
      .withColumn("len_bucket",
        least(expr("n_chars div 16"), lit(65535L)).cast("bigint"))
      .select(col("doc_id"), col("lang_id"), col("len_bucket"), col("n_chars"))
    // the probe rectangle is Z-aligned: len band [16, 24) is an aligned
    // 8-block (one contiguous Z run per dimension pair), lang_id 2 a
    // single cell — the shape a layout-aware query planner aims for.
    // A band crossing a high bit boundary fragments into more runs but
    // still prunes; the aligned case shows the mechanism cleanly.
    val rect = col("lang_id") === 2L && col("len_bucket").between(16L, 23L)

    val base = tempDir("graft_layout_spec_").toString
    Layout.writeClustered(docs,
      Layout.mortonKey(col("lang_id"), col("len_bucket")), 16, s"$base/clustered")
    docs.repartition(16).write.mode("overwrite").parquet(s"$base/roundrobin")

    def filesHit(df: org.apache.spark.sql.DataFrame): (Long, Long) =
      (df.filter(rect).select(input_file_name()).distinct().count(),
        df.select(input_file_name()).distinct().count())
    val (hitC, totC) = filesHit(Layout.readClustered(spark, s"$base/clustered"))
    val (hitR, totR) = filesHit(spark.read.parquet(s"$base/roundrobin"))
    assert(totC >= 12 && totR >= 12, s"expected ~16 files, got $totC / $totR")
    // the rectangle is a contiguous Z-key band intersecting few range
    // files; round-robin smears it across (nearly) all of them. This
    // concentration IS the footer/manifest min-max skipping argument:
    // a lakehouse file index prunes every non-intersecting file.
    assert(hitC * 3 <= totC,
      s"clustered: rectangle rows should concentrate (hit $hitC of $totC files)")
    assert(hitR * 2 >= totR,
      s"round-robin control should smear the rectangle (hit $hitR of $totR files)")

    // and the clustered store is lossless
    val a = Layout.readClustered(spark, s"$base/clustered")
      .select("doc_id", "lang_id", "len_bucket", "n_chars")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val b = docs.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(a.toSeq == b.toSeq, "clustered store must hold exactly the corpus")

    // manifest-pruned read: reads STRICTLY fewer files than the store
    // holds, yet the rectangle result is identical — the conservative
    // Z-interval prune never drops a matching row
    val pruned = Layout.readPruned(spark, s"$base/clustered", 2L, 2L, 16L, 23L)
    val prunedFiles = pruned.select(input_file_name()).distinct().count()
    assert(prunedFiles < totC,
      s"manifest prune should skip files ($prunedFiles of $totC read)")
    val wantRows = Layout.readClustered(spark, s"$base/clustered")
      .filter(rect).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val gotRows = pruned.filter(rect)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(gotRows == wantRows, "pruned read must lose no matching row")

    // the manifest stores RELATIVE file names: a store published via
    // tmp-dir rename (the build-if-absent convention) or moved later
    // must stay readable — absolute paths in the manifest broke this
    assert(new java.io.File(s"$base/clustered")
      .renameTo(new java.io.File(s"$base/relocated")), "rename failed")
    val relocated = Layout.readPruned(spark, s"$base/relocated", 2L, 2L, 16L, 23L)
      .filter(rect).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(relocated == wantRows, "relocated store must stay readable")
  }

  test("append adds key-sorted files + manifest rows without touching existing ones") {
    val base = tempDir("graft_layout_spec_append_").toString
    val docs = Layout.denseDimIds(Tables.documents(spark, sfDir), "lang", "lang_id")
      .withColumn("len_bucket",
        least(expr("n_chars div 16"), lit(65535L)).cast("bigint"))
      .select(col("doc_id"), col("lang_id"), col("len_bucket"), col("n_chars"))
    val zk = Layout.mortonKey(col("lang_id"), col("len_bucket"))
    Layout.writeClustered(docs.filter(col("doc_id") % 5 =!= 0L), zk, 8, s"$base/docs")

    def snapshot(dir: String): Map[String, Long] =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val dataBefore = snapshot(s"$base/docs/data")
    val manifestBefore = spark.read.parquet(s"$base/docs/_manifest").count()

    Layout.appendClustered(docs.filter(col("doc_id") % 5 === 0L), zk, 4, s"$base/docs")

    // existing data files untouched (names AND mtimes), new ones added
    val dataAfter = snapshot(s"$base/docs/data")
    assert(dataBefore.forall { case (n, m) => dataAfter.get(n).contains(m) },
      "append must not rewrite existing data files")
    assert(dataAfter.size > dataBefore.size, "append must add new files")
    // manifest grew by exactly the new files
    val manifest = spark.read.parquet(s"$base/docs/_manifest")
    assert(manifest.count() - manifestBefore ==
      (dataAfter.size - dataBefore.size).toLong,
      "one manifest row per new file")
    assert(manifest.select("file").distinct().count() == manifest.count(),
      "manifest must not duplicate files")
    // the full store now holds the whole corpus, and the pruned read
    // still finds every rectangle row across old and new files
    assert(Layout.readClustered(spark, s"$base/docs").count() == docs.count())
    val rect = col("lang_id") === 2L && col("len_bucket").between(16L, 23L)
    val want = docs.filter(rect).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val got = Layout.readPruned(spark, s"$base/docs", 2L, 2L, 16L, 23L)
      .filter(rect).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, "pruned read must stay exact after append")
  }

  test("compaction merges fragmented files, rebuilds the manifest, moves no rows") {
    val base = tempDir("graft_layout_spec_compact_").toString
    val docs = Layout.denseDimIds(Tables.documents(spark, sfDir), "lang", "lang_id")
      .withColumn("len_bucket",
        least(expr("n_chars div 16"), lit(65535L)).cast("bigint"))
      .select(col("doc_id"), col("lang_id"), col("len_bucket"), col("n_chars"))
    val zk = Layout.mortonKey(col("lang_id"), col("len_bucket"))
    Layout.writeClustered(docs.filter(col("doc_id") % 4 === 0L), zk, 4, s"$base/docs")
    (1L to 3L).foreach { r =>
      Layout.appendClustered(docs.filter(col("doc_id") % 4 === r), zk, 4, s"$base/docs")
    }
    def nFiles = Layout.readClustered(spark, s"$base/docs")
      .select(input_file_name()).distinct().count()
    val fragmented = nFiles
    assert(fragmented >= 12, s"appends should fragment the store ($fragmented files)")

    Layout.compactClustered(spark, s"$base/docs", numFiles = 4,
      bloomKey = Some("doc_id"), bloomExpectedPerFile = 1024)

    assert(nFiles < fragmented / 2, s"compaction should merge files ($nFiles left)")
    val manifest = spark.read.parquet(s"$base/docs/_manifest")
    assert(manifest.count() == nFiles, "manifest must be rebuilt to the new files")
    // rows identical, pruned read exact, and the point index works on
    // the compacted store (bloomKey applied during compaction)
    assert(Layout.readClustered(spark, s"$base/docs").count() == docs.count())
    val rect = col("lang_id") === 2L && col("len_bucket").between(16L, 23L)
    val want = docs.filter(rect).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val got = Layout.readPruned(spark, s"$base/docs", 2L, 2L, 16L, 23L)
      .filter(rect).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, "pruned read must stay exact after compaction")
    assert(Layout.readPointCandidates(spark, s"$base/docs", 42L)
      .filter(col("doc_id") === 42L).count() == 1L)
  }

  test("time travel: snapshots pin every version of the append/delete lifecycle; expiry fails loudly") {
    val base = tempDir("graft_layout_spec_tt_").toString
    val docs = Layout.denseDimIds(Tables.documents(spark, sfDir), "lang", "lang_id")
      .withColumn("len_bucket",
        least(expr("n_chars div 16"), lit(65535L)).cast("bigint"))
      .select(col("doc_id"), col("lang_id"), col("len_bucket"), col("n_chars"))
    val zk = Layout.mortonKey(col("lang_id"), col("len_bucket"))
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

    Layout.writeClustered(docs.filter(col("doc_id") % 5 =!= 0L), zk, 8, s"$base/docs")
    assert(Layout.commitSnapshot(spark, s"$base/docs") == 1L)
    Layout.appendClustered(docs.filter(col("doc_id") % 5 === 0L), zk, 4, s"$base/docs")
    assert(Layout.commitSnapshot(spark, s"$base/docs") == 2L)
    Layout.deleteByKeys(docs.filter(col("doc_id") % 10 === 3L)
      .select(col("doc_id")), s"$base/docs")
    assert(Layout.commitSnapshot(spark, s"$base/docs") == 3L)
    assert(Layout.listSnapshots(spark, s"$base/docs") == Seq(1L, 2L, 3L))

    // each version is exactly its lifecycle state — later mutations
    // invisible to earlier snapshots
    assert(ids(Layout.readAsOf(spark, s"$base/docs", 1L))
      == ids(docs.filter(col("doc_id") % 5 =!= 0L)))
    assert(ids(Layout.readAsOf(spark, s"$base/docs", 2L)) == ids(docs))
    assert(ids(Layout.readAsOf(spark, s"$base/docs", 3L))
      == ids(docs.filter(col("doc_id") % 10 =!= 3L)))
    // and HEAD equals the newest snapshot
    assert(ids(Layout.readCurrent(spark, s"$base/docs"))
      == ids(Layout.readAsOf(spark, s"$base/docs", 3L)))

    // expiry drops old versions; reading one fails loudly
    Layout.expireSnapshots(spark, s"$base/docs", keepLast = 2)
    assert(Layout.listSnapshots(spark, s"$base/docs") == Seq(2L, 3L))
    val e = intercept[IllegalArgumentException] {
      Layout.readAsOf(spark, s"$base/docs", 1L)
    }
    assert(e.getMessage.contains("no snapshot"))
    assert(ids(Layout.readAsOf(spark, s"$base/docs", 2L)) == ids(docs),
      "surviving snapshots must stay intact after expiry")
  }

  test("metadata-only count: contained files answer from stats, boundary files scan, result exact") {
    val base = tempDir("graft_layout_spec_stats_").toString
    val docs = Layout.denseDimIds(Tables.documents(spark, sfDir), "lang", "lang_id")
      .withColumn("len_bucket",
        least(expr("n_chars div 16"), lit(65535L)).cast("bigint"))
      .select(col("doc_id"), col("lang_id"), col("len_bucket"), col("n_chars"))
    val zk = Layout.mortonKey(col("lang_id"), col("len_bucket"))
    Layout.writeClustered(docs, zk, 16, s"$base/docs",
      statsCols = Seq("lang_id", "len_bucket"))

    // manifest stats are complete: per-file n_rows sums to the corpus
    val manifest = spark.read.parquet(s"$base/docs/_manifest")
    assert(manifest.agg(sum("n_rows")).head().getLong(0) == docs.count())

    // a WIDE rectangle (every lang, most length bands) has interior
    // files answered purely from metadata and only boundary files read
    def direct(b: Seq[(String, Long, Long)]): Long =
      docs.filter(b.map { case (c, lo, hi) =>
        col(c) >= lo && col(c) <= hi }.reduce(_ && _)).count()
    val wide = Seq(("lang_id", 0L, 4L), ("len_bucket", 0L, 30L))
    val rcWide = Layout.countRectangleMeta(spark, s"$base/docs", wide)
    assert(rcWide.count == direct(wide), "wide rectangle count must be exact")
    assert(rcWide.metaOnlyFiles >= 1,
      s"wide rectangle should answer some files from metadata ($rcWide)")
    // a selective rectangle is exact too (boundary-scan path)
    val narrow = Seq(("lang_id", 1L, 1L), ("len_bucket", 4L, 20L))
    val rcNarrow = Layout.countRectangleMeta(spark, s"$base/docs", narrow)
    assert(rcNarrow.count == direct(narrow), "narrow rectangle count must be exact")
    assert(rcNarrow.metaOnlyFiles + rcNarrow.scannedFiles < 16L,
      s"manifest bounds should exclude non-intersecting files ($rcNarrow)")

    // tombstones poison metadata counts — the API must refuse, and
    // compaction (which applies them) must restore it
    Layout.deleteByKeys(docs.filter(col("doc_id") % 10 === 3L)
      .select(col("doc_id")), s"$base/docs")
    val e = intercept[IllegalArgumentException] {
      Layout.countRectangleMeta(spark, s"$base/docs", wide)
    }
    assert(e.getMessage.contains("tombstones"))
    Layout.compactClustered(spark, s"$base/docs", numFiles = 8,
      statsCols = Seq("lang_id", "len_bucket"))
    val after = Layout.countRectangleMeta(spark, s"$base/docs", wide)
    val liveInWide = docs.filter(col("doc_id") % 10 =!= 3L)
      .filter(wide.map { case (c, lo, hi) =>
        col(c) >= lo && col(c) <= hi }.reduce(_ && _)).count()
    assert(after.count == liveInWide,
      "metadata count must reflect the compacted (delete-applied) store")
  }

  test("merge-on-read delete: tombstones hide keys everywhere, compaction applies them physically") {
    val base = tempDir("graft_layout_spec_delete_").toString
    val docs = Layout.denseDimIds(Tables.documents(spark, sfDir), "lang", "lang_id")
      .withColumn("len_bucket",
        least(expr("n_chars div 16"), lit(65535L)).cast("bigint"))
      .select(col("doc_id"), col("lang_id"), col("len_bucket"), col("n_chars"))
    val zk = Layout.mortonKey(col("lang_id"), col("len_bucket"))
    Layout.writeClustered(docs, zk, 8, s"$base/docs",
      bloomKey = Some("doc_id"), bloomExpectedPerFile = 1024)

    val dataBefore = new java.io.File(s"$base/docs/data")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    Layout.deleteByKeys(docs.filter(col("doc_id") % 10 === 3L)
      .select(col("doc_id")), s"$base/docs")

    // delete is O(keys): no data or manifest file rewritten
    val dataAfter = new java.io.File(s"$base/docs/data")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(dataAfter == dataBefore, "delete must not touch data files")

    val wantLive = docs.filter(col("doc_id") % 10 =!= 3L)
    assert(Layout.readCurrent(spark, s"$base/docs").count() == wantLive.count())
    // deleted keys vanish from every read path: full, pruned, point
    assert(Layout.readCurrent(spark, s"$base/docs")
      .filter(col("doc_id") === 3L).count() == 0L)
    val rect = col("lang_id") === 2L && col("len_bucket").between(16L, 23L)
    val wantRect = wantLive.filter(rect).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(Layout.readPrunedCurrent(spark, s"$base/docs", 2L, 2L, 16L, 23L)
      .filter(rect).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == wantRect)

    // compaction applies tombstones physically and clears them
    Layout.compactClustered(spark, s"$base/docs", numFiles = 4,
      bloomKey = Some("doc_id"), bloomExpectedPerFile = 1024)
    assert(!new java.io.File(s"$base/docs/_tombstones").exists(),
      "compaction must clear applied tombstones")
    assert(Layout.readClustered(spark, s"$base/docs").count() == wantLive.count(),
      "compacted data must physically exclude deleted rows")
    assert(Layout.readClustered(spark, s"$base/docs")
      .filter(col("doc_id") % 10 === 3L).count() == 0L)
  }

  test("merge-on-read upsert: latest batch wins per key, deletes win by absence, compaction applies the changelog") {
    val base = tempDir("graft_layout_spec_upsert_").toString
    val st = s"$base/st"
    val rows = (0L until 100L).map(i => (i, i % 4, i % 8, i * 10))
    val df = rows.toDF("id", "a", "b", "v")
    val zk = Layout.mortonKey(col("a"), col("b"))
    Layout.writeClustered(df, zk, 4, st)
    val zkeyed = df.withColumn("zkey", zk)

    val dataBefore = new java.io.File(s"$st/data")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap

    // b1: UPDATE evens (v+1); b2: DELETE multiples of 10 (overrides b1
    // for 0,10,…); b3: UPSERT id 30 back with v=999 (overrides b2)
    assert(Layout.applyChanges(zkeyed.filter(col("id") % 2 === 0)
      .withColumn("v", col("v") + 1L).withColumn("_op", lit("U")),
      "id", st) == 1L)
    assert(Layout.applyChanges(zkeyed.filter(col("id") % 10 === 0)
      .withColumn("_op", lit("D")), "id", st) == 2L)
    assert(Layout.applyChanges(zkeyed.filter(col("id") === 30)
      .withColumn("v", lit(999L)).withColumn("_op", lit("U")),
      "id", st) == 3L)

    // upsert is O(batch): no data or manifest file rewritten
    val dataAfter = new java.io.File(s"$st/data")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(dataAfter == dataBefore, "changelog must not touch data files")

    def expected: Map[Long, Long] = rows.flatMap { case (i, _, _, v) =>
      if (i == 30) Some(i -> 999L)
      else if (i % 10 == 0) None
      else if (i % 2 == 0) Some(i -> (v + 1))
      else Some(i -> v)
    }.toMap
    def image(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("id", "v").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(image(Layout.readMerged(spark, st, "id")) == expected)

    // compaction refuses to silently drop the changelog…
    val noKey = intercept[IllegalArgumentException] {
      Layout.compactClustered(spark, st, numFiles = 2)
    }
    assert(noKey.getMessage.contains("changelog"))
    // …and applies it physically when given the merge key
    Layout.compactClustered(spark, st, numFiles = 2,
      mergeKey = Some("id"))
    assert(!new java.io.File(s"$st/_changes").exists(),
      "compaction must clear the applied changelog")
    assert(image(Layout.readClustered(spark, st)) == expected,
      "compacted data must equal the merged image")
    assert(image(Layout.readMerged(spark, st, "id")) == expected)
  }

  test("snapshotDiff reads only added files + tombstone delta; refuses across a compaction") {
    val base = tempDir("graft_layout_spec_diff_").toString
    val st = s"$base/st"
    val all = (0L until 100L).map(i => (i, i % 4, i % 8, i))
    val df = all.toDF("id", "a", "b", "v")
    val zk = Layout.mortonKey(col("a"), col("b"))
    Layout.writeClustered(df.filter(col("id") < 60), zk, 2, st)
    assert(Layout.commitSnapshot(spark, st) == 1L)
    Layout.appendClustered(df.filter(col("id") >= 60), zk, 2, st)
    assert(Layout.commitSnapshot(spark, st) == 2L)
    // delete spans OLD and NEW rows; one deleted key (70) was itself
    // appended after c=1 — in the c1→c3 diff it must count as NEITHER
    // insert NOR delete
    Layout.deleteByKeys(df.filter(col("id") % 35 === 0).select("id"), st)
    assert(Layout.commitSnapshot(spark, st) == 3L)

    def ids(d: org.apache.spark.sql.DataFrame): Set[Long] =
      d.select("id").collect().map(_.getLong(0)).toSet

    // c1→c2 (pure append): the inserted leg is a single-source scan —
    // probe that it touches ONLY the files added after c=1
    val (insA, delA) = Layout.snapshotDiff(spark, st, 1L, 2L)
    assert(ids(insA) == (60L until 100L).toSet)
    assert(delA.isEmpty)
    val insFiles = insA.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    val c1Files = spark.read.parquet(s"$st/_commits/c=1/manifest")
      .select("file").collect().map(_.getString(0)).toSet
    assert(insFiles.nonEmpty && insFiles.forall(f => !c1Files.exists(f.endsWith)),
      s"insert scan leaked into base files: $insFiles")

    // c1→c3 (append + delete): latest-wins composition
    val (ins, del) = Layout.snapshotDiff(spark, st, 1L, 3L)
    assert(ids(ins) == (60L until 100L).toSet - 70L,
      "inserts = appended minus appended-then-tombstoned")
    assert(ids(del) == Set(0L, 35L),
      "deletes = tombstone delta restricted to rows live at `from`")

    // a compaction invalidates file-level diffing: pre-compaction
    // snapshots die in the directory swap, so diffing across one fails
    // loudly on the missing snapshot (the in-code subset guard is
    // defense-in-depth for manually assembled commit dirs)
    Layout.compactClustered(spark, st, numFiles = 2)
    assert(Layout.commitSnapshot(spark, st) == 4L)
    val err = intercept[IllegalArgumentException] {
      Layout.snapshotDiff(spark, st, 1L, 4L)
    }
    assert(err.getMessage.contains("no snapshot"))
  }

  test("schema evolution: appended files widen the schema; evolved read null-fills old files exactly") {
    val base = tempDir("graft_layout_spec_evolve_").toString
    val st = s"$base/st"
    val baseRows = (0L until 60L).map(i => (i, i % 4, i % 8))
    val newRows = (60L until 80L).map(i => (i, i % 4, i % 8, i * 7))
    val zk = Layout.mortonKey(col("a"), col("b"))
    Layout.writeClustered(baseRows.toDF("id", "a", "b"), zk, 2, st)
    Layout.appendClustered(newRows.toDF("id", "a", "b", "q"), zk, 2, st)

    val ev = Layout.readClusteredEvolved(spark, st)
    assert(ev.schema.fieldNames.contains("q"), "union schema must carry q")
    assert(ev.count() == 80L)
    val got = ev.select("id", "q").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    (0L until 60L).foreach(i => assert(got(i).isEmpty, s"base row $i must null-fill"))
    (60L until 80L).foreach(i => assert(got(i).contains(i * 7), s"appended row $i"))
    // the manifest stayed consistent across the evolution: pruned reads
    // still plan over ALL files (old and new) for a covering rectangle
    assert(Layout.readPruned(spark, st, 0L, 3L, 0L, 7L).count() == 80L)
  }

  test("applyChanges rejects duplicate keys, bad _op values, and schema drift") {
    val base = tempDir("graft_layout_spec_upguard_").toString
    val st = s"$base/st"
    val df = (0L until 20L).map(i => (i, i % 2, i % 4, i)).toDF("id", "a", "b", "v")
    val zk = Layout.mortonKey(col("a"), col("b"))
    Layout.writeClustered(df, zk, 2, st)
    val zkeyed = df.withColumn("zkey", zk)
    val dup = intercept[IllegalArgumentException] {
      Layout.applyChanges(
        zkeyed.limit(4).withColumn("id", col("id") % 2)
          .withColumn("_op", lit("U")), "id", st)
    }
    assert(dup.getMessage.contains("duplicate"))
    val badOp = intercept[IllegalArgumentException] {
      Layout.applyChanges(zkeyed.limit(1).withColumn("_op", lit("X")),
        "id", st)
    }
    assert(badOp.getMessage.contains("_op"))
    val drift = intercept[IllegalArgumentException] {
      Layout.applyChanges(
        zkeyed.limit(1).withColumn("extra", lit(1))
          .withColumn("_op", lit("U")), "id", st)
    }
    assert(drift.getMessage.contains("schema"))
    // none of the rejected batches may have landed
    assert(!new java.io.File(s"$st/_changes").exists())
  }

  test("per-file bloom index plans point lookups from the manifest without false negatives") {
    val base = tempDir("graft_layout_spec_bloom_").toString
    val docs = Layout.denseDimIds(Tables.documents(spark, sfDir), "lang", "lang_id")
      .withColumn("len_bucket",
        least(expr("n_chars div 16"), lit(65535L)).cast("bigint"))
      .select(col("doc_id"), col("lang_id"), col("len_bucket"), col("n_chars"))
    val zk = Layout.mortonKey(col("lang_id"), col("len_bucket"))
    Layout.writeClustered(docs.filter(col("doc_id") % 5 =!= 0L), zk, 8,
      s"$base/docs", bloomKey = Some("doc_id"), bloomExpectedPerFile = 1024)
    Layout.appendClustered(docs.filter(col("doc_id") % 5 === 0L), zk, 4,
      s"$base/docs", bloomKey = Some("doc_id"), bloomExpectedPerFile = 1024)

    val total = Layout.readClustered(spark, s"$base/docs")
      .select(input_file_name()).distinct().count()
    // every present key must be found through the bloom plan (no false
    // negatives), with fewer files scanned than the store holds
    Seq(7L, 42L, 100L, 495L).foreach { k =>
      val cand = Layout.readPointCandidates(spark, s"$base/docs", k)
      val nFiles = cand.select(input_file_name()).distinct().count()
      assert(nFiles < total, s"key $k: bloom should skip files ($nFiles of $total)")
      val got = cand.filter(col("doc_id") === k).count()
      assert(got == 1L, s"key $k: point lookup must find exactly its row")
    }
    // an absent key yields no row regardless of bloom false positives
    assert(Layout.readPointCandidates(spark, s"$base/docs", 1L << 40)
      .filter(col("doc_id") === (1L << 40)).count() == 0L)
    // a store written WITHOUT the index fails loudly, not with a
    // missing-field surprise
    Layout.writeClustered(docs, zk, 4, s"$base/noindex")
    val e = intercept[IllegalArgumentException] {
      Layout.readPointCandidates(spark, s"$base/noindex", 7L)
    }
    assert(e.getMessage.contains("no point index"))
  }

  test("denseDimIds broadcasts the id map and windows only the distinct values") {
    val plan = Layout.denseDimIds(Tables.documents(spark, sfDir), "lang", "lang_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension id map must broadcast-join back, not sort-merge:\n$plan")
    // the single-partition window runs over the DISTINCT dimension
    // values (cardinality of `lang`), never the corpus — the corpus
    // side of the plan must carry no Window
    assert(plan.contains("Window") && plan.contains("HashAggregate"),
      s"ids should come from ranking the distinct values:\n$plan")
  }

  test("clustered scan pushes the rectangle predicate to the parquet scan") {
    val base = tempDir("graft_layout_spec_push_").toString
    val docs = Layout.denseDimIds(Tables.documents(spark, sfDir), "lang", "lang_id")
      .withColumn("len_bucket",
        least(expr("n_chars div 16"), lit(65535L)).cast("bigint"))
      .select(col("doc_id"), col("lang_id"), col("len_bucket"), col("n_chars"))
    Layout.writeClustered(docs,
      Layout.mortonKey(col("lang_id"), col("len_bucket")), 4, s"$base/docs")
    val plan = Layout.readClustered(spark, s"$base/docs")
      .filter(col("lang_id") === 1L && col("len_bucket").between(4L, 20L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("IsNotNull(lang_id)"),
      s"rectangle predicate must reach the scan:\n$plan")
  }
}
