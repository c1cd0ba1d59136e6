package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.apps.{AnnServeJob, CurationJob, DedupJob, IngestGateJob, LakehouseJob}

/** Smoke coverage for the three standalone spark-submit entry points —
  * the public mains a real user launches. Their cores are oracle-gated
  * (op113 / op98 / op115-116); what's only exercised HERE is each
  * main's arg parsing, session bring-up, and on-disk output layout.
  *
  * NOT a SparkSpec: each job's main stops the session it used, so this
  * suite manages its own handles — a session is created before the
  * main (getOrCreate inside the job reuses it, exactly as under
  * spark-submit) and a fresh one is brought up for the assertions.
  * Suites run sequentially in the forked test JVM, and later suites'
  * getOrCreate transparently builds a new session after our stop, so
  * the stop stays contained. For the same reason it keeps its own
  * temporary root rather than [[SparkSpec.tempDir]]'s. */
class JobSmokeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  private def freshSession(): SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .getOrCreate()

  private lazy val root: Path = Files.createTempDirectory("graft_JobSmokeSpec_")

  private def tmp(tag: String): Path =
    Files.createTempDirectory(root, s"graft_job_$tag")

  override def afterAll(): Unit =
    try SparkSpec.deleteTree(root) finally super.afterAll()

  test("CurationJob.main writes the op113 manifest partitioned by shard") {
    freshSession()
    val out = tmp("curation")
    CurationJob.main(Array(sfDir, out.toString))
    val s = freshSession()
    // layout: partitioned by shard — a trainer reading shard k scans
    // one directory
    val shardDirs = out.resolve("manifest").toFile.listFiles()
      .filter(_.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty, "manifest is not partitioned by shard")
    // content: exactly the gated op113 query's rows (shard moves to the
    // end as the partition column; compare as keyed sets)
    val written = s.read.parquet(s"$out/manifest")
    val expected = graft.queries.TrainQueries.op113CurationPipeline(s, sfDir)
    assert(written.columns.sorted.sameElements(expected.columns.sorted),
      s"manifest columns diverge: ${written.columns.mkString(",")}")
    val cols = expected.columns.sorted.toIndexedSeq.map(col)
    val w = written.select(cols: _*).collect().map(_.toSeq).toSet
    val e = expected.select(cols: _*).collect().map(_.toSeq).toSet
    assert(w == e, "manifest rows diverge from the gated op113 output")
  }

  test("DedupJob.main writes op98's survivors and honors the threshold arg") {
    freshSession()
    val out = tmp("dedup")
    DedupJob.main(Array(sfDir, out.toString, "8000"))
    val s = freshSession()
    val written = s.read.parquet(s"$out/survivors")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
    val expected = graft.functions.Dedup.survivorsMinhash(
      docs, "doc_id", "text", 8000L)
    val wIds = written.select("doc_id").collect().map(_.getLong(0)).toSet
    val eIds = expected.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(wIds == eIds, "survivor set diverges from the gated composition")
    // survivors keep every input column (drop-rows, not project)
    assert(written.columns.sorted.sameElements(docs.columns.sorted))
  }

  test("IngestGateJob.main routes arrivals through all three gates and appends the store") {
    import org.apache.spark.sql.functions._
    val arrivals1 = tmp("gate_in1")
    val arrivals2 = tmp("gate_in2")
    val stores = tmp("gate_stores").toString
    val out1 = tmp("gate_out1")
    val out2 = tmp("gate_out2")
    val s0 = freshSession()
    val docs = s0.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").orderBy("doc_id").limit(45).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def write(s: SparkSession, rows: Seq[(Long, String)],
        dir: java.nio.file.Path): Unit =
      s.createDataFrame(rows).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(dir.toString)
    // run 1: all stores ABSENT — everything admits fresh, nothing flags
    write(s0, docs.take(40).toSeq, arrivals1)
    IngestGateJob.main(Array(arrivals1.toString, stores, out1.toString))
    val s1 = freshSession()
    assert(s1.read.parquet(s"$out1/fresh").count() == 40L)
    assert(s1.read.schema("doc_id BIGINT, dup_of BIGINT, jaccard_bp BIGINT")
      .parquet(s"$out1/near_dup_pairs").count() == 0L)
    assert(s1.read.schema("doc_id BIGINT")
      .parquet(s"$out1/contaminated").count() == 0L)
    assert(s1.read.parquet(s"$stores/fps").count() == 40L,
      "run 1 must append its fingerprints to the store")
    // seed the flag stores: near-dup store holds copies of docs 0..4
    // under foreign ids; bench store holds doc 5's text
    graft.streaming.StreamingNearDedup.storeWrite(
      s1.createDataFrame(docs.take(5).map { case (id, t) => (id + 1000L, t) }
          .toSeq).toDF("doc_id", "text"),
      "doc_id", "text", s"$stores/neardup")
    graft.streaming.StreamingDecontaminate.storeWrite(
      s1.createDataFrame(Seq(docs(5)._1 + 2000L -> docs(5)._2))
        .toDF("doc_id", "text"),
      "doc_id", "text", s"$stores/bench")
    // run 2: docs 0..44 — 0..39 are exact repeats (store), 40..44 fresh;
    // 0..4 near-dup the seeded copies; contamination per the batch gate
    write(s1, docs.toSeq, arrivals2)
    IngestGateJob.main(Array(arrivals2.toString, stores, out2.toString))
    val s2 = freshSession()
    val freshIds = s2.read.parquet(s"$out2/fresh")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(freshIds == docs.drop(40).map(_._1).toSet,
      s"run 2 fresh set wrong: $freshIds")
    val pairs = s2.read
      .schema("doc_id BIGINT, dup_of BIGINT, jaccard_bp BIGINT")
      .parquet(s"$out2/near_dup_pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(docs.take(5).forall { case (id, _) => pairs.contains((id, id + 1000L)) },
      s"seeded near-dup copies not matched: $pairs")
    val flagged = s2.read.schema("doc_id BIGINT")
      .parquet(s"$out2/contaminated").collect().map(_.getLong(0)).toSet
    val expectFlagged = graft.streaming.StreamingDecontaminate
      .flagAgainstStore(
        s2.createDataFrame(docs.toSeq).toDF("doc_id", "text"),
        s"$stores/bench", "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(flagged == expectFlagged && flagged.contains(docs(5)._1),
      s"contamination flags diverge from the batch gate: $flagged")
    assert(s2.read.parquet(s"$stores/fps").distinct().count() == 45L,
      "run 2 must append only the 5 new fingerprints")
  }

  test("AnnServeJob.main builds the index once and serves the query stream") {
    freshSession()
    val corpus = sfDir
    val index = tmp("ann_index").resolve("sq8")
    val queries = tmp("ann_queries")
    // stage two query vectors as the "arriving" parquet file
    val s0 = freshSession()
    s0.read.parquet(s"$corpus/embeddings.parquet")
      .filter(col("vec_id") < 2).coalesce(1)
      .write.mode("overwrite").parquet(queries.toString)
    sys.props("spark.graft.oneshot") = "1"
    try {
      AnnServeJob.main(Array(corpus, index.toString, queries.toString, "5", "4"))
      // build-once: _SUCCESS written; a second run must reuse, not retrain
      val marker = index.resolve("vectors/_SUCCESS")
      assert(Files.exists(marker), "index build left no _SUCCESS marker")
      val builtAt = Files.getLastModifiedTime(marker)
      freshSession()
      AnnServeJob.main(Array(corpus, index.toString, queries.toString, "5", "4"))
      assert(Files.getLastModifiedTime(marker) == builtAt,
        "second run rebuilt the index instead of probing the existing store")
    } finally sys.props.remove("spark.graft.oneshot"): Unit
    // the job-built store serves the gated probe shape: k rows per query
    val s = freshSession()
    val qv = s.read.parquet(queries.toString)
    val top = graft.functions.Similarity.sq8Probe(qv, index.toString, 5, 4)
    assert(top.count() == 2 * 5, "job-built index does not serve k per query")
  }

  test("LakehouseJob.main drives the store lifecycle: build, append, compact, snapshots") {
    freshSession()
    val store = tmp("lakehouse").resolve("docs").toString
    LakehouseJob.main(Array(sfDir, store))                    // build → snap 1
    freshSession()
    LakehouseJob.main(Array(sfDir, store, "append"))          // append → snap 2
    freshSession()
    LakehouseJob.main(Array(sfDir, store, "compact"))         // expire+compact → snap
    val s = freshSession()
    // the corpus was ingested twice (build + append of the same input),
    // so the compacted store holds exactly 2× the fixture rows
    val total = s.read.parquet(s"$sfDir/documents.parquet").count()
    assert(graft.functions.Layout.readClustered(s, store).count() == 2 * total)
    // compact expired ALL older snapshots (their file lists would
    // dangle) and committed its own under a NEVER-REUSED id: build=1,
    // append=2, so compact's must be 3 even though 1 and 2 are gone
    assert(graft.functions.Layout.listSnapshots(s, store) == Seq(3L),
      "compact must expire old snapshots and advance the id high-water mark")
    // manifest stats survived the lifecycle (metadata-only read)
    assert(s.read.parquet(s"$store/_manifest")
      .agg(sum("n_rows")).head().getLong(0) == 2 * total)
    // unknown action fails loudly
    intercept[IllegalArgumentException] {
      LakehouseJob.main(Array(sfDir, store, "bogus"))
    }: Unit
  }

  test("AuditJob.main writes all four report legs with exact integers") {
    freshSession()
    val out = tmp("audit")
    graft.apps.AuditJob.main(
      Array(sfDir, out.toString, "/root/testdata/sf0.01"))
    val s = freshSession()
    // profile: one row per (table, column), counts consistent
    val prof = s.read.parquet(s"$out/profile")
    assert(prof.count() > 0)
    assert(prof.where(col("table") === "region").count() == 2)
    // skew: the op185 report verbatim
    val skew = s.read.parquet(s"$out/skew").collect()
    assert(skew.map(_.getAs[String]("key_col")).toSet ==
      Set("l_partkey", "l_suppkey"))
    // drift: a real reference was supplied -> non-marker D
    val drift = s.read.parquet(s"$out/drift").collect()
    assert(drift.length == 1 && drift(0).getAs[Long]("d_bp") >= 0)
    // trend: op184 verbatim over the drop
    assert(s.read.parquet(s"$out/trend").count() == 5)
    // reproducibility: a second run writes a byte-identical skew report
    val out2 = tmp("audit2")
    graft.apps.AuditJob.main(
      Array(sfDir, out2.toString, "/root/testdata/sf0.01"))
    val s2 = freshSession()
    assert(s2.read.parquet(s"$out2/skew").collect().map(_.toSeq).toSeq ==
      skew.map(_.toSeq).toSeq)
  }

  test("GraphJob.main writes all four graph legs; features join is total") {
    freshSession()
    val out = tmp("graph")
    graft.apps.GraphJob.main(Array(sfDir, out.toString))
    val s = freshSession()
    val comps = s.read.parquet(s"$out/components").collect()
    assert(comps.nonEmpty)
    val feats = s.read.parquet(s"$out/features").collect()
    // one feature row per graph vertex; the lcc join dropped nothing
    assert(feats.length.toLong ==
      comps.map(_.getAs[Long]("n_vertices")).sum)
    assert(feats.forall(r => r.getAs[Long]("lcc_bp") <= 10000L))
    assert(s.read.parquet(s"$out/curve").count() > 0)
    assert(s.read.parquet(s"$out/modularity").count() > 0)
  }

  test("MonitorJob.main writes every statistics leg; reruns diff clean") {
    freshSession()
    val out = tmp("monitor")
    graft.apps.MonitorJob.main(Array(sfDir, out.toString))
    val s = freshSession()
    // every leg present (fixture has documents, events, embeddings)
    val mwu = s.read.parquet(s"$out/rank_drift").collect()
    assert(mwu.length == 1 &&
      mwu(0).getAs[Long]("u1_x2") + mwu(0).getAs[Long]("u2_x2") ==
        2 * mwu(0).getAs[Long]("n1") * mwu(0).getAs[Long]("n2"))
    assert(s.read.parquet(s"$out/trend_robust").count() == 5)
    assert(s.read.parquet(s"$out/changepoint").count() == 5)
    val conf = s.read.parquet(s"$out/conformal").collect()
    assert(conf.length == 5 &&
      conf.forall(r => r.getAs[Long]("cover_bp") <= 10000))
    assert(s.read.parquet(s"$out/srm").count() == 1)
    assert(s.read.parquet(s"$out/changers").count() == 10)
    assert(s.read.parquet(s"$out/centroid").count() > 0)
    // reproducibility: second run byte-identical on the changers leg
    val out2 = tmp("monitor2")
    graft.apps.MonitorJob.main(Array(sfDir, out2.toString))
    val s2 = freshSession()
    assert(s2.read.parquet(s"$out2/changers").collect().map(_.toSeq)
      .sortBy(_.head.asInstanceOf[Long]).toSeq ==
      s2.read.parquet(s"$out/changers").collect().map(_.toSeq)
        .sortBy(_.head.asInstanceOf[Long]).toSeq)
  }
}
