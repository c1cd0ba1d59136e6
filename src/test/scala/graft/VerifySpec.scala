package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The verify harness must be LOUD about broken queries: r7 lost a full
  * round to 18 queries silently vanishing from CORRECTNESS because the
  * dump loop only printed failures to stderr. These pin the `_errors
  * .json` contract: always written, empty on green, and a throwing
  * query appears in it (while healthy siblings still dump). */
class VerifySpec extends SparkSpec {

  private def run(qs: Seq[(String, (SparkSession, String) => DataFrame)])
      : (String, Map[String, String]) = {
    val out = tempDir("graft_verify_spec").toString
    val errs = Verify.dumpQueries(spark, sfDir, out, qs)
    (out, errs)
  }

  private val good: (SparkSession, String) => DataFrame =
    (s, d) => s.read.parquet(s"$d/region.parquet")

  test("green run writes an EMPTY _errors.json (artifact always exists)") {
    val (out, errs) = run(Seq("ok_query" -> good))
    assert(errs.isEmpty)
    val f = Paths.get(s"$out/_errors.json")
    assert(Files.exists(f), "_errors.json missing on a green run")
    assert(Files.readString(f) == "{}")
    assert(new java.io.File(s"$out/ok_query").isDirectory)
  }

  test("a throwing query lands in _errors.json; healthy siblings still dump") {
    val boom: (SparkSession, String) => DataFrame =
      (s, d) => s.read.parquet(s"$d/region.parquet")
        .select(expr("assert_true(r_regionkey < 0)"))
    val (out, errs) = run(Seq("ok_query" -> good, "broken_query" -> boom))
    assert(errs.keySet == Set("broken_query"))
    val txt = Files.readString(Paths.get(s"$out/_errors.json"))
    assert(txt.contains("\"broken_query\""))
    assert(new java.io.File(s"$out/ok_query").isDirectory)
    assert(!new java.io.File(s"$out/broken_query").exists())
  }

  test("_summary.json carries per-query dump facts; errors carry err") {
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("kaput")
    val (out, _) = run(Seq("ok_query" -> good, "broken_query" -> boom))
    // written by dumpQueries itself as of r16 — no separate pass
    val json = Files.readString(Paths.get(s"$out/_summary.json"))
    assert(json.contains("\"n_queries\": 2"))
    assert(json.contains("\"n_dumped\": 1"))
    assert(json.contains("\"n_failed\": 1"))
    // dumped query: row count, sorted column list, a value fingerprint
    val facts = Verify.dumpFacts(spark, s"$out/ok_query")
    assert(facts.rows == spark.read.parquet(s"$sfDir/region.parquet").count())
    assert(facts.cols == facts.cols.sorted)
    assert(json.contains(s"""\"rows\": ${facts.rows}"""))
    assert(json.contains(s"""\"hash\": \"${facts.hash}\""""))
    // the fingerprint is deterministic across readbacks
    assert(Verify.dumpFacts(spark, s"$out/ok_query").hash == facts.hash)
    // failed query: err recorded, no facts
    assert(json.contains("\"broken_query\": {\"err\": "))
    assert(json.contains("kaput"))
  }

  test("summary is INCREMENTAL: a mid-run kill leaves a parseable prefix") {
    // r16, verdict item 5: the r15 judge's 10-minute kill left 323
    // perfect dumps and NO summary (facts were read back only after the
    // whole loop). Pin the fix by OBSERVING the artifact mid-run: the
    // second query reads _summary.json while "running" and must find
    // the first query's completed entry in a fully-parseable document.
    val out = tempDir("graft_verify_spec").toString
    @volatile var midRun: String = null
    val observer: (SparkSession, String) => DataFrame = (s, d) => {
      midRun = Files.readString(Paths.get(s"$out/_summary.json"))
      s.read.parquet(s"$d/region.parquet")
    }
    val errs = Verify.dumpQueries(spark, sfDir, out,
      Seq("first_query" -> good, "second_query" -> observer))
    assert(errs.isEmpty)
    assert(midRun != null)
    // the prefix parses: balanced JSON with first_query's facts, and
    // n_queries shows the run was visibly partial (1 of 2 entries)
    assert(midRun.contains("\"n_queries\": 2"))
    assert(midRun.contains("\"n_dumped\": 1"))
    assert(midRun.contains("\"first_query\": {\"rows\": "))
    assert(!midRun.contains("second_query"))
    assert(midRun.count(_ == '{') == midRun.count(_ == '}'),
      s"mid-run summary unbalanced: $midRun")
    // after completion both entries are present
    val done = Files.readString(Paths.get(s"$out/_summary.json"))
    assert(done.contains("first_query") && done.contains("second_query"))
    assert(done.contains("\"n_dumped\": 2"))
    // a prefix of a run where a query FAILED also parses (errors.json
    // incremental too): the summaryJson builder is pinned directly
    val prefix = Verify.summaryJson(5,
      Seq("a" -> "{\"err\": \"boom\"}"), 1)
    assert(prefix ==
      """{"n_queries": 5, "n_dumped": 0, "n_failed": 1, """ +
        """"queries": {"a": {"err": "boom"}}}""")
  }

  test("a query that breaks on rerun REPLACES its stale passing dump") {
    val out = tempDir("graft_verify_spec").toString
    assert(Verify.dumpQueries(spark, sfDir, out, Seq("q" -> good)).isEmpty)
    assert(new java.io.File(s"$out/q").isDirectory)
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("now broken")
    val errs = Verify.dumpQueries(spark, sfDir, out, Seq("q" -> boom))
    assert(errs.keySet == Set("q"))
    assert(!new java.io.File(s"$out/q").exists(),
      "stale passing dump survived a broken rerun")
    assert(Files.readString(Paths.get(s"$out/_errors.json"))
      .contains("now broken"))
  }
}
