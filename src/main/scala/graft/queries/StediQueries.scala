package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.ops.Decode
import graft.pipeline.{Stedi, StediFixtures}
import graft.sources.Tables
import graft.streaming.Drain
import Det.{big, ordered}

/** Oracle-checked batch twins of the reference's decode surface
  * (SURVEY.md §2.2 OP-10..19, §2.3 OP-20/21, §2.4 OP-30).
  *
  * Every query is a pure projection chain (single codegen stage) except the
  * flagship join; DuckDB twins replicate results, proving the Spark decode
  * semantics (permissive JSON, base64, string splitting) byte-for-byte.
  */
object StediQueries {
  type Q = (SparkSession, String) => DataFrame

  /** OP-10: SQL-expression projection with CAST + rename. */
  val op10Cast: Q = (s, d) =>
    ordered(
      Tables.lineitem(s, d)
        .filter(col("l_linenumber") === 1)
        .selectExpr("CAST(l_orderkey AS STRING) key",
                    "CAST(l_partkey AS STRING) value"),
      "key", "value")

  /** OP-11/12/13: from_json against an explicit schema, then struct
    * expansion — the core parse step of every reference job. */
  val op11FromJson: Q = (s, d) => {
    val e = Tables.events(s, d)
    val parsed = e.select(col("event_id"),
      from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).as("p"))
    ordered(parsed.select(col("event_id"), big(col("p.k")).as("k")), "event_id")
  }

  /** OP-14: array subscript + nested field access (null on missing). */
  val op14ArrayAccess: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val entries = split(col("text"), " ")
    ordered(
      doc.select(col("doc_id"),
        Decode.firstArrayField(
          array(struct(get(entries, lit(0)).as("element"),
                       lit("0.0").as("score"))), "element").as("element0")),
      "doc_id")
  }

  /** OP-15: base64 round-trip — encode the document text, decode it back,
    * emit an md5 witness of the decoded bytes. Proves unbase64 ∘ base64 = id
    * against DuckDB's independent base64 implementation. */
  val op15Base64: Q = (s, d) => {
    val doc = Tables.documents(s, d)
    val roundTrip = Decode.decodeBase64(Decode.encodeBase64(col("text")))
    ordered(
      doc.select(col("doc_id"),
        md5(roundTrip.cast("binary")).as("text_md5"),
        substring(Decode.encodeBase64(col("text")), 1, 24).as("b64_prefix")),
      "doc_id")
  }

  /** OP-16: null-rejection filter after a nullable derivation. */
  val op16NullFilter: Q = (s, d) => {
    val e = Tables.events(s, d)
    ordered(
      Decode.requireNonNull(
        e.withColumn("et", nullif(col("event_type"), lit("error"))), "et")
        .groupBy(col("et")).agg(big(count(lit(1))).as("n")),
      "et")
  }

  /** OP-17: split + index — derive the year of a YYYY-MM-DD string. */
  val op17SplitYear: Q = (s, d) => {
    val o = Tables.orders(s, d)
    ordered(
      o.select(col("o_orderkey"),
        Decode.yearOf(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("yr_str")),
      "o_orderkey")
  }

  /** OP-18: column-pruning projection (2 of 6 columns survive to the scan). */
  val op18Prune: Q = (s, d) =>
    ordered(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus")),
      "o_orderkey")

  /** OP-19: to_json(struct(*)) row serialization. */
  val op19ToJson: Q = (s, d) => {
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"),
      col("c_mktsegment"))
    ordered(
      c.select(col("c_custkey"),
        to_json(struct(col("c_custkey"), col("c_name"), col("c_mktsegment")))
          .as("js")),
      "c_custkey")
  }

  /** OP-20/21: temp-view registration + spark.sql over the view — the
    * reference's hybrid DataFrame/SQL style. */
  val op21SqlView: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer")
    s.sql("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(max(c_acctbal) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS max_bal
             FROM graft_customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  /** OP-21 + custom expression via SQL: the codegen'd graft_dot function
    * registered into the session's function registry and invoked from SQL
    * text over a temp view — proving the custom Catalyst surface is
    * reachable from the reference's spark.sql(...) style. */
  val op22SqlCustomFn: Q = (s, d) => {
    graft.functions.Registry.register(s)
    Tables.embeddings(s, d).createOrReplaceTempView("graft_emb")
    s.sql("""
      SELECT vec_id,
             graft_dot(transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
                       transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))
               AS norm_sq
      FROM graft_emb ORDER BY vec_id""")
  }

  /** OP-30 flagship: the full STEDI decode→join→aggregate over synthesized
    * wire frames (envelope JSON → base64 customer → join on email). */
  val op30StediJoin: Q = (s, d) => StediFixtures.flagship(s, d)

  /** OP-30 row-level twin: the raw join output contract
    * (customer, score, email, birthYear) before aggregation, plus the
    * OP-19 serialized value — row count equals matched risk events. */
  val op30StediPayload: Q = (s, d) => {
    // broadcast the dim side (see StediFixtures.flagship)
    val customers = broadcast(Stedi.decodeCustomers(StediFixtures.redisFrames(s, d)))
    val risks = Stedi.parseRiskEventsFull(StediFixtures.riskFrames(s, d))
    val joined = Stedi.joinRisk(risks, customers)
    ordered(
      Stedi.riskScoreKafkaPayload(joined).select(col("key"), col("value")),
      "key", "value")
  }

  /** OP-30 production mode (op123): [[Stedi.joinRiskBounded]] — the
    * watermarked, time-bounded stream-stream join that a 100 TB
    * deployment runs instead of the reference's unbounded flagship
    * (/root/reference/sparkpykafkajoin.py:184-187, which retains join
    * state forever) — executed as a REAL streaming query: both fixture
    * tables stream through file sources, the decode/synthesis chains
    * run on the streams, and the join drains under Trigger.AvailableNow
    * into a memory sink. Customers get a deterministic ingestion time
    * (seenAt = 2024-01-01 + (custkey % 720) hours, spreading dim
    * arrivals across the events' 30-day window) and risk events join
    * only within [seenAt, seenAt + 24 h] — so the DuckDB oracle replays
    * the time-bound equi-join exactly (both inputs arrive in one batch,
    * so no row is watermark-dropped and the output IS the predicate
    * join; the watermark's state-expiry behavior itself is spec'd in
    * RecoverySpec/StreamingSpec, where arrival order is controlled).
    * riskDate carries milliseconds (the wire format truncates micros),
    * so the oracle truncates ts to milliseconds too. */
  val op123StreamBoundedJoin: Q = (s, d) =>
    ordered(
      drainStediPair(s, d, "op123") { (risks, customers) =>
        Stedi.joinRiskBounded(risks, customers, maxAge = "24 hours")
      },
      "customer", "score", "email", "birthYear")

  /** Drive the decoded STEDI pair (risk stream + customer stream, both
    * through the real wire-frame synthesis on FILE-SOURCE streams) into
    * `pipe` and drain under Trigger.AvailableNow / append at stateful
    * width 8 (stream-stream join state over a handful of keys).
    * Customers get the deterministic seenAt op123's oracle replays.
    * Factored so op306 chains its second stateful operator onto the
    * same inputs. */
  private def drainStediPair(s: SparkSession, d: String, tag: String)(
      pipe: (DataFrame, DataFrame) => DataFrame): DataFrame =
    Drain.files(s, d, tag, Seq("customer", "events"), "append",
        Drain.width("8")) { case Seq(cust, ev) =>
      val customers = Stedi.decodeCustomers(
          StediFixtures.redisFramesFrom(cust))
        .withColumn("seenAt",
          seenAtFor(regexp_extract(col("email"), "customer(\\d+)@", 1)
            .cast("long")))
      val risks = Stedi.parseRiskEventsFull(
        StediFixtures.riskFramesFrom(Tables.eventsColumns(ev)))
      pipe(risks, customers)
    }

  /** The deterministic customer ingestion time the op123/op306 oracles
    * replay: 2024-01-01 + (custkey % 720) hours — ONE spelling shared
    * by the streaming synthesis (drainStediPair) and the op306
    * closed-window cutoff. */
  private def seenAtFor(custkey: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    expr("timestamp'2024-01-01 00:00:00'") +
      make_interval(lit(0), lit(0), lit(0), lit(0),
        custkey.cast("int") % 720, lit(0), lit(0))

  /** op306's CLOSED-WINDOW cutoff — the final propagated watermark,
    * batch-computable from the fixture:
    * min(max(riskTime), max(seenAt)) − 24 h. Spark's global watermark
    * is the MIN across both event-time columns' (max − delay), and the
    * chained aggregate's eviction watermark trails it by the join's
    * 24 h state horizon — pinned empirically (r15) by a 4-point probe:
    * sf0.1 emits exactly window_end ≤ 2024-01-29 23:00 (days ..01-28;
    * max ts 01-30 23:59:25, max seenAt 01-30 23:00), and a synthetic
    * fixture with max ts Jan-04 06:30 / max seenAt Jan-03 12:00 emits
    * ONLY the Jan-01 window (end Jan-02 ≤ Jan-02 12:00) while
    * withholding Jan-02 (end Jan-03) — discriminating the min(A,B)
    * spelling from both single-column candidates. Millisecond
    * truncation matches riskTime's wire precision; seenAt is whole
    * hours, exact. The oracle computes the identical scalar, so BOTH
    * engines filter to the same closed-window set at ANY scale factor.
    * (A window end landing EXACTLY on the cutoff could expose the
    * eviction boundary's strictness — day windows end at midnight, so
    * this needs min(maxTs, maxSeenAt) − 24 h to hit a midnight;
    * fixtures and the StreamingSpec synthetic keep it off.) */
  private def op306Cutoff(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .agg(max(date_trunc("millisecond", col("ts"))).as("__a"))
      .crossJoin(Tables.customer(s, d)
        .agg(max(seenAtFor(col("c_custkey"))).as("__b")))
      .select((least(col("__a"), col("__b"))
        - expr("interval 24 hours")).as("__wm"))

  /** OP-30 production FLAGSHIP (op306): the bounded join CHAINED into
    * the per-customer daily risk aggregate in one streaming query —
    * two stateful operators back to back ([[Stedi.boundedFlagshipDaily]]),
    * the multi-stateful-operator pipeline the reference's Job A
    * becomes when both the join state and the aggregate state must
    * stay bounded at 100 TB. Append mode: a (day, email) group emits
    * exactly once, when the watermark that propagates THROUGH the join
    * passes the day's end — so the emitted set is the full aggregate
    * RESTRICTED to closed windows. r15 (verdict item 1): that
    * restriction is now the explicit cross-engine contract — the
    * drained output and the oracle both filter to
    * window_end ≤ [[op306Cutoff]], making op306 correct at ANY scale
    * factor (r14's fixture-invariant gate, which errored at sf0.1
    * where late-day windows stay open, is demoted to StreamingSpec's
    * invariant-violating synthetic fixture). The explicit Spark-side
    * filter is belt-and-braces over the stream's own withholding: on
    * fixtures where the stream emits MORE than the cutoff set (small
    * SFs close every window early) it trims to the contract; the
    * probe above shows the stream never emits LESS. */
  val op306StediBoundedFlagship: Q = (s, d) => {
    val drained =
      drainStediPair(s, d, "op306") { (risks, customers) =>
        Stedi.boundedFlagshipDaily(risks, customers)
      }.crossJoin(op306Cutoff(s, d)) // scalar dim: broadcast, no shuffle
        .filter(to_timestamp(col("day")) + expr("interval 1 day")
          <= col("__wm"))
        .drop("__wm")
    // Post-drain propagation gate (r16 advice): the Spark-side cutoff
    // filter only TRIMS — it cannot restore windows a future Spark
    // version's watermark propagation withholds, and such a change
    // would otherwise surface only as an oracle hash mismatch at gate
    // time. Windows are withheld WHOLE, so the cheap check at the right
    // grain is day coverage: the batch twin of the time-band join
    // (broadcast dim, one pass over events) yields the days that must
    // appear among the closed windows; a drained set missing any of
    // them names the propagation change at the query. Both day sets
    // are ≤ the fixture's event span (~30 rows) — trivial collects.
    val dim = broadcast(Tables.customer(s, d).select(
      StediFixtures.emailFor(col("c_custkey")).as("b_email"),
      seenAtFor(col("c_custkey")).as("b_seen")))
    val expectDays = Tables.events(s, d)
      .select(StediFixtures.emailFor(col("user_id")).as("b_cust"),
        date_trunc("millisecond", col("ts")).as("b_rt"))
      .join(dim, col("b_cust") === col("b_email") &&
        col("b_rt") >= col("b_seen") &&
        col("b_rt") <= col("b_seen") + expr("interval 24 hours"))
      .crossJoin(op306Cutoff(s, d))
      .filter(date_trunc("day", col("b_rt")) + expr("interval 1 day")
        <= col("__wm"))
      .select(date_format(date_trunc("day", col("b_rt")), "yyyy-MM-dd"))
      .distinct().collect().map(_.getString(0)).toSet
    val gotDays = drained.select(col("day")).distinct()
      .collect().map(_.getString(0)).toSet
    val withheld = expectDays -- gotDays
    require(withheld.isEmpty,
      s"op306: stream withheld ${withheld.size} closed window day(s) " +
        s"the propagated-watermark cutoff expects " +
        s"(${withheld.toSeq.sorted.mkString(", ")}) — Spark's watermark " +
        "propagation semantics changed; re-pin op306Cutoff")
    ordered(drained, "day", "email")
  }

  /** The RDB snapshot bootstrap under the hash gate (op125): customer
    * rows render to record JSON, encode into a genuine RDB v9 binary
    * snapshot ([[graft.sources.RedisRdb.writeZSet2]]), parse back
    * through the RDB reader, decode through the same JSON path as the
    * change stream, and broadcast-join to the events-derived risk keys.
    * The DuckDB oracle computes the join from the raw tables, so the
    * hash match proves the binary encode→parse→decode round-trip —
    * the last reference-surface component (the Redis system-of-record
    * bootstrap) previously covered only by specs. A snapshot is one
    * serial file: synthesis and parse are driver-side by nature, and
    * the decoded dim broadcasts (bounded, like any dim snapshot). */
  val op125RdbBootstrapJoin: Q = (s, d) => {
    import graft.sources.RedisRdb
    val members = Tables.customer(s, d)
      .select(StediFixtures.customerRecordJson.as("member"),
        col("c_custkey").cast("double").as("score"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    val path = java.nio.file.Files.createTempFile("graft_op125_", ".rdb")
    // parseZSets reads the file eagerly at DataFrame construction, so
    // the temp snapshot can be deleted as soon as the dim is built
    val dim =
      try {
        RedisRdb.writeZSet2(path.toString, "Customer", members)
        broadcast(RedisRdb.customers(s, path.toString)
          .select(col("email"), col("birthYear")))
      } finally java.nio.file.Files.deleteIfExists(path)
    val risks = Tables.events(s, d)
      .select(StediFixtures.emailFor(col("user_id")).as("customer"))
    ordered(
      risks.join(dim, col("customer") === col("email"))
        .groupBy(col("email"), col("birthYear"))
        .agg(count(lit(1)).as("n_events")),
      "email", "birthYear", "n_events")
  }

  /** op287: the snapshot-then-changelog STREAMING bootstrap — op125's
    * RDB round-trip as the SEED of a live, change-maintained dimension
    * ([[graft.streaming.RdbBootstrapStream]]): customer rows encode
    * into a genuine RDB v9 binary snapshot, parse back, and become
    * `transformWithState` INITIAL STATE; the events table then replays
    * as the risk/change stream (real Update-mode streaming execution,
    * AvailableNow file source, RocksDB state) — every event counts
    * toward its email's tally, and events with event_id ≡ 0 (mod 3)
    * carry a deterministic birth-year correction folded latest-wins by
    * (ts_us, event_id). Emails with no update KEEP THE SNAPSHOT VALUE
    * in the output — the hash gate therefore proves the seed path and
    * the fold path at once. The change stream is restricted to
    * snapshot-known emails by a stream-static broadcast semi-join
    * (op125's inner-join semantics; an unknown key would otherwise
    * bootstrap an empty record). Update rows compact to each key's
    * final state by max n_events (strictly growing — op108's rule).
    *
    * 100 TB shape: state is one row per ACTIVE key sharded by the group
    * key; the snapshot seeds executor-side through the initial-state
    * channel (never a driver replay of history); the fold's unique
    * total order makes the fixpoint independent of micro-batch
    * boundaries, so checkpoint-restart mid-replay lands on the same
    * rows (RecoverySpec). */
  val op287StreamRdbBootstrap: Q = (s, d) => {
    import s.implicits._
    import graft.sources.RedisRdb
    import graft.streaming.{RdbBootstrapStream, StateStores}
    import RdbBootstrapStream.{ProfileEvent, SnapshotRow}
    val members = Tables.customer(s, d)
      .select(StediFixtures.customerRecordJson.as("member"),
        col("c_custkey").cast("double").as("score"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
    val path = java.nio.file.Files.createTempFile("graft_op287_", ".rdb")
    val snap =
      try {
        RedisRdb.writeZSet2(path.toString, "Customer", members)
        RedisRdb.customers(s, path.toString)
          .select(col("email"), col("birthYear")).as[SnapshotRow]
          .localCheckpoint()
      } finally java.nio.file.Files.deleteIfExists(path)
    val updates = Drain.files(s, d, "op287", "events", "update",
        Drain.width("8") ++ StateStores.rocksDbConf) { st =>
      val changes = st
        .select(StediFixtures.emailFor(col("user_id")).as("email"),
          col("event_id"), Tables.tsUsExpr(st).as("ts_us"),
          when(col("event_id") % 3 === 0,
            (lit(1900) + (col("user_id") + col("event_id")) % 90)
              .cast("string")).as("birth_year_update"))
        .join(broadcast(snap.select("email")), "email")
        .as[ProfileEvent]
      RdbBootstrapStream.bootstrappedProfiles(changes, snap).toDF()
    }
    ordered(
      updates.groupBy(col("email"))
        .agg(max_by(struct(col("birthYear"), col("n_updates")),
          col("n_events")).as("f"), max(col("n_events")).as("n_events"))
        .select(col("email"), col("f.birthYear").as("birthYear"),
          big(col("n_events")).as("n_events"),
          big(col("f.n_updates")).as("n_updates")),
      "email")
  }

  val defs: Map[String, Q] = Map(
    "op10_cast_project" -> op10Cast,
    "op11_from_json" -> op11FromJson,
    "op14_array_access" -> op14ArrayAccess,
    "op15_base64_roundtrip" -> op15Base64,
    "op16_null_filter" -> op16NullFilter,
    "op17_split_year" -> op17SplitYear,
    "op18_prune" -> op18Prune,
    "op19_to_json" -> op19ToJson,
    "op21_sql_view" -> op21SqlView,
    "op22_sql_custom_fn" -> op22SqlCustomFn,
    "op30_stedi_flagship" -> op30StediJoin,
    "op30_stedi_payload" -> op30StediPayload,
    "op123_stream_bounded_join" -> op123StreamBoundedJoin,
    "op306_stedi_bounded_flagship" -> op306StediBoundedFlagship,
    "op125_rdb_bootstrap_join" -> op125RdbBootstrapJoin,
    "op287_stream_rdb_bootstrap" -> op287StreamRdbBootstrap,
  )

  val oracle: Map[String, String] = Map(
    "op10_cast_project" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS key, CAST(l_partkey AS VARCHAR) AS value
        |FROM lineitem WHERE l_linenumber = 1 ORDER BY key, value""".stripMargin,
    "op11_from_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "op14_array_access" ->
      """SELECT doc_id, string_split(text, ' ')[1] AS element0
        |FROM documents ORDER BY doc_id""".stripMargin,
    "op15_base64_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5,
        |       substring(to_base64(encode(text)), 1, 24) AS b64_prefix
        |FROM documents ORDER BY doc_id""".stripMargin,
    "op16_null_filter" ->
      """SELECT event_type AS et, CAST(count(*) AS BIGINT) AS n
        |FROM events WHERE event_type <> 'error'
        |GROUP BY event_type ORDER BY et""".stripMargin,
    "op17_split_year" ->
      """SELECT o_orderkey, string_split(strftime(o_orderdate, '%Y-%m-%d'), '-')[1] AS yr_str
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "op18_prune" ->
      "SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey",
    "op19_to_json" ->
      """SELECT c_custkey,
        |  to_json(struct_pack(c_custkey := c_custkey, c_name := c_name,
        |                      c_mktsegment := c_mktsegment)) AS js
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "op21_sql_view" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |       CAST(CAST(max(c_acctbal) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS max_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "op22_sql_custom_fn" ->
      """SELECT vec_id,
        |  list_sum([CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
        |            * CAST(floor(CAST(embedding[i+1] AS DOUBLE) * 1000000) AS BIGINT)
        |            FOR i IN range(len(embedding))])::BIGINT AS norm_sq
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "op30_stedi_flagship" ->
      """WITH cust AS (
        |  SELECT 'customer' || CAST(c_custkey AS VARCHAR) || '@test.com' AS email,
        |         CAST(1930 + c_custkey % 70 AS VARCHAR) AS birthYear
        |  FROM customer),
        |risk AS (
        |  SELECT 'customer' || CAST(user_id AS VARCHAR) || '@test.com' AS customer,
        |         value AS score
        |  FROM events)
        |SELECT c.email, c.birthYear,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(CAST(CAST(sum(CAST(round(score * 100) AS BIGINT)) AS DOUBLE)
        |            / CAST(count(*) * 100 AS DOUBLE) AS DECIMAL(18,4)) * 10000 AS BIGINT) AS avg_score
        |FROM risk r JOIN cust c ON r.customer = c.email
        |GROUP BY c.email, c.birthYear
        |ORDER BY c.email, c.birthYear, n_events, avg_score""".stripMargin,
    // The exact Kafka sink contract (sparkpykafkajoin.py:202-213): key =
    // email, value = to_json over (customer, score, email, birthYear) —
    // all-string fields, so DuckDB's compact to_json(struct_pack(...))
    // is byte-identical to Spark's to_json(struct(...)).
    "op30_stedi_payload" ->
      """WITH cust AS (
        |  SELECT 'customer' || CAST(c_custkey AS VARCHAR) || '@test.com' AS email,
        |         CAST(1930 + c_custkey % 70 AS VARCHAR) AS birthYear
        |  FROM customer),
        |risk AS (
        |  SELECT 'customer' || CAST(user_id AS VARCHAR) || '@test.com' AS customer,
        |         CAST(value AS VARCHAR) AS score
        |  FROM events)
        |SELECT c.email AS key,
        |       to_json(struct_pack(customer := r.customer, score := r.score,
        |                           email := c.email, birthYear := c.birthYear)) AS value
        |FROM risk r JOIN cust c ON r.customer = c.email
        |ORDER BY key, value""".stripMargin,
    // op123: the bounded join's time predicate replayed exactly — seenAt
    // spreads customers across the events' month; ts truncates to
    // milliseconds because the wire format (riskDate, SSS) does.
    "op123_stream_bounded_join" ->
      """WITH cust AS (
        |  SELECT 'customer' || CAST(c_custkey AS VARCHAR) || '@test.com' AS email,
        |         CAST(1930 + c_custkey % 70 AS VARCHAR) AS birthYear,
        |         TIMESTAMP '2024-01-01 00:00:00'
        |           + to_hours(CAST(c_custkey % 720 AS BIGINT)) AS seenAt
        |  FROM customer),
        |risk AS (
        |  SELECT 'customer' || CAST(user_id AS VARCHAR) || '@test.com' AS customer,
        |         CAST(value AS VARCHAR) AS score,
        |         date_trunc('milliseconds', ts) AS riskTime
        |  FROM events)
        |SELECT r.customer, r.score, c.email, c.birthYear
        |FROM risk r JOIN cust c ON r.customer = c.email
        |  AND r.riskTime >= c.seenAt
        |  AND r.riskTime <= c.seenAt + INTERVAL 24 HOUR
        |ORDER BY customer, score, email, birthYear""".stripMargin,
    // op306: the chained join→agg replayed as the time-band join +
    // day-grouped integer-cents aggregate, RESTRICTED to closed
    // windows (r15): append mode emits a day window only once the
    // propagated watermark — min(max riskTime, max seenAt) minus the
    // join's 24 h state horizon, pinned by the 4-point empirical probe
    // in op306Cutoff's scaladoc — passes the window end, so both
    // engines filter to window_end ≤ that cutoff (the Spark side
    // applies the same scalar filter to its drained output). Correct
    // at ANY scale factor; the withholding behavior itself is spec'd
    // in StreamingSpec over a synthetic fixture whose late-day windows
    // stay open.
    "op306_stedi_bounded_flagship" ->
      """WITH cust AS (
        |  SELECT 'customer' || CAST(c_custkey AS VARCHAR) || '@test.com' AS email,
        |         CAST(1930 + c_custkey % 70 AS VARCHAR) AS birthYear,
        |         TIMESTAMP '2024-01-01 00:00:00'
        |           + to_hours(CAST(c_custkey % 720 AS BIGINT)) AS seenAt
        |  FROM customer),
        |risk AS (
        |  SELECT 'customer' || CAST(user_id AS VARCHAR) || '@test.com' AS customer,
        |         CAST(value AS VARCHAR) AS score,
        |         date_trunc('milliseconds', ts) AS riskTime
        |  FROM events)
        |SELECT strftime(date_trunc('day', r.riskTime), '%Y-%m-%d') AS day,
        |       c.email, c.birthYear,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(CAST(r.score AS DOUBLE) * 100) AS BIGINT))
        |            AS BIGINT) AS sum_score_c
        |FROM risk r JOIN cust c ON r.customer = c.email
        |  AND r.riskTime >= c.seenAt
        |  AND r.riskTime <= c.seenAt + INTERVAL 24 HOUR
        |WHERE date_trunc('day', r.riskTime) + INTERVAL 1 DAY
        |  <= least(
        |       (SELECT max(date_trunc('milliseconds', ts)) FROM events),
        |       (SELECT TIMESTAMP '2024-01-01 00:00:00'
        |          + to_hours(max(CAST(c_custkey % 720 AS BIGINT)))
        |        FROM customer))
        |     - INTERVAL 24 HOUR
        |GROUP BY 1, 2, 3 ORDER BY day, email""".stripMargin,
    // op125: the oracle never sees the RDB bytes — it recomputes the
    // dim from the raw customer table, so a hash match certifies the
    // Spark side's binary snapshot round-trip
    "op125_rdb_bootstrap_join" ->
      """WITH cust AS (
        |  SELECT 'customer' || CAST(c_custkey AS VARCHAR) || '@test.com' AS email,
        |         CAST(1930 + c_custkey % 70 AS VARCHAR) AS birthYear
        |  FROM customer),
        |risk AS (
        |  SELECT 'customer' || CAST(user_id AS VARCHAR) || '@test.com' AS customer
        |  FROM events)
        |SELECT c.email, c.birthYear, CAST(count(*) AS BIGINT) AS n_events
        |FROM risk r JOIN cust c ON r.customer = c.email
        |GROUP BY c.email, c.birthYear
        |ORDER BY email, birthYear, n_events""".stripMargin,
    // op287: the oracle recomputes the bootstrapped dimension from the
    // raw tables — snapshot values where no update-bearing event
    // arrived, otherwise the latest correction by (ts_us, event_id) —
    // so the hash match proves the RDB seed path, the initial-state
    // channel, and the streaming fold in one gate
    "op287_stream_rdb_bootstrap" ->
      """WITH cust AS (
        |  SELECT 'customer' || CAST(c_custkey AS VARCHAR) || '@test.com' AS email,
        |         CAST(1930 + c_custkey % 70 AS VARCHAR) AS birthYear
        |  FROM customer),
        |ev AS (
        |  SELECT 'customer' || CAST(user_id AS VARCHAR) || '@test.com' AS email,
        |         event_id, epoch_us(ts) AS ts_us, user_id
        |  FROM events),
        |evk AS (SELECT ev.* FROM ev JOIN cust USING (email)),
        |upd AS (
        |  SELECT email, event_id, ts_us,
        |         CAST(1900 + (user_id + event_id) % 90 AS VARCHAR) AS by
        |  FROM evk WHERE event_id % 3 = 0),
        |lat AS (
        |  SELECT email, by FROM (
        |    SELECT email, by, row_number() OVER (PARTITION BY email
        |      ORDER BY ts_us DESC, event_id DESC) AS rn FROM upd)
        |  WHERE rn = 1),
        |cnt AS (
        |  SELECT email, CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(count(*) FILTER (WHERE event_id % 3 = 0) AS BIGINT)
        |           AS n_updates
        |  FROM evk GROUP BY 1)
        |SELECT n.email, coalesce(l.by, c.birthYear) AS birthYear,
        |       n.n_events, n.n_updates
        |FROM cnt n JOIN cust c USING (email) LEFT JOIN lat l USING (email)
        |ORDER BY email""".stripMargin,
  )
}
