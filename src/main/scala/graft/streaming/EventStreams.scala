package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming event-hygiene legs over the events fixture: watermark-bounded
  * key dedup (op163) and the stream-stream LEFT OUTER time-bounded join
  * (op164) — the outer-join completion of the OP-30 stream-stream family.
  *
  * Both run as REAL Structured Streaming queries (file source via the
  * symlink-dir recipe → stateful operator → memory sink, AvailableNow).
  * With the fixture exposed as one file, the data lands in a single
  * micro-batch; AvailableNow then runs the trailing no-data batch, which
  * advances the watermark to (max event time − delay) and flushes
  * evictable state — so the emitted set is a deterministic function of
  * the input alone, which is what makes a DuckDB oracle possible at all.
  *
  * 100 TB shape: both operators keep state bounded by the watermark
  * horizon (keys/join rows older than the horizon are evicted every
  * batch); state is keyed (user) — RocksDB-backed in production, same
  * matrix the sessionize/ANN-serving legs pin in RecoverySpec.
  */
object EventStreams {

  /** The events stream with `ts` typed TIMESTAMP (ltz), not NTZ, which
    * watermarks need; with the session pinned to UTC the formatted
    * output is identical to the NTZ batch twin. */
  private[streaming] def withEventTs(raw: DataFrame): DataFrame =
    raw.withColumn("ts", timestamp_micros(graft.sources.Tables.tsUsExpr(raw)))

  /** op163: watermarked streaming dedup — at most one event per
    * (user, type, day) survives, the throttling/idempotence shape.
    * `dropDuplicatesWithinWatermark` keeps only the dedup KEY columns in
    * the emitted projection, so which physical duplicate survives is
    * irrelevant to the output set (survivor-order nondeterminism never
    * reaches the result — the property the oracle needs). State: one
    * entry per in-horizon key, evicted as the watermark passes. */
  def dedupWithinWatermark(spark: SparkSession, dir: String): DataFrame = {
    val deduped = Drain.files(spark, dir, "op163", "events", "append",
        Drain.width("4")) { raw =>
      withEventTs(raw).select(col("user_id"), col("event_type"),
          date_trunc("day", col("ts")).as("day"), col("ts"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
        .select("user_id", "event_type", "day")
    }
    deduped.groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"))
  }

  /** op164: stream-stream LEFT OUTER equi+time-bounded join — every view
    * paired with the same user's clicks in (view_ts, view_ts + 10 min];
    * views with no such click emit a NULL-extended row once the
    * watermark passes their join horizon (the no-data batch flushes
    * them). Delay 0 seconds: the final watermark is exactly the max
    * event time, so the emitted outer set is a closed-form function of
    * the input — the oracle replays it with the same horizon predicate.
    * State: per-user in-horizon rows on both sides, watermark-evicted. */
  def leftOuterBoundedJoin(spark: SparkSession, dir: String): DataFrame = {
    val joined = Drain.files(spark, dir, "op164", "events", "append",
        Drain.width("4")) { raw =>
      val ev = withEventTs(raw)
      val views = ev.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"),
          col("user_id"), col("ts").as("view_ts"))
        .withWatermark("view_ts", "0 seconds")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("c_user"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "0 seconds")
      views.join(clicks,
        col("user_id") === col("c_user") &&
          col("click_ts") > col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 10 MINUTES"),
        "leftOuter")
    }
    joined.select(col("view_id"), col("user_id"), col("click_id"),
      // NULL click propagates; positive lag → div == floor on both engines
      expr("CAST((unix_micros(click_ts) - unix_micros(view_ts)) " +
        "div 1000000 AS BIGINT)").as("lag_s"))
  }

  /** op275: stream-stream FULL OUTER equi+time-bounded join — op164's
    * contract completed on BOTH sides: matched (view, click) pairs
    * stream out as they meet; views with no click in their 10-minute
    * horizon flush NULL-extended once the watermark clears
    * view_ts + 10 min (op164's left leg); clicks that matched NO view
    * flush once the watermark clears click_ts — a click's candidate
    * views satisfy view_ts < click_ts, so at wm ≥ click_ts no future
    * view can claim it and its state is dead. Delay 0 makes the final
    * watermark exactly min(max view_ts, max click_ts), so both outer
    * sets are closed-form functions of the input and the DuckDB
    * oracle replays them with the same horizon predicates.
    * Sort keys are the NULL-coalesced ids (vk, ck) — a non-null
    * unique pair across all three row classes (the Det.ordered
    * contract). */
  def fullOuterBoundedJoin(spark: SparkSession, dir: String): DataFrame = {
    val joined = Drain.files(spark, dir, "op275", "events", "append",
        Drain.width("4")) { raw =>
      val ev = withEventTs(raw)
      val views = ev.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"),
          col("user_id"), col("ts").as("view_ts"))
        .withWatermark("view_ts", "0 seconds")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"),
          col("user_id").as("c_user"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "0 seconds")
      views.join(clicks,
        col("user_id") === col("c_user") &&
          col("click_ts") > col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 10 MINUTES"),
        "fullOuter")
    }
    joined.select(
      coalesce(col("view_id"), lit(-1L)).as("vk"),
      coalesce(col("click_id"), lit(-1L)).as("ck"),
      coalesce(col("user_id"), col("c_user")).as("user_id"),
      expr("CAST((unix_micros(click_ts) - unix_micros(view_ts)) " +
        "div 1000000 AS BIGINT)").as("lag_s"))
  }

  /** op199: streaming sessionized funnel — the events fixture drained
    * through [[FunnelStream]] (transformWithState, RocksDB provider as
    * the API requires), emitting one append-mode row per (user, closed
    * funnel step). The single-file drain lands all events in one
    * micro-batch, so the per-key in-batch sort makes the fold exact;
    * multi-batch (time-sliced) arrival and checkpoint recovery are
    * pinned in StreamingSpec/RecoverySpec. */
  def funnelStepHits(spark: SparkSession, dir: String,
      clickWithinNs: Long = Long.MaxValue,
      purchaseWithinNs: Long = Long.MaxValue): DataFrame =
    Drain.files(spark, dir,
        if (clickWithinNs == Long.MaxValue) "op199" else "op207",
        "events", "append",
        Drain.width("4") ++ StateStores.rocksDbConf) { raw =>
      FunnelStream.stepHits(
        withEventTs(raw).select(col("user_id"), col("event_type"),
          (expr("unix_micros(ts)") * lit(1000L)).as("ts_ns"))
          .as[FunnelStream.FEv](
            org.apache.spark.sql.Encoders.product[FunnelStream.FEv]),
        clickWithinNs, purchaseWithinNs)
        .toDF()
    }

  /** op203: streaming session-path emission — the events fixture
    * drained through [[SessionPathStream]] (transformWithState,
    * RocksDB), one append-mode row per CLOSED session carrying its
    * capped event-type path; each user's final session stays in state
    * (the op131 closed-rows contract). */
  def closedSessionPaths(spark: SparkSession, dir: String, cap: Int,
      gapNs: Long): DataFrame =
    Drain.files(spark, dir, "op203", "events", "append",
        Drain.width("4") ++ StateStores.rocksDbConf) { raw =>
      SessionPathStream.closedPaths(
        withEventTs(raw).select(col("user_id"), col("event_id"),
          (expr("unix_micros(ts)") * lit(1000L)).as("ts_ns"),
          col("event_type"))
          .as[SessionPathStream.PEv](
            org.apache.spark.sql.Encoders.product[SessionPathStream.PEv]),
        cap, gapNs).toDF()
    }

  /** op249: the events fixture drained through [[TransitionStream]] —
    * one append-mode (prev_type, cur_type) row per arrival after each
    * user's first. */
  def transitionPairs(spark: SparkSession, dir: String): DataFrame =
    Drain.files(spark, dir, "op249", "events", "append",
        Drain.width("4") ++ StateStores.rocksDbConf) { raw =>
      TransitionStream.transitions(
        withEventTs(raw).select(col("user_id"), col("event_id"),
          (expr("unix_micros(ts)") * lit(1000L)).as("ts_ns"),
          col("event_type"))
          .as[TransitionStream.TEv](
            org.apache.spark.sql.Encoders.product[TransitionStream.TEv]))
        .toDF()
    }
}
