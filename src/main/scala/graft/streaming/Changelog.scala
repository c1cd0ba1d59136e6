package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

/** Streaming changelog compaction — the reference pipeline's central
  * semantic (materialize CURRENT state per key out of a Kafka change
  * topic into a key-value store; /root/reference/sparkpykafkajoin.py
  * sinks exactly this shape) as a stateful Spark operator. Batch twin:
  * `TrainQueries.op106ChangelogCompact` (one `max_by` aggregate) — the
  * stream and the batch spelling are spec'd equal on the same fixture.
  *
  * State per key is ONE row (latest change by the unique total order
  * (ts_us, event_id), plus a change counter): O(active keys), keyed and
  * partitioned by user exactly as the state store shards — RocksDB
  * provider recommended at 100 TB ([[StateStores.rocksDbConf]]).
  * Update output mode emits a key's current state whenever a batch
  * touches it; a downstream upsert sink (Redis/Kafka-compacted-topic)
  * applies rows in batch order, so the last write per key IS the
  * compacted state. Out-of-order arrivals are absorbed by the total
  * order — a straggler older than the held state only increments the
  * counter and never regresses the state.
  */
object Changelog {
  case class Change(user_id: Long, event_id: Long, ts_us: Long,
      event_type: String, value_cents: Long)
  case class KeyState(n_changes: Long, last_event_id: Long,
      last_event_type: String, last_value_cents: Long, last_ts_us: Long)
  case class LatestRow(user_id: Long, n_changes: Long, last_event_id: Long,
      last_event_type: String, last_value_cents: Long, last_ts_us: Long)

  /** Absorb one batch of a key's changes into its held state: the batch
    * winner is the max by (ts_us, event_id) — unique, so deterministic
    * under any arrival order — and replaces the held row only if it
    * post-dates it; the counter always advances by the batch size. */
  private[graft] def fold(st: Option[KeyState],
      batch: Seq[Change]): KeyState = {
    val best = batch.maxBy(c => (c.ts_us, c.event_id))
    st match {
      case Some(s) =>
        val n = s.n_changes + batch.size
        if (best.ts_us > s.last_ts_us ||
            (best.ts_us == s.last_ts_us && best.event_id > s.last_event_id))
          KeyState(n, best.event_id, best.event_type, best.value_cents,
            best.ts_us)
        else s.copy(n_changes = n)
      case None =>
        KeyState(batch.size, best.event_id, best.event_type,
          best.value_cents, best.ts_us)
    }
  }

  /** [[latestState]] on Spark 4's transformWithState — the successor
    * stateful API, mirroring the [[Sessionize.SessionProcessor]] pair:
    * one typed ValueState handle per key holding the compacted row, no
    * timers (the changelog never expires state by time — retention is a
    * deployment policy applied to the SINK, not the operator). Fold
    * semantics are [[fold]], shared with the fMGWS spelling, so both
    * APIs are equal by construction (spec'd). Requires the RocksDB
    * state store provider — also the 100 TB recommendation. */
  class LatestProcessor extends StatefulProcessor[Long, Change, LatestRow] {
    @transient private var held:
      org.apache.spark.sql.streaming.ValueState[KeyState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      held = getHandle.getValueState[KeyState]("held",
        Encoders.product[KeyState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Change],
        timerValues: TimerValues): Iterator[LatestRow] = {
      val s = fold(if (held.exists()) Some(held.get()) else None,
        rows.toSeq)
      held.update(s)
      Iterator.single(LatestRow(user, s.n_changes, s.last_event_id,
        s.last_event_type, s.last_value_cents, s.last_ts_us))
    }
  }

  /** [[latestState]]'s transformWithState spelling (see
    * [[LatestProcessor]]). */
  def latestStateTws(changes: Dataset[Change]): Dataset[LatestRow] = {
    implicit val outEnc = Encoders.product[LatestRow]
    changes.groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new LatestProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Latest-state-per-key over a change stream, Update output mode:
    * one output row per touched key per micro-batch carrying its new
    * current state. */
  def latestState(changes: Dataset[Change]): Dataset[LatestRow] = {
    implicit val outEnc = Encoders.product[LatestRow]
    implicit val stEnc = Encoders.product[KeyState]
    changes.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[KeyState, LatestRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Change], state: GroupState[KeyState]) =>
          val s = fold(state.getOption, batch.toSeq)
          state.update(s)
          Iterator.single(LatestRow(user, s.n_changes, s.last_event_id,
            s.last_event_type, s.last_value_cents, s.last_ts_us))
      }
  }
}
