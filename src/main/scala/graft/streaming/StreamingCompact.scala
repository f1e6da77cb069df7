package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** One changelog row for a keyed entity; `tsUs` is event time in micros. */
final case class ChangeRow(user_id: Long, event_id: Long, event_type: String,
                           value: Double, tsUs: Long)

/** Per-key compaction state: the winning (tsUs, event_id) version plus the
  * applied-version count — the exact aggregate batch q139 computes. */
final case class CompactState(eventId: Long, eventType: String, value: Double,
                              us: Long, nVersions: Long)

/** The key's current materialized row after a micro-batch touched it. */
final case class CompactUpdate(user_id: Long, last_event_id: Long, last_type: String,
                               last_value: Double, last_us: Long, n_versions: Long)

/** Streaming changelog compaction — the continuous twin of batch q139
  * (`WarehouseOps.changelogCompact`): a latest-state-wins materialized view
  * over the change stream, the streaming form of the CDC `MERGE` every
  * lakehouse pipeline batch-schedules. State is ONE fixed-size row per key
  * (the winning version + a counter): the same O(keys) bound as the batch
  * aggregate's final hash table, so executor memory scales with entities,
  * never with changelog volume.
  *
  * Semantics match the batch aggregate exactly: every arrival increments
  * `n_versions` (a version that loses the (tsUs, event_id) race still
  * happened), the winner is `max_by(struct(event..), struct(tsUs,
  * event_id))`, and each micro-batch emits at most ONE update per touched
  * key — its post-batch state, so the LAST update per key across the whole
  * stream equals the batch q139 row (spec-verified on real testdata).
  * Out-of-order arrivals are therefore handled for free: max_by is
  * order-insensitive, unlike the sequence operators' high-water-mark rule.
  */
object StreamingCompact {

  private final class CompactProcessor(ttl: TTLConfig)
      extends ValueStateFold[Long, ChangeRow, CompactState, CompactUpdate](
        "compact", Encoders.product[CompactState], ttl) {
    protected def zero = CompactState(Long.MinValue, null, 0.0, Long.MinValue, 0L)

    protected def fold(key: Long, s0: CompactState, rows: Iterator[ChangeRow],
                       emit: CompactUpdate => Unit) = {
      var s = s0
      rows.foreach { r =>
        val wins = r.tsUs > s.us || (r.tsUs == s.us && r.event_id > s.eventId)
        s =
          if (wins) CompactState(r.event_id, r.event_type, r.value, r.tsUs, s.nVersions + 1)
          else s.copy(nVersions = s.nVersions + 1)
      }
      emit(CompactUpdate(key, s.eventId, s.eventType, s.value, s.us, s.nVersions))
      s
    }
  }

  /** @param changes the keyed change stream
    * @param ttl     retires keys idle past the duration; a post-TTL change
    *                restarts the key's history (n_versions from 1) */
  def compact(changes: Dataset[ChangeRow],
              ttl: Option[Duration] = None): Dataset[CompactUpdate] = {
    import changes.sparkSession.implicits._
    KeyedState.transform(changes.groupByKey(_.user_id), OutputMode.Append(), ttl)(
      new CompactProcessor(_))
  }
}
