package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** One journey event for a user; `tsUs` is event time in epoch micros. */
final case class JourneyEvent(user_id: Long, event_type: String, tsUs: Long)

/** Per-user journey cursor: the previous event type plus the (ts) high-water
  * mark and late count — all a first-order transition counter needs. */
final case class JourneyState(lastType: String, hwmUs: Long, nLate: Long)

/** One observed transition (cur → nxt), `n` occurrences within the emitting
  * micro-batch for the user. Summing `n` over the whole output stream gives
  * exactly the batch q135 counts when input arrives in event order —
  * deltas, not totals, so the sink aggregation is a plain rolling sum. */
final case class TransitionDelta(user_id: Long, cur: String, nxt: String, n: Long)

/** Streaming first-order Markov transition counting — the continuous twin
  * of batch q135 (`ProductAnalytics.eventTransitions`): each user carries
  * ONE previous event type; every in-order arrival emits the (prev → cur)
  * transition it completes. State is O(active users) × one string, the
  * smallest state any sequence analytics can carry.
  *
  * Ordering contract (as the rest of the streaming family): rows inside a
  * micro-batch are sorted by (tsUs, event_type); rows behind the user's
  * high-water mark cannot be spliced into an already-consumed sequence —
  * counted in `n_late` via the state, dropped from the deltas. In-order
  * input reproduces the batch lead() transition multiset exactly
  * (spec-verified against q135 on real testdata).
  */
object StreamingTransitions {

  private final class TransitionProcessor(ttl: TTLConfig)
      extends ValueStateFold[Long, JourneyEvent, JourneyState, TransitionDelta](
        "journey", Encoders.product[JourneyState], ttl) {
    protected def zero = JourneyState(null, Long.MinValue, 0L)

    protected def fold(key: Long, s0: JourneyState, rows: Iterator[JourneyEvent],
                       emit: TransitionDelta => Unit) = {
      var s = s0
      val counts = scala.collection.mutable.LinkedHashMap.empty[(String, String), Long]
      rows.toArray.sortBy(e => (e.tsUs, e.event_type)).foreach { e =>
        if (e.tsUs < s.hwmUs) {
          s = s.copy(nLate = s.nLate + 1)
        } else {
          if (s.lastType != null) {
            val k = (s.lastType, e.event_type)
            counts(k) = counts.getOrElse(k, 0L) + 1L
          }
          s = JourneyState(e.event_type, e.tsUs, s.nLate)
        }
      }
      counts.foreach { case ((cur, nxt), n) => emit(TransitionDelta(key, cur, nxt, n)) }
      s
    }
  }

  /** @param events the journey stream (watermark upstream)
    * @param ttl    idle-user cursor eviction; a revisit after eviction
    *               starts a fresh sequence (no cross-gap transition) */
  def transitionDeltas(events: Dataset[JourneyEvent],
                       ttl: Option[Duration] = None): Dataset[TransitionDelta] = {
    import events.sparkSession.implicits._
    KeyedState.transform(events.groupByKey(_.user_id), OutputMode.Append(), ttl)(
      new TransitionProcessor(_))
  }
}
