package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** One funnel-relevant event for a user. `tsUs` is event time in epoch
  * micros — the unit the batch pipeline normalizes `events.ts` to. */
final case class FunnelEvent(user_id: Long, event_type: String, tsUs: Long)

/** Per-user funnel state: step timestamps (−1 = unreached), the (ts, type)
  * high-water mark for late-row detection, and the late count. */
final case class FunnelState(t1Us: Long, t2Us: Long, t3Us: Long,
    hwmUs: Long, nLate: Long)

/** Funnel progress snapshot for one user, one row per micro-batch that
  * touched the user (Update mode: latest row per key is the answer).
  * `stage` ∈ 0..3 = deepest step reached. */
final case class FunnelProgress(user_id: Long, stage: Int,
    t1Us: Option[Long], t2Us: Option[Long], t3Us: Option[Long], n_late: Long)

/** Streaming ordered-funnel tracking — the continuous twin of the batch
  * q121 (`ProductAnalytics.funnelPerUser`), on Spark 4's
  * `transformWithState`. Each user carries three step timestamps; an event
  * advances the funnel iff it is the step AFTER the deepest reached one,
  * strictly later than that step's timestamp, and (for the final step)
  * within the completion window of t1. On in-order input the final state
  * is EXACTLY the batch frame: the batch t2 is the min click > t1, and the
  * first qualifying click to arrive is that min when arrival order is ts
  * order (same for t3).
  *
  * Ordering contract (as `StreamingRate`): rows inside a micro-batch are
  * sorted by (tsUs, event_type) here; rows arriving in a later batch
  * strictly behind the user's high-water mark can no longer claim to be an
  * earlier "first view" — they are counted in `n_late` and dropped,
  * mirroring watermark semantics. Feed a watermarked stream and n_late
  * stays 0.
  *
  * Scale: O(active users) state — five longs per user in the RocksDB
  * store, hash-partitioned by user; each micro-batch shuffles only its own
  * rows. The TTL evicts funnels abandoned longer than the completion
  * window — set it to ≥ the window so no live funnel is ever evicted.
  */
object StreamingFunnel {

  val DefaultWindowUs: Long = 7L * 86400 * 1000000

  private final class FunnelProcessor(windowUs: Long, ttl: TTLConfig)
      extends ValueStateFold[Long, FunnelEvent, FunnelState, FunnelProgress](
        "funnel", Encoders.product[FunnelState], ttl) {
    protected def zero = FunnelState(-1L, -1L, -1L, Long.MinValue, 0L)

    protected def fold(key: Long, s0: FunnelState, rows: Iterator[FunnelEvent],
                       emit: FunnelProgress => Unit) = {
      var s = s0
      rows.toArray.sortBy(e => (e.tsUs, e.event_type)).foreach { e =>
        if (e.tsUs < s.hwmUs) {
          s = s.copy(nLate = s.nLate + 1)
        } else {
          s = e.event_type match {
            case "view" if s.t1Us < 0 => s.copy(t1Us = e.tsUs)
            case "click" if s.t1Us >= 0 && s.t2Us < 0 && e.tsUs > s.t1Us =>
              s.copy(t2Us = e.tsUs)
            case "purchase" if s.t2Us >= 0 && s.t3Us < 0 && e.tsUs > s.t2Us &&
              e.tsUs <= s.t1Us + windowUs => s.copy(t3Us = e.tsUs)
            case _ => s
          }
          s = s.copy(hwmUs = math.max(s.hwmUs, e.tsUs))
        }
      }
      val stage = if (s.t3Us >= 0) 3 else if (s.t2Us >= 0) 2
                  else if (s.t1Us >= 0) 1 else 0
      def opt(v: Long) = if (v >= 0) Some(v) else None
      emit(FunnelProgress(key, stage, opt(s.t1Us), opt(s.t2Us), opt(s.t3Us), s.nLate))
      s
    }
  }

  /** @param events   the funnel event stream (watermark upstream — see the
    *                 ordering contract)
    * @param windowUs completion window for the final step, micros from t1
    * @param ttl      abandoned-funnel eviction horizon; set ≥ the window
    */
  def progressUpdates(events: Dataset[FunnelEvent],
                      windowUs: Long = DefaultWindowUs,
                      ttl: Option[Duration] = None): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    KeyedState.transform(events.groupByKey(_.user_id), OutputMode.Update(), ttl)(
      new FunnelProcessor(windowUs, _))
  }

  /** Adapter from the `events` table shape (ts TIMESTAMP) to the typed
    * stream — also what the batch-parity spec feeds through MemoryStream. */
  def fromEvents(events: DataFrame): Dataset[FunnelEvent] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.functions.{col, unix_micros}
    events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("tsUs")).as[FunnelEvent]
  }
}
