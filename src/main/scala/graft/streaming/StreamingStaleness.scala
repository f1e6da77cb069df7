package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** A series liveness transition: `event` is `"stale"` when the series went
  * silent past the horizon (the marker Prometheus itself injects ~5 min
  * after the last scrape), `"active"` when a stale series revived.
  * `last_ts_us` is the event time of the last sample seen before the
  * transition. */
final case class SeriesTransition(name: String, user_id: Long, event: String, last_ts_us: Long)

/** Per-series liveness state: the last sample's event time, the expiry
  * timer currently armed for this key (so it can be disarmed on the next
  * sample), and whether a stale marker has been emitted. */
final case class LivenessState(lastTsUs: Long, timerMs: Long, stale: Boolean)

/** Staleness markers for the relay's metric stream — the Prometheus
  * semantic the batch surface can't express: a series is STALE when no
  * sample arrived for `staleAfter` of wall-clock time, and ACTIVE again on
  * its next sample. Downstream consumers use the markers to stop
  * extrapolating rates over dead series (PromQL's staleness rule).
  *
  * Built on `transformWithState` processing-time TIMERS: each sample
  * re-arms a per-series timer at now + staleAfter (disarming the previous
  * one — at most ONE armed timer per series, so timer state is O(active
  * series) exactly like the value state); `handleExpiredTimer` fires once
  * when the horizon passes in silence and emits the marker. Requires the
  * RocksDB state store provider like every transformWithState operator,
  * and — because the engine must advance the processing-time clock — runs
  * micro-batches continuously even when idle (that is what makes an
  * input-less timer able to fire at all).
  */
object StreamingStaleness {

  private final class StalenessProcessor(staleAfterMs: Long, ttl: TTLConfig)
      extends StatefulProcessor[(String, Long), CounterSample, SeriesTransition] {
    @transient private var state: ValueState[LivenessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[LivenessState](
        "liveness", Encoders.product[LivenessState], ttl)

    override def handleInputRows(
        key: (String, Long), rows: Iterator[CounterSample],
        timers: TimerValues): Iterator[SeriesTransition] = {
      val lastTs = rows.map(_.tsUs).max
      val prev = if (state.exists()) Some(state.get()) else None
      // re-arm: one timer per series — disarm the previous deadline first
      prev.filter(_.timerMs > 0L).foreach(s => getHandle.deleteTimer(s.timerMs))
      val deadline = timers.getCurrentProcessingTimeInMs() + staleAfterMs
      getHandle.registerTimer(deadline)
      val revived = prev.exists(_.stale)
      val newLast = math.max(lastTs, prev.map(_.lastTsUs).getOrElse(Long.MinValue))
      state.update(LivenessState(newLast, deadline, stale = false))
      if (revived)
        Iterator.single(SeriesTransition(key._1, key._2, "active", newLast))
      else Iterator.empty
    }

    override def handleExpiredTimer(
        key: (String, Long), timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SeriesTransition] = {
      // belt-and-braces for the timer-vs-state-TTL race the require() in
      // transitions() already prevents: an expired state emits nothing
      if (!state.exists()) return Iterator.empty
      val s = state.get()
      // a stale-marked series keeps no armed timer; it re-arms on revival
      state.update(s.copy(timerMs = 0L, stale = true))
      Iterator.single(SeriesTransition(key._1, key._2, "stale", s.lastTsUs))
    }
  }

  /** @param samples    the counter stream (same rows [[StreamingRate]] eats)
    * @param staleAfter wall-clock silence after which a series is marked
    *                   stale (Prometheus defaults to ~5 min)
    * @param forgetAfter optional horizon after which a STALE series'
    *                   state itself is dropped. The TTL refreshes on every
    *                   state write — each sample AND the stale-transition
    *                   write in `handleExpiredTimer` — so the clock runs
    *                   from the STALE TRANSITION, not the last sample: a
    *                   silent series is forgotten ~`staleAfter +
    *                   forgetAfter` after its last sample (first marked
    *                   stale, then held `forgetAfter` longer so a prompt
    *                   revival still emits `active`). A series reappearing
    *                   past that re-registers silently — no `active`
    *                   marker, like a brand-new series. Set it in
    *                   production: without it, state grows with EVER-SEEN
    *                   series, not active ones. Must exceed `staleAfter`,
    *                   or the stale timer could fire on already-expired
    *                   state. */
  def transitions(samples: Dataset[CounterSample], staleAfter: Duration,
                  forgetAfter: Option[Duration] = None): Dataset[SeriesTransition] = {
    forgetAfter.foreach(f => require(f.compareTo(staleAfter) > 0,
      s"forgetAfter $f must exceed staleAfter $staleAfter"))
    import samples.sparkSession.implicits._
    samples
      .groupByKey(s => (s.name, s.user_id))
      .transformWithState(
        new StalenessProcessor(staleAfter.toMillis, KeyedState.ttlConfig(forgetAfter)),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }
}
