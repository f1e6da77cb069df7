package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** One activity row for the growth monitor: `user_id` active at event
  * time `ts` (a real timestamp column — the event-time watermark rides
  * on it). */
final case class GrowthTick(user_id: Long, ts: java.sql.Timestamp)

/** Per-user growth state: the last active day and the churn-deadline
  * timer currently armed (so the next activity can disarm it). Two longs
  * per user — constant. */
final case class GrowthState(lastDay: Long, timerMs: Long)

/** A user-lifecycle event — batch q192's row grain before its per-day
  * aggregate: `cls` ∈ new / retained / resurrected (emitted on activity)
  * or churned (emitted by the expired event-time timer). Summing these
  * per (day_no, cls) downstream reproduces the q192 table. */
final case class GrowthEvent(user_id: Long, day_no: Long, cls: String)

/** Streaming growth accounting — batch q192's continuous twin and the
  * r14→15 candidate delivery: per user, each first-activity-of-a-day
  * classifies immediately (new / retained / resurrected against the
  * stored last active day), and CHURN — an ABSENCE event, underivable
  * from any single input row — comes from an EVENT-TIME TIMER armed at
  * the end of day `lastDay + lapse`: if the watermark passes that
  * deadline with no new activity, the timer fires once and emits the
  * churn event with `day_no = lastDay + lapse`, exactly the batch rule
  * ("the lapse window expired observably"; the watermark IS the
  * observability horizon, so the boundary day that batch q192 can claim
  * only by seeing the whole horizon emits here once the watermark
  * passes it). A revival after churn emits `resurrected`, matching the
  * batch classification of a > lapse gap.
  *
  * Churn does NOT depend on the timer actually having fired: a revival
  * that arrives while the deadline is still armed (watermark behind it),
  * or a > lapse gap bridged entirely inside one micro-batch (deadline
  * never armed), emits the owed `churned` event INLINE at
  * `lastDay + lapse` before the resurrection — so the event log is
  * micro-batch-packing-independent and equal to batch q192's derivation;
  * the timer path remains only for silence with no later activity
  * (ADVICE r14 fix, pinned by the one-batch-gap spec).
  *
  * This is [[StreamingStaleness]]'s timer-driven absence pattern moved
  * from processing time to EVENT time: deadlines live in the data's own
  * clock, so replays and backfills produce the identical event log —
  * the determinism processing-time timers cannot give. At most one armed
  * timer per user (re-armed on each activity), so timer state is O(users)
  * like the value state. Requires the RocksDB state store provider and a
  * watermark on `ts`.
  */
object StreamingGrowth {

  private val msPerDay = 86400000L

  private final class GrowthProcessor(lapse: Int, ttl: TTLConfig)
      extends StatefulProcessor[Long, GrowthTick, GrowthEvent] {
    @transient private var state: ValueState[GrowthState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[GrowthState]("growth",
        Encoders.product[GrowthState], ttl)

    override def handleInputRows(
        key: Long, rows: Iterator[GrowthTick],
        timers: TimerValues): Iterator[GrowthEvent] = {
      val out = Seq.newBuilder[GrowthEvent]
      var s = if (state.exists()) Some(state.get()) else None
      val dayBefore = s.map(_.lastDay)
      // Whether the churn for the CURRENT lastDay is still owed: a stored
      // timerMs > 0 means the deadline is armed but has not fired (the
      // expired-timer handler zeroes it); timerMs == 0 with existing state
      // means the churn already fired. Days processed WITHIN this batch
      // set it true — their deadline was never armed at all, so a further
      // > lapse gap inside the same batch must emit the churn inline
      // (ADVICE r14: a revival arriving before the armed timer fires, or
      // a gap bridged entirely inside one micro-batch, must not lose the
      // churn event batch q192 derives at lastDay + lapse).
      var churnPending = s.exists(_.timerMs > 0L)
      rows.toArray.map(_.ts.getTime / msPerDay).sorted.distinct.foreach { d =>
        s match {
          case None =>
            out += GrowthEvent(key, d, "new")
            s = Some(GrowthState(d, 0L))
            churnPending = true
          case Some(st) if d > st.lastDay =>
            if (d - st.lastDay <= lapse)
              out += GrowthEvent(key, d, "retained")
            else {
              if (churnPending)
                out += GrowthEvent(key, st.lastDay + lapse, "churned")
              out += GrowthEvent(key, d, "resurrected")
            }
            s = Some(st.copy(lastDay = d))
            churnPending = true
          case _ => () // same-day repeat (or late row behind lastDay): no event
        }
      }
      // (re)arm the churn deadline ONLY when the last active day advanced:
      // re-arming on a stale repeat would re-register an already-fired
      // deadline and duplicate the churn event
      s.filter(st => !dayBefore.contains(st.lastDay)).foreach { st =>
        if (st.timerMs > 0L) getHandle.deleteTimer(st.timerMs)
        val deadline = (st.lastDay + lapse + 1) * msPerDay
        getHandle.registerTimer(deadline)
        state.update(st.copy(timerMs = deadline))
      }
      out.result().iterator
    }

    override def handleExpiredTimer(
        key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[GrowthEvent] = {
      if (!state.exists()) return Iterator.empty
      val s = state.get()
      state.update(s.copy(timerMs = 0L))
      Iterator.single(GrowthEvent(key, s.lastDay + lapse, "churned"))
    }
  }

  /** @param ticks activity stream; MUST carry a watermark on `ts` (the
    *              event-time timers fire against it)
    * @param lapse days of silence after which a user churns (q192's 7)
    * @param forget optional retirement horizon for CHURNED users' state —
    *              without it, state grows with EVER-SEEN users, not
    *              active ones (the [[StreamingStaleness]] forgetAfter
    *              rule). The TTL refreshes on every state write (each
    *              activity AND the churn-time write), so the clock runs
    *              from the churn transition; a user reviving past it
    *              re-enters as `new` — the documented tradeoff of
    *              forgetting, identical to a warehouse pruning its
    *              activity history to a retention window. Set it in
    *              production; must comfortably exceed `lapse` days or
    *              users would be forgotten before their churn can fire. */
  def growthEvents(ticks: Dataset[GrowthTick], lapse: Int = 7,
                   forget: Option[java.time.Duration] = None): Dataset[GrowthEvent] = {
    forget.foreach(f => require(f.toDays > lapse.toLong,
      s"forget horizon $f must exceed the $lapse-day lapse window"))
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(_.user_id)
      .transformWithState(new GrowthProcessor(lapse, KeyedState.ttlConfig(forget)),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Convenience: attach a zero-delay watermark and run. */
  def growthEventsWithWatermark(ticks: Dataset[GrowthTick], lapse: Int = 7,
      forget: Option[java.time.Duration] = None): Dataset[GrowthEvent] = {
    import ticks.sparkSession.implicits._
    growthEvents(ticks.withWatermark("ts", "0 seconds").as[GrowthTick],
      lapse, forget)
  }
}
