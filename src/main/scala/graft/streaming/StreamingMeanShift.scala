package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** One stream row for change monitoring: a `group` (event type / metric)
  * observed at event time `tsUs`. */
final case class GroupTick(group: String, tsUs: Long)

/** Per-group monitor state: the open day + its running count, the counts of
  * the most recent ≤13 CLOSED days (newest last), and the late-row count. */
final case class MeanShiftState(curDay: Long, curCount: Long,
                                recent: Seq[Long], nLate: Long)

/** A closed day with its trailing/preceding 7-day sums — batch q144's
  * (event_type, day, n_events, s_after, s_before) row, emitted the moment
  * the day seals. Standardization (q144's zscore) needs a series-wide
  * stddev and stays a reader-side choice; the sums are exact. */
final case class ShiftWindow(group: String, day: Long, n_events: Long,
                             s_after: Long, s_before: Long)

/** Streaming mean-shift change monitoring — the continuous twin of batch
  * q144 (`WarehouseOps.changepointMeanShift`): per group, a day closes when
  * the first row of a LATER day arrives; once 14 closed days exist, the
  * sealed day emits its trailing-7 vs preceding-7 sums. State is ONE row of
  * ≤13 longs + 3 scalars per group — constant, independent of volume —
  * and the ring advances over PRESENT days exactly like the batch ROWS
  * frames, so in-order input reproduces q144's sums verbatim
  * (spec-verified on real testdata).
  *
  * Days seal by the [[DaySealFold]] rule: a row behind the open day is
  * counted in `nLate` and dropped.
  */
object StreamingMeanShift {

  private final class MeanShiftProcessor(ttl: TTLConfig)
      extends DaySealFold[GroupTick, MeanShiftState, ShiftWindow](
        "meanshift", Encoders.product[MeanShiftState], ttl) {
    protected def zero = MeanShiftState(Long.MinValue, 0L, Seq.empty, 0L)
    protected def tsUs(t: GroupTick) = t.tsUs
    protected def openDay(s: MeanShiftState) = s.curDay
    protected def late(s: MeanShiftState) = s.copy(nLate = s.nLate + 1)
    protected def enter(s: MeanShiftState, day: Long, t: GroupTick) =
      s.copy(curDay = day, curCount = s.curCount + 1)

    // emit the sealed day's windows once 14 closed days exist
    protected def seal(key: String, s: MeanShiftState, emit: ShiftWindow => Unit) = {
      val closed = s.recent :+ s.curCount
      if (closed.length >= 14) {
        val last14 = closed.takeRight(14)
        emit(ShiftWindow(key, s.curDay, s.curCount,
          last14.takeRight(7).sum, last14.take(7).sum))
      }
      s.copy(curCount = 0L, recent = closed.takeRight(13))
    }
  }

  /** @param ticks the group/time stream
    * @param ttl   retires idle groups; a revival starts a fresh history */
  def shiftWindows(ticks: Dataset[GroupTick],
                   ttl: Option[Duration] = None): Dataset[ShiftWindow] = {
    import ticks.sparkSession.implicits._
    KeyedState.transform(ticks.groupByKey(_.group), OutputMode.Append(), ttl)(
      new MeanShiftProcessor(_))
  }
}
