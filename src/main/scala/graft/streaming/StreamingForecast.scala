package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Per-group forecast state: the open day + count, and per weekday slot
  * the last CLOSED (epoch day, count) — 7 slots, the whole seasonal-naive
  * model. */
final case class ForecastState(curDay: Long, curCount: Long,
                               lastDay: Seq[Long], lastCount: Seq[Long],
                               nLate: Long)

/** One scored forecast: day `day` sealed with `actual` events against the
  * same-weekday prediction from exactly 7 days earlier. Emitted ONLY when
  * day−7 was itself a closed day — the same inner-join rule as batch
  * q149, so summing |err| and actual over the stream reproduces its WMAPE
  * numerator/denominator exactly. */
final case class ForecastEval(group: String, day: Long, actual: Long,
                              predicted: Long, abs_err: Long)

/** Streaming seasonal-naive forecast scoring — the continuous twin of
  * batch q149 (`WarehouseOps.forecastBacktest`): each group carries 7
  * weekday slots plus the open day (9 longs of state, volume-independent);
  * a day seals when a later day's first row arrives, scores against its
  * slot if the slot holds day−7, then takes the slot over. In-order input
  * reproduces the batch join's per-day (actual, predicted) pairs verbatim
  * minus each group's final, never-sealed day (spec-verified on real
  * testdata). Days seal by the [[DaySealFold]] rule.
  */
object StreamingForecast {

  private final class ForecastProcessor(ttl: TTLConfig)
      extends DaySealFold[GroupTick, ForecastState, ForecastEval](
        "forecast", Encoders.product[ForecastState], ttl) {
    protected def zero = ForecastState(Long.MinValue, 0L, Seq.fill(7)(Long.MinValue),
      Seq.fill(7)(0L), 0L)
    protected def tsUs(t: GroupTick) = t.tsUs
    protected def openDay(s: ForecastState) = s.curDay
    protected def late(s: ForecastState) = s.copy(nLate = s.nLate + 1)
    protected def enter(s: ForecastState, day: Long, t: GroupTick) =
      s.copy(curDay = day, curCount = s.curCount + 1)

    // score the sealed day against its weekday slot, then take the slot over
    protected def seal(key: String, s: ForecastState, emit: ForecastEval => Unit) = {
      val dow = (s.curDay % 7).toInt
      if (s.lastDay(dow) == s.curDay - 7)
        emit(ForecastEval(key, s.curDay, s.curCount, s.lastCount(dow),
          math.abs(s.curCount - s.lastCount(dow))))
      s.copy(curCount = 0L, lastDay = s.lastDay.updated(dow, s.curDay),
        lastCount = s.lastCount.updated(dow, s.curCount))
    }
  }

  /** @param ticks the group/time stream
    * @param ttl   retires idle groups; a revival restarts the weekday model */
  def forecastEvals(ticks: Dataset[GroupTick],
                    ttl: Option[Duration] = None): Dataset[ForecastEval] = {
    import ticks.sparkSession.implicits._
    KeyedState.transform(ticks.groupByKey(_.group), OutputMode.Append(), ttl)(
      new ForecastProcessor(_))
  }
}
