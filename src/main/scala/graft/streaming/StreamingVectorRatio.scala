package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues}

/** One side (numerator or denominator metric) of a ratio, per matching
  * key: the cumulative-rate sufficient state — first/last timestamp, last
  * value, total increase with the family reset rule. */
final case class SideState(
    firstTsUs: Long, lastTsUs: Long, lastValue: Double,
    nSamples: Long, totalIncrease: Double)

/** Ratio snapshot per touched matching key per micro-batch. Rates are
  * None until that side spans positive time; `ratio` is None until both
  * are defined (the inner-join drop, continuously). */
final case class RatioUpdate(
    user_id: Long, error_rate: Option[Double], click_rate: Option[Double],
    ratio: Option[Double])

/** Streaming PromQL binary op with vector matching — q99's continuous
  * twin: `rate(num) / rate(den)` evaluated per matching key as samples
  * arrive. The key IS the matching label set (with
  * [[RelayAnalytics.counterSamples]] it is the full sorted label map —
  * exactly promql's default binary-op matching), and each key holds a
  * two-entry `MapState[metric → SideState]`: the streaming form of the
  * batch pivot. Inner-join drop falls out naturally — the ratio is None
  * until both sides have a defined rate.
  *
  * Per-side semantics are the q82/q99 cumulative rate by the [[Counter]]
  * rule (README, "Counter rule"), with each side rounded before dividing
  * exactly as the batch does — pinned to the oracle-checked q99 by a
  * real-testdata parity case. State is two fixed-size entries per ACTIVE
  * key, TTL-evictable. */
object StreamingVectorRatio {

  private final class RatioProcessor(num: String, den: String, ttl: TTLConfig)
      extends StatefulProcessor[Long, CounterSample, RatioUpdate] {
    @transient private var sides: MapState[String, SideState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sides = getHandle.getMapState[String, SideState](
        "sides", Encoders.STRING, Encoders.product[SideState], ttl)

    override def handleInputRows(
        key: Long, rows: Iterator[CounterSample],
        timers: TimerValues): Iterator[RatioUpdate] = {
      KeyedState.foldEntries(sides, rows.toSeq.sortBy(s => (s.tsUs, s.value)))(_.name) {
        case (None, r) => SideState(r.tsUs, r.tsUs, r.value, 1L, 0.0)
        case (Some(s), r) if Counter.late(r.tsUs, r.value, s.lastTsUs, s.lastValue) => s
        case (Some(s), r) => SideState(s.firstTsUs, r.tsUs, r.value, s.nSamples + 1,
          s.totalIncrease + Counter.increase(s.lastValue, r.value))
      }
      def rate(side: String) = KeyedState.entry(sides, side)
        .flatMap(s => Counter.rate(s.totalIncrease, s.lastTsUs - s.firstTsUs))
      val e = rate(num)
      val c = rate(den)
      val ratio = for (ev <- e; cv <- c) yield Rounding.r6(ev / cv)
      Iterator.single(RatioUpdate(key, e, c, ratio))
    }
  }

  /** @param samples the series stream; `user_id` is the matching key
    *                (full-label-set hash under [[RelayAnalytics
    *                .counterSamples]] — promql default matching)
    * @param num     numerator metric name (q99: "error")
    * @param den     denominator metric name (q99: "click")
    * @param ttl     idle-key state eviction; None keeps state forever */
  def ratioUpdates(samples: Dataset[CounterSample],
                   num: String = "error", den: String = "click",
                   ttl: Option[Duration] = None): Dataset[RatioUpdate] = {
    import samples.sparkSession.implicits._
    KeyedState.transform(
      samples.filter(s => s.name == num || s.name == den).groupByKey(_.user_id),
      OutputMode.Update(), ttl)(new RatioProcessor(num, den, _))
  }
}
