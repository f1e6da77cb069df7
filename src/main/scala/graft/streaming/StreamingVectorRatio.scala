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
  * Per-side semantics are the q82/q99 cumulative rate (reset rule,
  * (ts, value) high-water-mark lateness, sum(dt)>0 guard), with each
  * side rounded before dividing exactly as the batch does — pinned to
  * the oracle-checked q99 by a real-testdata parity case. State is two
  * fixed-size entries per ACTIVE key, TTL-evictable. */
object StreamingVectorRatio {

  private final class RatioProcessor(num: String, den: String, ttl: TTLConfig)
      extends StatefulProcessor[Long, CounterSample, RatioUpdate] {
    @transient private var sides: MapState[String, SideState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sides = getHandle.getMapState[String, SideState](
        "sides", Encoders.STRING, Encoders.product[SideState], ttl)

    private def fold(s0: Option[SideState], rows: Seq[CounterSample]): SideState = {
      var s = s0.getOrElse(SideState(-1L, -1L, 0.0, 0L, 0.0))
      rows.foreach { r =>
        val late = s.nSamples > 0L && (r.tsUs < s.lastTsUs ||
          (r.tsUs == s.lastTsUs && r.value < s.lastValue))
        if (!late) {
          if (s.nSamples == 0L) s = SideState(r.tsUs, r.tsUs, r.value, 1L, 0.0)
          else {
            val delta = r.value - s.lastValue
            s = SideState(s.firstTsUs, r.tsUs, r.value, s.nSamples + 1,
              s.totalIncrease + (if (delta < 0) r.value else delta))
          }
        }
      }
      s
    }

    private def rate(s: Option[SideState]): Option[Double] = s.flatMap { v =>
      val dtUs = v.lastTsUs - v.firstTsUs
      if (dtUs > 0L) Some(Rounding.r6(v.totalIncrease / (dtUs / 1e6))) else None
    }

    override def handleInputRows(
        key: Long, rows: Iterator[CounterSample],
        timers: TimerValues): Iterator[RatioUpdate] = {
      val batch = rows.toArray.sortBy(s => (s.tsUs, s.value))
      batch.groupBy(_.name).foreach { case (name, group) =>
        if (name == num || name == den) {
          val prev = if (sides.containsKey(name)) Some(sides.getValue(name)) else None
          sides.updateValue(name, fold(prev, group.toSeq))
        }
      }
      val e = rate(if (sides.containsKey(num)) Some(sides.getValue(num)) else None)
      val c = rate(if (sides.containsKey(den)) Some(sides.getValue(den)) else None)
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
