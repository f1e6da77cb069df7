package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues}

/** Per-series cumulative rate state held inside the per-metric map — the
  * same quantities [[RateState]] tracks, minus the counters the ranking
  * does not need. */
final case class SeriesRateState(
    firstTsUs: Long, lastTsUs: Long, lastValue: Double, totalIncrease: Double)

/** One ranked row of a metric's current top-k: emitted per micro-batch
  * that touched the metric. Update-mode contract: the latest batch's rows
  * for a metric REPLACE its previous top-k (consumers key on
  * (name, rank)). */
final case class TopkRate(name: String, user_id: Long, rate_per_sec: Double, rank: Int)

/** Streaming `topk(k, rate(m))` — the continuous twin of batch q83
  * (`EventAnalytics.promTopkRate`), the query a Prometheus operator
  * actually watches ("which series of this metric are hottest right
  * now"). One `transformWithState` processor keyed by METRIC NAME holding
  * a `MapState[series → SeriesRateState]`: samples fold into per-series
  * cumulative rate by the [[Counter]] rule (README, "Counter rule"), as in
  * [[StreamingRate]], and each touched micro-batch re-emits the metric's
  * current top-k by rate (ties: series id ascending, the q83 order).
  *
  * Single-operator design, deliberately: ranking needs all of a metric's
  * series in one place, and chaining a second stateful operator onto
  * [[StreamingRate]]'s update stream is unsupported in update mode —
  * so the rate fold and the ranking share one state store. Cost model:
  * state is O(active series) per metric (entry TTL evicts idle series);
  * per-batch work is the fold over arriving rows plus an O(active
  * series) snapshot scan of the touched metric's map — the same cost a
  * PromQL `topk(k, rate(m[w]))` eval pays per step. Skew bound: a
  * metric's whole series population hashes to ONE state partition; at
  * extreme per-metric cardinality (millions of series under one name)
  * the two-phase refinement is per-series rate ([[StreamingRate]]) into
  * a downstream batch/periodic rank — noted, not needed at relay scale.
  */
object StreamingTopkRate {

  private final class TopkRateProcessor(k: Int, ttl: TTLConfig)
      extends StatefulProcessor[String, CounterSample, TopkRate] {
    @transient private var series: MapState[Long, SeriesRateState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      series = getHandle.getMapState[Long, SeriesRateState](
        "series", Encoders.scalaLong, Encoders.product[SeriesRateState], ttl)

    override def handleInputRows(
        name: String, rows: Iterator[CounterSample],
        timers: TimerValues): Iterator[TopkRate] = {
      // per-series (ts, value) order inside the batch — the q82/q83 window
      // order, so the fold reproduces the batch pipeline exactly
      KeyedState.foldEntries(series, rows.toSeq.sortBy(s => (s.tsUs, s.value)))(_.user_id) {
        case (None, r) => SeriesRateState(r.tsUs, r.tsUs, r.value, 0.0)
        case (Some(st), r) if Counter.late(r.tsUs, r.value, st.lastTsUs, st.lastValue) => st
        case (Some(st), r) => SeriesRateState(st.firstTsUs, r.tsUs, r.value,
          st.totalIncrease + Counter.increase(st.lastValue, r.value))
      }
      // snapshot: current top-k by rate (desc), ties by series id (asc)
      val ranked = series.iterator().flatMap { case (sid, st) =>
        Counter.rate(st.totalIncrease, st.lastTsUs - st.firstTsUs).map(sid -> _)
      }.toVector.sortBy { case (sid, rate) => (-rate, sid) }.take(k)
      ranked.iterator.zipWithIndex.map { case ((sid, rate), idx) =>
        TopkRate(name, sid, rate, idx + 1)
      }
    }
  }

  /** @param samples the counter stream ([[RelayAnalytics.counterSamples]]
    *                or [[StreamingRate.fromRelay]] rows)
    * @param k       series per metric in each snapshot
    * @param ttl     idle-series entry eviction (state stays bounded by
    *                ACTIVE series per metric; always set in production) */
  def topkRate(samples: Dataset[CounterSample], k: Int,
               ttl: Option[Duration] = None): Dataset[TopkRate] = {
    require(k > 0, s"k must be positive, got $k")
    import samples.sparkSession.implicits._
    KeyedState.transform(samples.groupByKey(_.name), OutputMode.Update(), ttl)(
      new TopkRateProcessor(k, _))
  }
}
