package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues}

/** One grid point of a continuous PromQL range query — the same row batch
  * q100 (`EventAnalytics.promRangeEval`) produces for `sum by (name)
  * (rate(m[w]))` at an aligned step. Update-mode contract: the latest row
  * per (name, step_sec) is the step's current value; a step's row stops
  * changing once samples newer than step+w have arrived (the step is
  * sealed — every in-window increase has been attributed). */
final case class RangeGridPoint(
    name: String, step_sec: Long, n_series: Long, n_samples: Long,
    total_increase: Double, rate_per_sec: Double)

/** Per-series high-water mark inside the per-metric map: the newest
  * (second, value) sample, the delta anchor. */
final case class GridSeriesState(lastTsec: Long, lastValue: Double)

/** One grid cell: what ONE series has contributed to ONE step so far. */
final case class GridCellKey(step: Long, user: Long)
final case class GridCell(n: Long, sumInc: Double)

/** Streaming PromQL RANGE-QUERY evaluation — the continuous twin of batch
  * q100 and the last batch-vs-streaming asymmetry in the PromQL family:
  * `sum by (name)(rate(m[24h]))` on an aligned step grid, maintained
  * incrementally as scrapes arrive instead of re-evaluated per panel
  * refresh (promql/engine.go rangeEval, turned inside out the same way
  * q100 turns it: "for each sample, which steps?" — each reset-corrected
  * increase lands in the ≤ ⌈w/step⌉+1 aligned steps whose trailing window
  * [s−w, s] contains it, a BOUNDED fan-out per sample).
  *
  * One `transformWithState` processor keyed by METRIC NAME (the grid is a
  * per-metric object, PromQL's natural sharding; same single-operator
  * rationale as [[StreamingTopkRate]] — chaining a per-series stateful op
  * into a per-step one is unsupported in update mode) holding:
  *   - `series`: user → newest (second, value) — the delta anchor of the
  *     [[Counter]] rule (README, "Counter rule"), here on floored SECONDS
  *     to reproduce the batch q100 window order exactly;
  *   - `grid`: (step, user) → (n samples, Σ increase) — per-cell, not
  *     per-step, because `n_series` is a DISTINCT count: a step's series
  *     count is its live cell count, exact, never approximated.
  *
  * Emission: each micro-batch re-emits every TOUCHED step from one scan
  * of the metric's grid map, with q100's exact rounding (2-dp total, rate
  * from the rounded total). State is O(series × grid-width) per metric,
  * bounded by configuration: a step seals once the stream passes step+w
  * (nothing can touch it again — samples behind the per-series hwm are
  * dropped), so the TTL retires sealed cells and the live grid stays
  * ⌈w/step⌉+1 columns wide regardless of stream lifetime.
  *
  * Parity with batch q100 on real testdata and checkpointed restart are
  * pinned by `StreamingRangeEvalSpec`.
  */
object StreamingRangeEval {

  private final class RangeEvalProcessor(stepSec: Long, windowSec: Long, ttl: TTLConfig)
      extends StatefulProcessor[String, CounterSample, RangeGridPoint] {
    @transient private var series: MapState[Long, GridSeriesState] = _
    @transient private var grid: MapState[GridCellKey, GridCell] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      series = getHandle.getMapState[Long, GridSeriesState](
        "series", Encoders.scalaLong, Encoders.product[GridSeriesState], ttl)
      grid = getHandle.getMapState[GridCellKey, GridCell](
        "grid", Encoders.product[GridCellKey], Encoders.product[GridCell], ttl)
    }

    override def handleInputRows(
        name: String, rows: Iterator[CounterSample],
        timers: TimerValues): Iterator[RangeGridPoint] = {
      // batch q100 works on floored SECONDS ordered by (tsec, value) —
      // identical fold order here or parity breaks on same-second scrapes
      val batch = rows.map(s => (s.user_id, Math.floorDiv(s.tsUs, 1000000L), s.value))
        .toSeq.sortBy(identity)
      val touched = scala.collection.mutable.Set.empty[Long]
      KeyedState.foldEntries(series, batch)(_._1) {
        case (None, (_, tsec, v)) => GridSeriesState(tsec, v) // anchors, no delta
        case (Some(st), (_, tsec, v)) if Counter.late(tsec, v, st.lastTsec, st.lastValue) => st
        case (Some(st), (sid, tsec, v)) =>
          val inc = Counter.increase(st.lastValue, v)
          var s0 = Math.floorDiv(tsec + stepSec - 1, stepSec) * stepSec
          val s1 = Math.floorDiv(tsec + windowSec, stepSec) * stepSec
          while (s0 <= s1) {
            val ck = GridCellKey(s0, sid)
            val cell = KeyedState.entry(grid, ck).getOrElse(GridCell(0L, 0.0))
            grid.updateValue(ck, GridCell(cell.n + 1L, cell.sumInc + inc))
            touched += s0
            s0 += stepSec
          }
          GridSeriesState(tsec, v)
      }
      if (touched.isEmpty) return Iterator.empty
      // one scan of the metric's grid: fold the touched steps' cells
      val agg = scala.collection.mutable.Map.empty[Long, (Long, Long, Double)]
      grid.iterator().foreach { pair =>
        if (touched.contains(pair._1.step)) {
          val (ns, n, sum) = agg.getOrElse(pair._1.step, (0L, 0L, 0.0))
          agg(pair._1.step) = (ns + 1L, n + pair._2.n, sum + pair._2.sumInc)
        }
      }
      agg.toSeq.sortBy(_._1).iterator.map { case (step, (nSeries, nSamples, sum)) =>
        // q100's rounding contract: rate from the ROUNDED 2-dp total
        val total = Rounding.r2(sum)
        RangeGridPoint(name, step, nSeries, nSamples, total,
          Rounding.r6(total / windowSec))
      }
    }
  }

  /** @param samples the counter stream ([[StreamingRate]]'s rows)
    * @param step    grid step (default = batch q100's 6 h)
    * @param window  trailing range per grid point (default = q100's 24 h)
    * @param ttl     optional retirement horizon for sealed cells; None
    *                keeps the whole grid (test scale only) */
  def gridUpdates(samples: Dataset[CounterSample],
                  step: Duration = Duration.ofSeconds(21600L),
                  window: Duration = Duration.ofSeconds(86400L),
                  ttl: Option[Duration] = None): Dataset[RangeGridPoint] = {
    import samples.sparkSession.implicits._
    require(step.getSeconds > 0 && window.getSeconds >= step.getSeconds,
      "range-eval needs 0 < step <= window")
    KeyedState.transform(samples.groupByKey(_.name), OutputMode.Update(), ttl)(
      new RangeEvalProcessor(step.getSeconds, window.getSeconds, _))
  }
}
