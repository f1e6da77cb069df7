package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Per-series regression state: Welford/co-moment sufficient statistics —
  * count, means, centered second moment of x and co-moment of (x, y) —
  * plus the anchor timestamp that defines x = (ts − t0)/1e6 seconds and
  * the newest timestamp for the prediction horizon. Six numbers per
  * series FOREVER: the O(1) mergeable form of least squares (the same
  * co-moment update Spark's own `regr_slope`/`covar_pop` aggregates use,
  * so the streaming path inherits their numerical stability). */
final case class RegrState(
    n: Long, t0Us: Long, lastTsUs: Long,
    meanX: Double, meanY: Double, m2x: Double, cxy: Double)

/** One regression snapshot per touched series per micro-batch.
  * `slope_per_sec`/`intercept`/`predict_5m` are None until the series has
  * ≥ 2 distinct-timestamp samples (m2x > 0 — the same 0/0 guard that
  * yields NULL in both engines' batch form). */
final case class PredictUpdate(
    name: String, user_id: Long, n_samples: Long,
    slope_per_sec: Option[Double], intercept: Option[Double],
    predict_5m: Option[Double])

/** Streaming PromQL `predict_linear` — the continuous twin of batch q97
  * (`EventAnalytics.promPredictLinear`): each series folds samples into
  * Welford co-moment statistics and re-emits slope / intercept / the
  * 5-minute extrapolation per touched micro-batch. Capacity planning as a
  * standing query: "disk full in N hours" evaluated continuously with
  * O(active series) state, never a window of raw samples.
  *
  * x is centered on the series' FIRST-SEEN timestamp (`t0`). With
  * watermarked in-order delivery that is the series minimum — exactly the
  * batch q97 centering, so slope/intercept/prediction match the batch
  * operator row for row (real-testdata parity case in the spec). Samples
  * are order-insensitive beyond that (sums commute), so there is no
  * late-row rule: a straggler behind `t0` just contributes a negative x.
  *
  * The quantile_over_time half of q97 deliberately has NO streaming twin
  * here: an exact interpolated percentile needs the full value
  * distribution (unbounded state); the bounded-state streaming form of
  * that question is [[StreamingHistogramQuantile]]. */
object StreamingPredictLinear {

  private final class PredictProcessor(horizonSec: Double, ttl: TTLConfig)
      extends ValueStateFold[(String, Long), CounterSample, RegrState, PredictUpdate](
        "regr", Encoders.product[RegrState], ttl) {
    protected def zero = RegrState(0L, -1L, -1L, 0.0, 0.0, 0.0, 0.0)

    protected def fold(key: (String, Long), s0: RegrState, rows: Iterator[CounterSample],
                       emit: PredictUpdate => Unit) = {
      var s = s0
      rows.toArray.sortBy(s => (s.tsUs, s.value)).foreach { r =>
        val t0 = if (s.n == 0L) r.tsUs else s.t0Us
        val x = (r.tsUs - t0) / 1e6
        val n1 = s.n + 1
        val dx = x - s.meanX
        val meanX = s.meanX + dx / n1
        val meanY = s.meanY + (r.value - s.meanY) / n1
        s = RegrState(n1, t0, math.max(s.lastTsUs, r.tsUs), meanX, meanY,
          s.m2x + dx * (x - meanX), s.cxy + dx * (r.value - meanY))
      }
      emit(
        if (s.m2x > 0.0) {
          val slope = s.cxy / s.m2x
          val icept = s.meanY - slope * s.meanX
          val xEnd = (s.lastTsUs - s.t0Us) / 1e6
          import Rounding.{r4, r6}
          PredictUpdate(key._1, key._2, s.n,
            Some(r6(slope)), Some(r4(icept)), Some(r4(icept + slope * (xEnd + horizonSec))))
        } else PredictUpdate(key._1, key._2, s.n, None, None, None))
      s
    }
  }

  /** @param samples    the series stream (watermark upstream so each
    *                   series' first-seen sample is its minimum — the
    *                   batch q97 centering)
    * @param horizonSec extrapolation horizon (PromQL's second arg; 300 =
    *                   the q97 predict_5m column)
    * @param ttl        dead-series eviction; None keeps state forever */
  def predictUpdates(samples: Dataset[CounterSample], horizonSec: Double = 300.0,
                     ttl: Option[Duration] = None): Dataset[PredictUpdate] = {
    import samples.sparkSession.implicits._
    KeyedState.transform(samples.groupByKey(s => (s.name, s.user_id)),
      OutputMode.Update(), ttl)(new PredictProcessor(horizonSec, _))
  }
}
