package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Per-series smoothing state: the previous two levels and the trend of
  * prometheus' double-exponential recurrence, plus the (ts, value)
  * high-water mark that defines the late rule. Seven numbers per series
  * FOREVER — the recurrence is the rare sequential fold whose entire
  * memory is its own output, so the streaming form is not an
  * approximation of batch q106, it is the identical arithmetic. */
final case class HwState(
    s0: Double, s1: Double, b: Double, n: Long,
    lastTsUs: Long, lastValue: Double, nLate: Long)

/** One smoothing snapshot per touched series per micro-batch.
  * `smoothed`/`trend` are None until the series has 2 samples — the same
  * n ≥ 2 contract as the batch operator's filter. */
final case class HwUpdate(
    name: String, user_id: Long, n_samples: Long, n_late: Long,
    smoothed: Option[Double], trend: Option[Double])

/** Streaming PromQL `holt_winters` (double exponential smoothing) — the
  * continuous twin of batch q106 (`EventAnalytics.promHoltWinters`,
  * prometheus functions.go funcDoubleExponentialSmoothing). The batch
  * form folds each series' sorted sample array through s1 = sf·v +
  * (1−sf)·(s1 + b); the fold's accumulator (s0, s1, b) IS the complete
  * state, so the streaming operator just keeps it in a ValueState and
  * continues the identical IEEE op sequence sample by sample — level and
  * trend match the batch fold bit-for-bit on an in-order stream (exact
  * equality asserted in the spec's real-testdata parity case, not an
  * epsilon).
  *
  * Ordering contract (the late test of the [[Counter]] rule, README
  * "Counter rule"): rows inside a micro-batch are sorted by (ts, value) —
  * the batch array's own sort; rows arriving in a later batch behind the
  * high-water mark cannot be spliced into an already-folded recurrence
  * (unlike the commutative co-moment sums of [[StreamingPredictLinear]],
  * this fold is order-SENSITIVE), so they count in `n_late` and are
  * excluded. Feed a watermarked stream and `n_late` stays 0.
  *
  * The smoothing constants arrive as EXPLICIT pairs (sf, csf) and
  * (tf, ctf) rather than computing 1−sf at runtime: the batch side spells
  * 0.3/0.7/0.1/0.9 as literals because the double `1 - 0.3` is NOT the
  * double `0.7`, and bit parity demands the same operands here.
  *
  * Scale: O(active series) state in the RocksDB store, hash-partitioned
  * by series key; `ttl` evicts dead series (an evicted series restarts
  * its fold — size the TTL to the scrape-staleness horizon). */
object StreamingHoltWinters {

  private final class HwProcessor(
      sf: Double, csf: Double, tf: Double, ctf: Double, ttl: TTLConfig)
      extends ValueStateFold[(String, Long), CounterSample, HwState, HwUpdate](
        "hw", Encoders.product[HwState], ttl) {
    protected def zero = HwState(0.0, 0.0, 0.0, 0L, -1L, 0.0, 0L)

    protected def fold(key: (String, Long), s0: HwState, rows: Iterator[CounterSample],
                       emit: HwUpdate => Unit) = {
      var s = s0
      rows.toArray.sortBy(s => (s.tsUs, s.value)).foreach { r =>
        if (s.n > 0L && Counter.late(r.tsUs, r.value, s.lastTsUs, s.lastValue)) {
          s = s.copy(nLate = s.nLate + 1)
        } else if (s.n == 0L) {
          // seed: level = first sample, trend unset (the batch fold's zero)
          s = HwState(0.0, r.value, 0.0, 1L, r.tsUs, r.value, s.nLate)
        } else if (s.n == 1L) {
          // first step: trend seeds at v1 − v0 (calcTrendValue i=0 branch)
          val b0 = r.value - s.s1
          s = HwState(s.s1, sf * r.value + csf * (s.s1 + b0), b0, 2L,
            r.tsUs, r.value, s.nLate)
        } else {
          val bt = tf * (s.s1 - s.s0) + ctf * s.b
          s = HwState(s.s1, sf * r.value + csf * (s.s1 + bt), bt, s.n + 1L,
            r.tsUs, r.value, s.nLate)
        }
      }
      import Rounding.r4
      emit(
        if (s.n >= 2L)
          HwUpdate(key._1, key._2, s.n, s.nLate, Some(r4(s.s1)), Some(r4(s.b)))
        else HwUpdate(key._1, key._2, s.n, s.nLate, None, None))
      s
    }
  }

  /** @param samples the series stream (watermark upstream: the fold is
    *                order-sensitive, late rows are counted and dropped)
    * @param sf/csf  smoothing factor and its complement, as literals
    * @param tf/ctf  trend factor and its complement, as literals
    * @param ttl     dead-series eviction; None keeps state forever */
  def smoothedUpdates(samples: Dataset[CounterSample],
                      sf: Double = 0.3, csf: Double = 0.7,
                      tf: Double = 0.1, ctf: Double = 0.9,
                      ttl: Option[Duration] = None): Dataset[HwUpdate] = {
    import samples.sparkSession.implicits._
    KeyedState.transform(samples.groupByKey(s => (s.name, s.user_id)),
      OutputMode.Update(), ttl)(new HwProcessor(sf, csf, tf, ctf, _))
  }
}
