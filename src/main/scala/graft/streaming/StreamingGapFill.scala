package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode}

/** One sample of a keyed series, event time in micros. */
final case class SeriesSample(name: String, tsUs: Long, value: Double)

/** One finalized grid point. */
final case class GridFill(name: String, grid_us: Long, value: Double)

/** Streaming gap-fill — the continuous twin of batch q171/q175
  * (`EventAnalytics.gapFillCore`): resample each series onto an aligned
  * grid with linear interpolation, maintained as samples arrive. The key
  * insight making it ONE value of state per series: a grid point is
  * finalizable the moment the first sample at-or-after it arrives — so on
  * each arrival the processor emits every grid point in
  * `(prev.ts, cur.ts]`, lerped between exactly the two samples batch
  * would bracket it with, and forgets everything but the new sample.
  * State is (ts, value) per series — O(series), never O(samples) — and
  * each grid point is emitted exactly once.
  *
  * Contract (the sequence-operator discipline shared with StreamingRate):
  * per-series arrivals are processed in (ts, value) order within a batch
  * and must be in order ACROSS batches — late rows (ts ≤ the high-water
  * mark) are dropped, and same-timestamp duplicates must be collapsed
  * upstream (batch tie semantics differ per bracket side, so the twin
  * refuses to guess). Under that contract `StreamingGapFillSpec` pins
  * exact row parity with the batch core on real testdata, including the
  * on-sample and rounding (HALF_UP micro-6, signed-zero-normalized)
  * behavior. */
object StreamingGapFill {

  // private[streaming] (not plain private): Spark's encoder codegen cannot
  // access a plain-private nested product and silently falls back to
  // interpreted (de)serialization on every state access — the visibility
  // every other streaming state class uses (see StreamingAsOf).
  private[streaming] final case class LastSample(tsUs: Long, value: Double)

  private final class GapProcessor(step: Long)
      extends ValueStateFold[String, SeriesSample, LastSample, GridFill](
        "last", Encoders.product[LastSample], TTLConfig.NONE) {
    protected def zero: LastSample = null

    protected def fold(key: String, s0: LastSample, rows: Iterator[SeriesSample],
                       emit: GridFill => Unit) = {
      var s = s0
      rows.toSeq.sortBy(r => (r.tsUs, r.value)).foreach { r =>
        if (s == null) {
          // batch's grid starts at ceil(first sample): only an exactly
          // aligned first sample carries a grid point of its own
          if (r.tsUs % step == 0) emit(GridFill(key, r.tsUs, Rounding.r6(r.value)))
          s = LastSample(r.tsUs, r.value)
        } else if (r.tsUs > s.tsUs) {
          var g = (s.tsUs / step + 1) * step // first aligned point after prev
          while (g <= r.tsUs) {
            val v =
              if (g == r.tsUs) r.value // on-sample: exact, batch's pt = tus rule
              else s.value + (r.value - s.value) *
                ((g - s.tsUs).toDouble / (r.tsUs - s.tsUs).toDouble)
            emit(GridFill(key, g, Rounding.r6(v)))
            g += step
          }
          s = LastSample(r.tsUs, r.value)
        } // ts ≤ high-water mark: late or duplicate — dropped by contract
      }
      s
    }
  }

  def fill(samples: Dataset[SeriesSample], stepUs: Long): Dataset[GridFill] = {
    import samples.sparkSession.implicits._
    samples.groupByKey(_.name)
      .transformWithState(new GapProcessor(stepUs), TimeMode.None(), OutputMode.Append())
  }
}
