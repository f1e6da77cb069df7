package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Cumulative bucket counts for one (metric, hour) — the whole state of a
  * Prometheus histogram series: `counts(i)` pairs with
  * `EventAnalytics.HistBuckets(i)`, the final slot is +Inf. Fixed size
  * regardless of sample volume — the property that makes histogram
  * quantiles the streaming-safe percentile. */
final case class HistCounts(counts: Array[Long])

/** One quantile snapshot per touched (metric, hour) per micro-batch
  * (Update mode: latest row per key is the current estimate). */
final case class HistQuantile(name: String, hour_us: Long, n_samples: Long, p95: Double)

/** Streaming PromQL `histogram_quantile` — the continuous twin of batch
  * q98 (`EventAnalytics.promHistogramQuantile`): samples fold into a
  * cumulative `le`-bucket ladder per (metric, hour) held in `ValueState`,
  * and each micro-batch re-emits the interpolated quantile for the hours
  * it touched. This is exactly how a Prometheus server evaluates latency
  * SLOs continuously — bucket counters only ever increment, so the state
  * is 8 longs per (metric, hour) FOREVER, immune to sample volume, and
  * arrival order is irrelevant (counts commute) — no late-row rule needed,
  * unlike the rate family.
  *
  * Identical math to batch q98 (same [[graft.operators.EventAnalytics
  * .HistBuckets]] ladder, same in-bucket linear interpolation, same
  * HALF_UP 4-decimal rounding), pinned by a real-testdata parity case in
  * `StreamingHistogramQuantileSpec`.
  *
  * Scale: state hash-partitions by (metric, hour); an optional TTL retires
  * hours that stopped receiving samples (late-data horizon), bounding
  * state by ACTIVE hours × metrics rather than stream lifetime. */
object StreamingHistogramQuantile {

  private val HourUs = 3600000000L

  /** bucketQuantile (promql/quantile.go): first bucket whose cumulative
    * count reaches q·total, linear inside it, +Inf clamped to the highest
    * finite bound. Shared by the processor and the spec's oracle. */
  def quantileOf(counts: Array[Long], q: Double): Double = {
    val buckets = graft.operators.EventAnalytics.HistBuckets
    val total = counts.sum
    val target = q * total
    var cum = 0L
    var i = 0
    while (i < counts.length && cum + counts(i) < target) { cum += counts(i); i += 1 }
    val raw =
      if (i >= buckets.length) buckets.last // +Inf bucket
      else {
        val lo = if (i == 0) 0.0 else buckets(i - 1)
        lo + (buckets(i) - lo) * ((target - cum) / counts(i))
      }
    Rounding.r4(raw)
  }

  private final class HistProcessor(q: Double, ttl: TTLConfig)
      extends ValueStateFold[(String, Long), CounterSample, HistCounts, HistQuantile](
        "hist", Encoders.product[HistCounts], ttl) {
    private def buckets = graft.operators.EventAnalytics.HistBuckets

    protected def zero = HistCounts(Array.fill(buckets.length + 1)(0L))

    protected def fold(key: (String, Long), s: HistCounts, rows: Iterator[CounterSample],
                       emit: HistQuantile => Unit) = {
      val counts = s.counts
      rows.foreach { r =>
        val i = buckets.indexWhere(r.value <= _)
        counts(if (i < 0) buckets.length else i) += 1
      }
      emit(HistQuantile(key._1, key._2, counts.sum, quantileOf(counts, q)))
      HistCounts(counts)
    }
  }

  /** @param samples gauge/latency samples (non-negative; negatives are
    *                dropped, matching the batch q98 filter — Prometheus
    *                histograms observe non-negative quantities)
    * @param q       the quantile (default p95)
    * @param ttl     optional retirement horizon for idle (metric, hour)
    *                state; None keeps all hours (test scale only) */
  def quantiles(samples: Dataset[CounterSample], q: Double = 0.95,
                ttl: Option[Duration] = None): Dataset[HistQuantile] = {
    import samples.sparkSession.implicits._
    KeyedState.transform(
      samples.filter(_.value >= 0).groupByKey(s => (s.name, s.tsUs / HourUs * HourUs)),
      OutputMode.Update(), ttl)(new HistProcessor(q, _))
  }
}
