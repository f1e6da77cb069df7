package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues}

/** One trailing-window rate snapshot for a series, emitted per micro-batch
  * that touched it: the window is `(newest sample ts − windowUs, newest]`,
  * `increase` is the reset-corrected growth across consecutive IN-WINDOW
  * samples only (PromQL's rule: samples before the range start contribute
  * nothing), and `rate_per_sec` divides by the ACTUAL in-window sample span
  * (the extrapolation-free core; None with fewer than two in-window
  * samples). */
final case class RangeRate(
    name: String, user_id: Long, window_end_us: Long, n_in_window: Long,
    increase: Double, rate_per_sec: Option[Double])

/** A buffered sample (the `ListState` element). */
final case class BufferedSample(tsUs: Long, value: Double)

/** Streaming PromQL range-window `rate(m[w])` — unlike [[StreamingRate]]'s
  * cumulative totals, this is the actual PromQL semantic: the rate over a
  * TRAILING window of samples, recomputed as the window slides with each
  * arriving scrape. Held in a `transformWithState` `ListState` per series:
  * the buffer keeps only samples inside the trailing window anchored at
  * the newest sample, so state is O(window / scrape-interval) per series —
  * bounded by configuration, not by stream length (a 5 m window at 15 s
  * scrape is ≤ 21 samples regardless of how long the job runs).
  *
  * Increase and span are computed over IN-WINDOW samples only — exactly
  * PromQL's `rate(m[w])`, which ignores everything before `t − w`; the
  * increase and the rate are the [[Counter]] rule's (README, "Counter
  * rule"), as in the batch q82 pipeline and [[StreamingRate]]. The buffer
  * is evicted strictly to the window: the newest sample only moves the
  * window forward, so an evicted sample can never re-enter a later window.
  *
  * Same ordering contract as [[StreamingRate]]: in-batch rows are sorted;
  * cross-batch stale rows (ts ≤ newest buffered ts) are dropped — feed a
  * watermarked stream. RocksDB-backed like every transformWithState op.
  */
object StreamingRangeRate {

  private final class RangeRateProcessor(windowUs: Long)
      extends StatefulProcessor[(String, Long), CounterSample, RangeRate] {
    @transient private var buf: ListState[BufferedSample] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[BufferedSample](
        "window", Encoders.product[BufferedSample], TTLConfig.NONE)

    override def handleInputRows(
        key: (String, Long), rows: Iterator[CounterSample],
        timers: TimerValues): Iterator[RangeRate] = {
      val prior = if (buf.exists()) buf.get().toVector else Vector.empty
      val hwm = prior.lastOption.map(_.tsUs).getOrElse(Long.MinValue)
      val fresh = rows.toArray.sortBy(s => (s.tsUs, s.value))
        .iterator.filter(_.tsUs > hwm)
        .map(s => BufferedSample(s.tsUs, s.value)).toVector
      if (fresh.isEmpty) return Iterator.empty
      val merged = prior ++ fresh
      val windowStart = merged.last.tsUs - windowUs
      // evict strictly to the window — only in-window samples carry meaning
      val inWindow = merged.filter(_.tsUs > windowStart)
      buf.put(inWindow.toArray)
      val increase = inWindow.iterator.sliding(2).withPartial(false)
        .map(pair => Counter.increase(pair(0).value, pair(1).value)).sum
      // one in-window sample spans 0 µs, so it has no rate
      Iterator.single(RangeRate(key._1, key._2, merged.last.tsUs, inWindow.length.toLong,
        Rounding.r2(increase), Counter.rate(increase, inWindow.last.tsUs - inWindow.head.tsUs)))
    }
  }

  /** @param samples the counter stream (same rows [[StreamingRate]] eats)
    * @param window  trailing range, e.g. `Duration.ofMinutes(5)` */
  def rangeRate(samples: Dataset[CounterSample], window: Duration): Dataset[RangeRate] = {
    import samples.sparkSession.implicits._
    samples
      .groupByKey(s => (s.name, s.user_id))
      .transformWithState(new RangeRateProcessor(window.toNanos / 1000L),
        TimeMode.None(), OutputMode.Update())
  }
}
