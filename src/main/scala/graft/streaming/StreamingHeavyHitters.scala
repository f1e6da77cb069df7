package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues}

/** One token occurrence in a keyed stream (e.g. group = metric name or
  * language bucket, token = word/label value/user agent). */
final case class TokenEvent(group: String, token: String)

/** A heavy-hitter estimate after a micro-batch: space-saving guarantees
  * `true_count ≤ count` and `count − error ≤ true_count`; `rank` orders by
  * estimated count within the group (1 = heaviest). */
final case class HeavyHitter(group: String, token: String, count: Long, error: Long, rank: Int)

/** Per-tracked-token space-saving counter (kept in `MapState`). */
final case class SsCounter(count: Long, error: Long)

/** Streaming heavy hitters per group — the continuous twin of batch q66's
  * count-min heavy hitters, via the SPACE-SAVING summary (Metwally et al.,
  * "Efficient Computation of Frequent and Top-k Elements in Data Streams",
  * ICDT'05) held in a `transformWithState` `MapState`: at most `capacity`
  * tracked tokens per group; an untracked token evicts the current minimum
  * and inherits its count as `error`. Guarantees (the paper's): every true
  * count is ≤ its estimate, estimates overshoot by at most the evicted
  * minimum (reported per token as `error`), and any token with true
  * frequency > N/capacity is guaranteed tracked.
  *
  * Scale: state is O(groups × capacity) REGARDLESS of token cardinality —
  * the whole point vs an exact groupBy count at 100 TB; each micro-batch
  * pre-aggregates its own rows before touching state, so state updates are
  * O(distinct tokens in batch), and the per-batch snapshot emission is
  * O(capacity). RocksDB-backed like every transformWithState operator.
  */
object StreamingHeavyHitters {

  /** Applies one micro-batch's per-token counts to the space-saving
    * `counters` (at most `capacity` entries) and returns the tracked set.
    * Tokens apply in ascending order, so eviction ties are deterministic;
    * only touched entries are written back (dirty set), so store writes
    * are O(distinct tokens in batch), not O(capacity). */
  private[streaming] def offer(counters: MapState[String, SsCounter],
                               batchCounts: collection.Map[String, Long],
                               capacity: Int): mutable.HashMap[String, SsCounter] = {
    // load the tracked set once; it is bounded by `capacity`
    val tracked = mutable.HashMap.empty[String, SsCounter]
    counters.iterator().foreach { case (t, c) => tracked.update(t, c) }
    val dirty = mutable.HashSet.empty[String]
    batchCounts.toSeq.sortBy(_._1).foreach { case (token, n) =>
      tracked.get(token) match {
        case Some(c) => tracked.update(token, c.copy(count = c.count + n))
        case None if tracked.size < capacity =>
          tracked.update(token, SsCounter(n, 0L))
        case None =>
          // evict the minimum-count entry (ties: token asc, determinism);
          // the newcomer inherits its count as the overshoot bound
          val (minTok, minC) = tracked.minBy { case (t, c) => (c.count, t) }
          tracked.remove(minTok)
          counters.removeKey(minTok)
          tracked.update(token, SsCounter(minC.count + n, minC.count))
      }
      dirty.add(token)
    }
    dirty.foreach(t => tracked.get(t).foreach(c => counters.updateValue(t, c)))
    tracked
  }

  private final class SpaceSavingProcessor(capacity: Int, k: Int)
      extends StatefulProcessor[String, TokenEvent, HeavyHitter] {
    @transient private var counters: MapState[String, SsCounter] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counters = getHandle.getMapState[String, SsCounter](
        "ss", Encoders.STRING, Encoders.product[SsCounter], TTLConfig.NONE)

    override def handleInputRows(
        group: String, rows: Iterator[TokenEvent],
        timers: TimerValues): Iterator[HeavyHitter] = {
      // batch-local pre-aggregation: one state touch per DISTINCT token
      val batchCounts = mutable.HashMap.empty[String, Long]
      rows.foreach(r => batchCounts.update(r.token, batchCounts.getOrElse(r.token, 0L) + 1L))
      val tracked = offer(counters, batchCounts, capacity)
      // snapshot: top-k by estimated count (ties: token asc)
      tracked.toSeq.sortBy { case (t, c) => (-c.count, t) }.take(k).iterator
        .zipWithIndex.map { case ((t, c), i) =>
          HeavyHitter(group, t, c.count, c.error, i + 1)
        }
    }
  }

  /** @param tokens   keyed token stream
    * @param capacity tracked tokens per group (the memory/accuracy knob:
    *                 frequency > N/capacity ⇒ guaranteed present)
    * @param k        snapshot size emitted per group per micro-batch */
  def topK(tokens: Dataset[TokenEvent], capacity: Int, k: Int): Dataset[HeavyHitter] = {
    require(capacity >= k, s"capacity $capacity must cover the snapshot size $k")
    import tokens.sparkSession.implicits._
    tokens
      .groupByKey(_.group)
      .transformWithState(new SpaceSavingProcessor(capacity, k),
        TimeMode.None(), OutputMode.Update())
  }
}
