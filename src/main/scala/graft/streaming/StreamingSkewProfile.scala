package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues,
  ValueState}

/** One skew reading after a micro-batch: the hottest key of `group` (a
  * join-key column being watched), its space-saving estimate/overshoot
  * bound, its share of ALL rows seen, and the salt a shuffle on this key
  * needs NOW: with P reducer partitions the hot key's partition carries
  * share·N vs the N/P mean, so `suggested_salt = ⌈share·P⌉` splits it
  * back to mean size. (Batch q181's ⌈max/mean⌉ is the per-KEY view of
  * the same quantity; this is the per-PARTITION view a running job acts
  * on — both are emitted-documented, not interchangeable.) */
final case class SkewUpdate(group: String, n_rows: Long, hot_token: String,
                            hot_est: Long, hot_err: Long, hot_share: Double,
                            suggested_salt: Int)

/** Streaming join-key skew watch — the continuous third of the skew
  * story (q164 FIXES skew, q181 MEASURES it in batch, this WATCHES it):
  * per watched key column, the space-saving summary of
  * [[StreamingHeavyHitters]] (state O(capacity) regardless of key
  * cardinality) plus one exact row counter; every micro-batch emits the
  * hottest key's share and the salt factor a shuffle on that column
  * needs right now — the autoscaler/AQE-threshold input. Space-saving
  * guarantees bound the share: true ≤ est, est − err ≤ true, and any key
  * with true frequency > N/capacity is guaranteed tracked — so a key hot
  * enough to NEED salting (share ≫ 1/capacity for any sane capacity)
  * cannot hide. Reuses the q66 processor's eviction discipline verbatim;
  * the only additions are the exact total and the share/salt derivation.
  */
object StreamingSkewProfile {

  private final class SkewProcessor(capacity: Int, partitions: Int)
      extends StatefulProcessor[String, TokenEvent, SkewUpdate] {
    @transient private var counters:
      org.apache.spark.sql.streaming.MapState[String, SsCounter] = _
    @transient private var total: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counters = getHandle.getMapState[String, SsCounter](
        "ss", Encoders.STRING, Encoders.product[SsCounter],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      total = getHandle.getValueState[Long]("total", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(
        group: String, rows: Iterator[TokenEvent],
        timers: TimerValues): Iterator[SkewUpdate] = {
      val batchCounts = scala.collection.mutable.HashMap.empty[String, Long]
      var batchN = 0L
      rows.foreach { r =>
        batchCounts.update(r.token, batchCounts.getOrElse(r.token, 0L) + 1L)
        batchN += 1L
      }
      val tracked = StreamingHeavyHitters.offer(counters, batchCounts, capacity)
      val n = (if (total.exists()) total.get() else 0L) + batchN
      total.update(n)
      if (tracked.isEmpty || n == 0) Iterator.empty
      else {
        val (hotTok, hotC) = tracked.minBy { case (t, c) => (-c.count, t) }
        val share = hotC.count.toDouble / n
        Iterator.single(SkewUpdate(group, n, hotTok, hotC.count, hotC.error,
          Rounding.r6(share), math.ceil(share * partitions).toInt))
      }
    }
  }

  /** @param tokens     keyed stream: group = watched key COLUMN, token =
    *                    the key value
    * @param capacity   tracked keys per group (the memory/accuracy knob)
    * @param partitions reducer parallelism the salt is sized for */
  def skewUpdates(tokens: Dataset[TokenEvent], capacity: Int = 1000,
                  partitions: Int = 32): Dataset[SkewUpdate] = {
    import tokens.sparkSession.implicits._
    tokens
      .groupByKey(_.group)
      .transformWithState(new SkewProcessor(capacity, partitions),
        TimeMode.None(), OutputMode.Update())
  }
}
