package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** One sample routed to its retention bucket; `bucketUs` is the 6 h-aligned
  * bucket start in micros (assigned per-row upstream, no shuffle). */
final case class BucketSample(event_type: String, bucketUs: Long, event_id: Long,
                              tsUs: Long, value: Double)

/** Per-(type, bucket) OHLC state: open/close carry their (tsUs, event_id)
  * coordinates so the min_by/max_by race stays order-insensitive. */
final case class OhlcState(openTs: Long, openId: Long, open: Double,
                           closeTs: Long, closeId: Long, close: Double,
                           high: Double, low: Double, n: Long)

/** The bucket's OHLC row after a micro-batch touched it. */
final case class OhlcUpdate(event_type: String, bucket_us: Long,
                            open: Double, high: Double, low: Double,
                            close: Double, n: Long)

/** Streaming OHLC downsampling — the continuous twin of batch q170
  * (`StreamingBatch.downsampleOhlc`): the long-term-retention compaction a
  * metrics store runs, maintained incrementally as samples arrive instead
  * of over aged parquet. State is ONE fixed-size row per (type, bucket) —
  * nine scalars — so memory scales with open buckets, never samples; a TTL
  * a bit past the bucket width retires sealed buckets (late post-TTL
  * samples restart the bucket, the StreamingCompact rule).
  *
  * Semantics match batch q170 exactly: open/close are decided by the
  * (tsUs, event_id) total order — order-INSENSITIVE, so out-of-order and
  * cross-batch arrivals land the same result as the batch aggregate, and
  * the LAST update per key across the stream equals the batch row
  * (spec-pinned on real testdata). Each micro-batch emits at most one
  * update per touched key. */
object StreamingDownsample {

  private final class OhlcProcessor(ttl: TTLConfig)
      extends ValueStateFold[(String, Long), BucketSample, OhlcState, OhlcUpdate](
        "ohlc", Encoders.product[OhlcState], ttl) {
    protected def zero: OhlcState = null

    protected def fold(key: (String, Long), s0: OhlcState, rows: Iterator[BucketSample],
                       emit: OhlcUpdate => Unit) = {
      var s = s0
      rows.foreach { r =>
        s =
          if (s == null)
            OhlcState(r.tsUs, r.event_id, r.value, r.tsUs, r.event_id, r.value,
              r.value, r.value, 1L)
          else {
            val opens = r.tsUs < s.openTs || (r.tsUs == s.openTs && r.event_id < s.openId)
            val closes = r.tsUs > s.closeTs || (r.tsUs == s.closeTs && r.event_id > s.closeId)
            OhlcState(
              if (opens) r.tsUs else s.openTs,
              if (opens) r.event_id else s.openId,
              if (opens) r.value else s.open,
              if (closes) r.tsUs else s.closeTs,
              if (closes) r.event_id else s.closeId,
              if (closes) r.value else s.close,
              math.max(s.high, r.value), math.min(s.low, r.value), s.n + 1)
          }
      }
      emit(OhlcUpdate(key._1, key._2, s.open, s.high, s.low, s.close, s.n))
      s
    }
  }

  /** @param samples the bucket-routed sample stream
    * @param ttl     retires buckets idle past the duration */
  def downsample(samples: Dataset[BucketSample],
                 ttl: Option[Duration] = None): Dataset[OhlcUpdate] = {
    import samples.sparkSession.implicits._
    KeyedState.transform(samples.groupByKey(r => (r.event_type, r.bucketUs)),
      OutputMode.Append(), ttl)(new OhlcProcessor(_))
  }
}
