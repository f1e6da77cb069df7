package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.{col, count => cnt, lag, lit, max, max_by, min, sum,
  when}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessorWithInitialState,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** One counter sample on a series, keyed by (metric name, user label) —
  * the relay's own series identity (reference data model, `record.go:8-13`).
  * `tsUs` is event time in microseconds, matching the batch q82 pipeline. */
final case class CounterSample(name: String, user_id: Long, tsUs: Long, value: Double)

/** Per-series state carried across micro-batches: the previous sample
  * (the only thing PromQL-style rate needs to look back at) plus the
  * running totals that make each emitted update cumulative, plus the most
  * recent consumed delta (`lastDtUs`/`lastInc`, −1/0 before the second
  * sample) for the irate instant-vector output. */
final case class RateState(
    firstTsUs: Long, lastTsUs: Long, lastValue: Double,
    nSamples: Long, nResets: Long, nLate: Long, totalIncrease: Double,
    lastDtUs: Long, lastInc: Double)

/** Cumulative rate snapshot for one series, one row per micro-batch that
  * touched the series (Update mode: the latest row per key is the answer).
  * `rate_per_sec` is None until the series spans a positive time interval —
  * the same sum(dt)=0 guard as the batch `safeRate`. `irate_per_sec` is
  * PromQL irate — the last two samples only, reset rule applied, the q96
  * batch semantic — None until a consumed delta spans positive time. */
final case class RateTotals(
    name: String, user_id: Long, n_samples: Long, n_resets: Long, n_late: Long,
    total_increase: Double, rate_per_sec: Option[Double],
    irate_per_sec: Option[Double])

/** A batch-computed per-series warm-start row: [[RateState]] plus its key,
  * flat so it reads straight off a DataFrame (see
  * [[StreamingRate.batchBaseline]]). */
final case class RateBaseline(
    name: String, user_id: Long, firstTsUs: Long, lastTsUs: Long, lastValue: Double,
    nSamples: Long, nResets: Long, totalIncrease: Double,
    lastDtUs: Long, lastInc: Double)

/** Streaming PromQL-style `increase`/`rate` with counter-reset handling —
  * the continuous twin of the batch q82 (`EventAnalytics.promRate`), built
  * on Spark 4's `transformWithState` arbitrary-state API (the successor to
  * `flatMapGroupsWithState`: typed per-key state handles, per-state TTL,
  * timers — and it REQUIRES the RocksDB state store provider, which is the
  * backend a large deployment runs anyway, see `RocksDbStateStoreSpec`).
  *
  * Semantics (identical to batch, PromQL's extrapolation-free core rule):
  * the [[Counter]] rule (README, "Counter rule") — reset-corrected
  * increases along the (ts, value) order, rates only over a positive span.
  * The per-series state is ONE previous sample plus running totals —
  * O(active series) state, not O(samples).
  *
  * Ordering contract: rows inside a micro-batch are sorted here (event
  * order within a batch is not guaranteed); rows that arrive in a LATER
  * batch behind the state's (ts, value) high-water mark cannot be spliced
  * into an already-consumed delta sequence; they are counted in `n_late`
  * and excluded, mirroring how the engine itself drops late rows behind a
  * watermark. An exact duplicate of the newest sample is consumed with
  * delta 0, so duplicate-timestamp scrapes produce the same
  * n_samples/total_increase as the batch pipeline over the same rows.
  * Feed the operator a watermarked stream and `n_late` stays 0.
  *
  * Scale: state lives in the (RocksDB) state store hash-partitioned by
  * series key — a 1000-executor job holds each series' last sample exactly
  * once, every micro-batch shuffles only its own rows, and `ttl` evicts
  * series that stopped reporting so state is bounded by ACTIVE series.
  * A TTL eviction deliberately restarts the series' totals from zero (the
  * baseline sample is gone); size the TTL to the scrape-staleness horizon.
  */
object StreamingRate {

  private final class CounterRateProcessor(ttl: TTLConfig)
      extends StatefulProcessorWithInitialState[
        (String, Long), CounterSample, RateTotals, RateBaseline] {
    @transient private var state: ValueState[RateState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[RateState]("rate", Encoders.product[RateState], ttl)

    /** Warm start: seed the series' state from a batch-computed baseline
      * (runs once, on the first micro-batch, before any input rows). */
    override def handleInitialState(
        key: (String, Long), init: RateBaseline, timers: TimerValues): Unit =
      state.update(RateState(init.firstTsUs, init.lastTsUs, init.lastValue,
        init.nSamples, init.nResets, 0L, init.totalIncrease,
        init.lastDtUs, init.lastInc))

    override def handleInputRows(
        key: (String, Long), rows: Iterator[CounterSample],
        timers: TimerValues): Iterator[RateTotals] = {
      // deterministic (ts, value) order inside the batch — the batch
      // pipeline's window ordering, so same-timestamp samples reproduce
      val batch = rows.toArray.sortBy(s => (s.tsUs, s.value))
      var s = if (state.exists()) state.get()
              else RateState(-1L, -1L, 0.0, 0L, 0L, 0L, 0.0, -1L, 0.0)
      batch.foreach { r =>
        if (s.nSamples > 0L && Counter.late(r.tsUs, r.value, s.lastTsUs, s.lastValue)) {
          s = s.copy(nLate = s.nLate + 1)
        } else if (s.nSamples == 0L) {
          s = RateState(r.tsUs, r.tsUs, r.value, 1L, 0L, s.nLate, 0.0, -1L, 0.0)
        } else {
          val inc = Counter.increase(s.lastValue, r.value)
          s = s.copy(
            lastTsUs = r.tsUs, lastValue = r.value, nSamples = s.nSamples + 1,
            nResets = s.nResets + (if (Counter.reset(s.lastValue, r.value)) 1L else 0L),
            totalIncrease = s.totalIncrease + inc, lastDtUs = r.tsUs - s.lastTsUs,
            lastInc = inc)
        }
      }
      state.update(s)
      Iterator.single(RateTotals(key._1, key._2, s.nSamples, s.nResets, s.nLate,
        Rounding.r2(s.totalIncrease), Counter.rate(s.totalIncrease, s.lastTsUs - s.firstTsUs),
        Counter.rate(s.lastInc, s.lastDtUs)))
    }
  }

  /** @param samples the counter stream (watermark it upstream — see the
    *                ordering contract above)
    * @param ttl     dead-series state eviction horizon; `None` keeps state
    *                forever (test-scale only — at production cardinality,
    *                always set one)
    */
  def rateUpdates(samples: Dataset[CounterSample],
                  ttl: Option[Duration] = None): Dataset[RateTotals] = {
    import samples.sparkSession.implicits._
    KeyedState.transform(samples.groupByKey(s => (s.name, s.user_id)),
      OutputMode.Update(), ttl)(new CounterRateProcessor(_))
  }

  /** Warm-started variant: seed per-series state from [[batchBaseline]]'s
    * output before the first micro-batch — the backfill-then-stream story a
    * production deployment actually runs (bulk-compute rate state over the
    * historical lake, then continue it live without re-reading history).
    * Resets are detected ACROSS the seam: a first streamed value below the
    * baseline's last value counts as a counter restart, exactly as if the
    * sample had arrived in-stream. */
  def rateUpdatesFrom(samples: Dataset[CounterSample], baseline: Dataset[RateBaseline],
                      ttl: Option[Duration] = None): Dataset[RateTotals] = {
    import samples.sparkSession.implicits._
    samples
      .groupByKey(s => (s.name, s.user_id))
      .transformWithState(new CounterRateProcessor(KeyedState.ttlConfig(ttl)),
        KeyedState.timeMode(ttl), OutputMode.Update(),
        baseline.groupByKey(b => (b.name, b.user_id)))
  }

  /** Adapter from the relay's canonical record stream (`RemoteWrite
    * .flatten`: name, time ms, value, labels) to [[CounterSample]] rows —
    * the glue that makes the reference's OWN wire format (snappy +
    * protobuf remote-write bodies) directly consumable by the streaming
    * analytics layer. Series identity = metric name × `seriesLabel` (a
    * numeric label, e.g. the events-style `user` label). Series MISSING the
    * label collapse into id 0; a series whose label is present but
    * NON-NUMERIC is dropped entirely (not merged into id 0 — that would
    * cross-contaminate counter deltas and inflate n_resets/n_late for the
    * merged key). For full-label-set identity — the reference's own series
    * key (`record.go:14`) — use [[RelayAnalytics.counterSamples]], which
    * hashes the whole sorted label map and never merges or drops. Null
    * values (empty series / NaN, §2.2) carry no counter information and
    * are dropped. */
  def fromRelay(records: DataFrame, seriesLabel: String = "user"): Dataset[CounterSample] = {
    import records.sparkSession.implicits._
    import org.apache.spark.sql.functions.{coalesce, element_at}
    // try_cast, not cast: ANSI mode turns a malformed label into a query
    // error; here a non-numeric label means "drop the row", not "die"
    val raw = element_at(col("labels"), seriesLabel)
    records.filter(col("value").isNotNull)
      .filter(raw.isNull || raw.try_cast("long").isNotNull)
      .select(col("name"),
        coalesce(raw.try_cast("long"), lit(0L)).as("user_id"),
        (col("time") * lit(1000L)).as("tsUs"),
        col("value"))
      .as[CounterSample]
  }

  /** The batch half of the warm start: per-series rate state computed with
    * the q82 window-lag pipeline (one shuffle on the series key; per-series
    * state collapses to a single row). Feed its output to
    * [[rateUpdatesFrom]] on the stream that continues the same series. */
  def batchBaseline(samples: Dataset[CounterSample]): Dataset[RateBaseline] = {
    import samples.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{coalesce, struct}
    val w = Window.partitionBy(col("name"), col("user_id"))
      .orderBy(col("tsUs"), col("value"))
    samples.toDF()
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .withColumn("dt", col("tsUs") - lag(col("tsUs"), 1).over(w))
      .withColumn("inc", when(col("delta").isNull, lit(0.0))
        .when(col("delta") < 0, col("value")).otherwise(col("delta")))
      .withColumn("reset", when(col("delta") < 0, 1L).otherwise(0L))
      .groupBy(col("name"), col("user_id"))
      .agg(
        min(col("tsUs")).as("firstTsUs"),
        max(col("tsUs")).as("lastTsUs"),
        max_by(col("value"), struct(col("tsUs"), col("value"))).as("lastValue"),
        cnt(lit(1)).as("nSamples"),
        sum(col("reset")).as("nResets"),
        sum(col("inc")).as("totalIncrease"),
        // newest delta, for irate continuity across the warm-start seam;
        // −1 sentinel (no delta yet) for single-sample series
        max_by(coalesce(col("dt"), lit(-1L)), struct(col("tsUs"), col("value")))
          .as("lastDtUs"),
        max_by(col("inc"), struct(col("tsUs"), col("value"))).as("lastInc"))
      .as[RateBaseline]
  }
}
