package graft.streaming

import java.time.Duration

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** The keyed-state kernel the `transformWithState` twins share: the TTL
  * wiring ([[KeyedState.transform]]), the per-entry `MapState` fold
  * ([[KeyedState.foldEntries]]), the pane-seal loop ([[KeyedState.sealLoop]]),
  * the one-`ValueState` fold ([[ValueStateFold]]), the day-seal rule of the
  * daily twins ([[DaySealFold]]) and the PromQL counter rule ([[Counter]]). */
private[streaming] object KeyedState {

  val UsPerDay = 86400000000L

  /** `ttl` as a state handle's TTL; None keeps state forever. */
  def ttlConfig(ttl: Option[Duration]): TTLConfig =
    ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)

  /** TTL needs the ProcessingTime time mode; but that mode makes the engine
    * fire micro-batches continuously to advance the clock even with no
    * data, so only opt into it when eviction is actually requested. */
  def timeMode(ttl: Option[Duration]): TimeMode =
    if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()

  /** Runs the processor `mk` builds for `ttl` over `groups`. */
  def transform[K, I, O: Encoder](groups: KeyValueGroupedDataset[K, I], outputMode: OutputMode,
                                  ttl: Option[Duration])
                                 (mk: TTLConfig => StatefulProcessor[K, I, O]): Dataset[O] =
    groups.transformWithState(mk(ttlConfig(ttl)), timeMode(ttl), outputMode)

  /** `map`'s value at `k`; None when none is stored (a new entry, or one
    * TTL evicted). */
  def entry[K, V](map: MapState[K, V], k: K): Option[V] =
    if (map.containsKey(k)) Some(map.getValue(k)) else None

  /** Folds `rows` into `map` entry by entry: rows group by `key`, keeping
    * their order, and each group's rows `step` one at a time from the
    * entry's stored value; the last result replaces it. */
  def foldEntries[K, I, V](map: MapState[K, V], rows: Seq[I])(key: I => K)
                          (step: (Option[V], I) => V): Unit =
    rows.groupBy(key).foreach { case (k, group) =>
      map.updateValue(k, group.foldLeft(entry(map, k))((v, row) => Some(step(v, row))).get)
    }

  /** The seal loop of the paned twins, over `rows` in pane order. The state
    * holds one OPEN pane (`openPane`, Long.MinValue before the first row).
    * A row of the open pane enters it; the first row of a LATER pane seals
    * the open pane and then enters, opening its own; a row BEHIND the open
    * pane goes to `late`, because it cannot be spliced into a sealed pane. */
  def sealLoop[I, S](s0: S, rows: Seq[I])(pane: I => Long, openPane: S => Long)
                    (late: S => S, seal: S => S, enter: (S, Long, I) => S): S =
    rows.foldLeft(s0) { (s, row) =>
      val p = pane(row)
      val open = openPane(s)
      if (p < open) late(s)
      else enter(if (p > open && open != Long.MinValue) seal(s) else s, p, row)
    }
}

/** The PromQL counter rule of the counter twins (README, "Counter rule"):
  * a series' samples order by (ts, value); a sample strictly behind the
  * (ts, value) high-water mark is late; a value below its predecessor is a
  * counter reset, whose increase is the whole new value; a per-second rate
  * needs a positive time span. */
private[streaming] object Counter {

  /** `(ts, value)` is strictly behind the high-water mark `(hwmTs, hwmValue)`:
    * an equal-ts row with value ≥ `hwmValue` is the NEXT element of the
    * (ts, value) order, not a splice into the past. */
  def late(ts: Long, value: Double, hwmTs: Long, hwmValue: Double): Boolean =
    ts < hwmTs || (ts == hwmTs && value < hwmValue)

  def reset(prev: Double, value: Double): Boolean = value - prev < 0

  /** The reset-corrected increase from `prev` to `value`. */
  def increase(prev: Double, value: Double): Double =
    if (reset(prev, value)) value else value - prev

  /** `inc` per second over `dtUs` microseconds, rounded; None unless dt > 0. */
  def rate(inc: Double, dtUs: Long): Option[Double] =
    if (dtUs > 0L) Some(Rounding.r6(inc / (dtUs / 1e6))) else None
}

/** A processor whose whole per-key state is one `ValueState[S]` named
  * `stateName`: each micro-batch folds the key's rows into the stored state
  * (or `zero` when none is stored: a new key, or one TTL evicted) and
  * stores the result. `stateEncoder` is by-name because it is built where
  * the processor runs: an encoder shipped inside the serialized processor
  * loses its unresolved parts (an array encoder fails in `init`). */
private[streaming] abstract class ValueStateFold[K, I, S, O](
    stateName: String, stateEncoder: => Encoder[S], ttl: TTLConfig)
    extends StatefulProcessor[K, I, O] {
  @transient private var state: ValueState[S] = _

  protected def zero: S

  /** Folds one micro-batch's `rows` into `s`, passing output rows to `emit`. */
  protected def fold(key: K, s: S, rows: Iterator[I], emit: O => Unit): S

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[S](stateName, stateEncoder, ttl)

  override def handleInputRows(key: K, rows: Iterator[I], timers: TimerValues): Iterator[O] = {
    val out = mutable.ArrayBuffer.empty[O]
    state.update(fold(key, if (state.exists()) state.get() else zero, rows, out += _))
    out.iterator
  }
}

/** The day-seal rule of the daily twins (StreamingTrend, StreamingMeanShift,
  * StreamingForecast, StreamingDrift, StreamingTheilSen), keyed by group:
  * [[KeyedState.sealLoop]] with a row's day, `tsUs / UsPerDay`, as its
  * pane, over the micro-batch's rows sorted by `tsUs`. A sealed day folds
  * into the twin's closed-day state and emits what it scores; a late row is
  * counted in the state's `nLate` and dropped. The last day a group has
  * seen stays open until a later row arrives. A twin supplies its zero
  * state, how a row enters the open day, and what a sealed day folds into
  * and emits. */
private[streaming] abstract class DaySealFold[I, S, O](
    stateName: String, stateEncoder: => Encoder[S], ttl: TTLConfig)
    extends ValueStateFold[String, I, S, O](stateName, stateEncoder, ttl) {

  protected def tsUs(row: I): Long

  /** The state's open day; Long.MinValue before the group's first row. */
  protected def openDay(s: S): Long

  /** `s` with its `nLate` raised by one. */
  protected def late(s: S): S

  /** `s` with `row` entered into the open day `day`, which it may open. */
  protected def enter(s: S, day: Long, row: I): S

  /** Folds the open day into the closed-day state, emits what it scores,
    * and empties the open day. */
  protected def seal(key: String, s: S, emit: O => Unit): S

  final override protected def fold(key: String, s0: S, rows: Iterator[I],
                                    emit: O => Unit): S =
    KeyedState.sealLoop(s0, rows.toVector.sortBy(tsUs))(tsUs(_) / KeyedState.UsPerDay,
      openDay)(late, seal(key, _, emit), enter)
}
