package graft.streaming

import java.time.Duration

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** The keyed-state kernel the `transformWithState` twins share: the TTL
  * wiring ([[KeyedState.transform]]), the one-`ValueState` fold
  * ([[ValueStateFold]]) and the day-seal rule of the daily twins
  * ([[DaySealFold]]). */
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
  * StreamingForecast, StreamingDrift, StreamingTheilSen), keyed by group.
  * Rows inside a micro-batch sort by `tsUs`; a row's day is
  * `tsUs / UsPerDay`. The state holds one OPEN day. A row of the open day
  * enters it; the first row of a LATER day seals the open day (the twin
  * folds it into its closed-day state and emits what it scores) and opens
  * its own day; a row BEHIND the open day is counted in the state's
  * `nLate` and dropped, because it cannot be spliced into a sealed day.
  * The last day a group has seen stays open until a later row arrives.
  * A twin supplies its zero state, how a row enters the open day, and
  * what a sealed day folds into and emits. */
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
                                    emit: O => Unit): S = {
    var s = s0
    rows.toVector.sortBy(tsUs).foreach { row =>
      val day = tsUs(row) / KeyedState.UsPerDay
      val open = openDay(s)
      if (day < open) s = late(s)
      else {
        if (day > open && open != Long.MinValue) s = seal(key, s, emit)
        s = enter(s, day, row)
      }
    }
    s
  }
}
