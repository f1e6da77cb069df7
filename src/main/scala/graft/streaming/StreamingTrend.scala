package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Per-group regression state: the open day + its count, plus the running
  * OLS moments over CLOSED days — x is the epoch day REBASED to the
  * group's first closed day (`x0`), exactly the batch q178 rebase, so
  * every product stays in int64 at any horizon. Eleven longs of state,
  * volume-independent. */
final case class TrendState(curDay: Long, curCount: Long, x0: Long,
                            n: Long, sx: Long, sy: Long, sxy: Long,
                            sxx: Long, syy: Long, nLate: Long)

/** One trend refresh: after `day` sealed, the OLS fit over all closed
  * days so far — batch q178's (n_days, slope, intercept, r2,
  * forecast_next) row, recomputed incrementally in O(1) per day.
  * `n_late` surfaces the group's cumulative dropped-late-row count
  * (ADVICE r13: the late-row contract needs a monitoring surface — a
  * nonzero value means upstream delivered ticks for already-sealed days
  * and the fit is missing their counts). */
final case class TrendUpdate(group: String, day: Long, n_days: Long,
                             slope: Double, intercept: Double,
                             r2: Option[Double], forecast_next: Double,
                             n_late: Long)

/** Streaming OLS trend — the continuous twin of batch q178
  * (`WarehouseOps.olsTrend`): linear regression is PURE MOMENTS, so the
  * per-group state is just (n, Σx, Σy, Σxy, Σx², Σy²) plus the open day —
  * each day close folds one (x, y) point in and re-derives
  * slope/intercept/R²/next-day forecast with the exact integer formulas
  * of the batch query (one double division per emitted figure, HALF_UP
  * rounded through [[Rounding]]). This is the textbook example of why
  * mergeable MOMENTS, not fitted parameters, are what streams and
  * warehouses store (the q62/q64/q127/q169 discipline): the model
  * refreshes per day with no window buffer and no refit pass.
  *
  * Parity: in-order input reproduces batch q178 run over the same closed
  * days verbatim — same rebase (the group's first day; the batch query's
  * global base coincides whenever the group spans the corpus start), same
  * integer moments, same rounding (spec-verified against the batch
  * operator on a shared fixture). Degenerate fits stay silent until two
  * days with distinct x exist, like the batch `den > 0` filter; zero
  * y-variance emits R² = None (batch: NULL). Days seal by the
  * [[DaySealFold]] rule.
  */
object StreamingTrend {

  private final class TrendProcessor(ttl: TTLConfig)
      extends DaySealFold[GroupTick, TrendState, TrendUpdate](
        "trend", Encoders.product[TrendState], ttl) {
    protected def zero = TrendState(Long.MinValue, 0L, Long.MinValue,
      0L, 0L, 0L, 0L, 0L, 0L, 0L)
    protected def tsUs(t: GroupTick) = t.tsUs
    protected def openDay(s: TrendState) = s.curDay
    protected def late(s: TrendState) = s.copy(nLate = s.nLate + 1)
    protected def enter(s: TrendState, day: Long, t: GroupTick) =
      s.copy(curDay = day, curCount = s.curCount + 1)

    private def fit(key: String, s: TrendState, sealedDay: Long): Option[TrendUpdate] = {
      val num = s.n * s.sxy - s.sx * s.sy
      val den = s.n * s.sxx - s.sx * s.sx
      val vy = s.n * s.syy - s.sy * s.sy
      val xnext = sealedDay - s.x0 + 1 // batch's xmax + 1 after this seal
      if (s.n < 2 || den <= 0) None
      else Some(TrendUpdate(key, sealedDay, s.n,
        Rounding.r6(num.toDouble / den),
        Rounding.r6((s.sy * den - num * s.sx).toDouble / (s.n * den)),
        if (vy == 0) None
        else Some(Rounding.r6(num.toDouble * num.toDouble / (den.toDouble * vy.toDouble))),
        Rounding.r4((s.sy * den - num * s.sx + s.n * num * xnext).toDouble
          / (s.n * den)),
        s.nLate))
    }

    // fold the sealed day's (x, y) into the moments, refresh the fit
    protected def seal(key: String, s0: TrendState, emit: TrendUpdate => Unit) = {
      val base = if (s0.x0 == Long.MinValue) s0.curDay else s0.x0
      val x = s0.curDay - base
      val y = s0.curCount
      val s = s0.copy(curCount = 0L, x0 = base, n = s0.n + 1, sx = s0.sx + x,
        sy = s0.sy + y, sxy = s0.sxy + x * y, sxx = s0.sxx + x * x, syy = s0.syy + y * y)
      fit(key, s, s.curDay).foreach(emit)
      s
    }
  }

  /** @param ticks the group/time stream
    * @param ttl   retires idle groups; a revival restarts the fit */
  def trendUpdates(ticks: Dataset[GroupTick],
                   ttl: Option[Duration] = None): Dataset[TrendUpdate] = {
    import ticks.sparkSession.implicits._
    KeyedState.transform(ticks.groupByKey(_.group), OutputMode.Append(), ttl)(
      new TrendProcessor(_))
  }
}
