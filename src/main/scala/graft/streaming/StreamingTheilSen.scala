package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** Per-group trend state: the open day + its running count, the ≤horizon
  * most recent CLOSED (day, count) points as two parallel sequences
  * (newest last; days may skip — only PRESENT days enter the fit, exactly
  * like batch q195's daily aggregate), and the late-row count. */
final case class TheilSenState(curDay: Long, curCount: Long,
                               days: Seq[Long], cnts: Seq[Long], nLate: Long)

/** A re-derived robust fit, emitted the moment `day` seals: the Theil–Sen
  * slope/intercept over the ring of the last ≤horizon closed days
  * (including the newly sealed one). `sen_slope`/`sen_intercept` are
  * UNROUNDED doubles — batch q195 rounds only at its output edge, so a
  * reader applying the same round(…, 6) reproduces the q195 row
  * bit-for-bit (pinned by the parity spec). `n_late` surfaces the
  * dropped-late-row count (the StreamingTrend observability rule,
  * ADVICE r13). */
final case class TrendFit(group: String, day: Long, n_days: Long,
                          n_pairs: Long, sen_slope: Double,
                          sen_intercept: Double, n_late: Long)

/** Streaming Theil–Sen robust trend — batch q195's continuous twin
  * (VERDICT r14 #3) on [[StreamingMeanShift]]'s state shape: per group, a
  * day closes when the first row of a LATER day arrives; the sealed day
  * joins a ring of the last ≤`horizon` closed (day, count) points and the
  * Sen fit is re-derived over the ring — the median of all C(n,2)
  * pairwise slopes plus the median-residual intercept, the estimator a
  * single corrupted day cannot move (breakdown ≈ 29 %), recomputed
  * continuously as the monitoring complement of q144/StreamingMeanShift's
  * mean-shift windows (which a single spike CAN trip).
  *
  * Arithmetic parity with batch q195, by construction: identical slope
  * division ((c_j − c_i) / (d_j − d_i) as doubles), identical ascending
  * sort, identical two-middle-element median picks ((n+1) div 2 and
  * n div 2 + 1, 1-based), identical residual expression c − slope·d. With
  * horizon ≥ the series length and in-order input, the fit emitted at
  * each group's final day seal IS the q195 row (spec-pinned on real
  * testdata).
  *
  * State is 2·horizon + 3 longs per group — constant, independent of
  * volume. The per-seal fit is O(horizon²) slopes computed INSIDE the
  * processor on a ≤horizon-long ring (435 pairs at the default 30) —
  * bounded exactly like batch q195's per-row array explode, and only on
  * day boundaries, not per row.
  *
  * Days seal by the [[DaySealFold]] rule; `n_late` reports its late
  * count.
  */
object StreamingTheilSen {

  /** The Sen fit over parallel (day, count) arrays — batch q195's median
    * picks verbatim: slopes sorted ascending, slope = avg of the 1-based
    * (n+1) div 2 and n div 2 + 1 elements; intercept likewise over the
    * residuals c − slope·d. Requires ≥ 2 points. */
  private[streaming] def senFit(days: IndexedSeq[Long],
                                cnts: IndexedSeq[Long]): (Long, Double, Double) = {
    val n = days.length
    val sl = new Array[Double](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        sl(k) = (cnts(j) - cnts(i)).toDouble / (days(j) - days(i)).toDouble
        k += 1; j += 1
      }
      i += 1
    }
    java.util.Arrays.sort(sl)
    val np = sl.length
    val slope = (sl((np + 1) / 2 - 1) + sl(np / 2)) / 2
    val rs = new Array[Double](n)
    var m = 0
    while (m < n) { rs(m) = cnts(m) - slope * days(m); m += 1 }
    java.util.Arrays.sort(rs)
    val icept = (rs((n + 1) / 2 - 1) + rs(n / 2)) / 2
    (np.toLong, slope, icept)
  }

  private final class TheilSenProcessor(horizon: Int, ttl: TTLConfig)
      extends DaySealFold[GroupTick, TheilSenState, TrendFit](
        "theilsen", Encoders.product[TheilSenState], ttl) {
    protected def zero = TheilSenState(Long.MinValue, 0L, Seq.empty, Seq.empty, 0L)
    protected def tsUs(t: GroupTick) = t.tsUs
    protected def openDay(s: TheilSenState) = s.curDay
    protected def late(s: TheilSenState) = s.copy(nLate = s.nLate + 1)
    protected def enter(s: TheilSenState, day: Long, t: GroupTick) =
      s.copy(curDay = day, curCount = s.curCount + 1)

    // seal the day into the ring; re-derive the fit when ≥ 2 points
    protected def seal(key: String, s: TheilSenState, emit: TrendFit => Unit) = {
      val days = (s.days :+ s.curDay).takeRight(horizon)
      val cnts = (s.cnts :+ s.curCount).takeRight(horizon)
      if (days.length >= 2) {
        val (np, slope, icept) = senFit(days.toIndexedSeq, cnts.toIndexedSeq)
        emit(TrendFit(key, s.curDay, days.length.toLong, np, slope, icept, s.nLate))
      }
      s.copy(curCount = 0L, days = days, cnts = cnts)
    }
  }

  /** @param ticks   the group/time stream
    * @param horizon ring length in closed days (fit window; q195's
    *                horizon-bounded rule — C(horizon, 2) slopes per seal)
    * @param ttl     retires idle groups; a revival starts a fresh history */
  def trendFits(ticks: Dataset[GroupTick], horizon: Int = 30,
                ttl: Option[Duration] = None): Dataset[TrendFit] = {
    require(horizon >= 2, s"horizon $horizon cannot hold a 2-point fit")
    import ticks.sparkSession.implicits._
    KeyedState.transform(ticks.groupByKey(_.group), OutputMode.Append(), ttl)(
      new TheilSenProcessor(horizon, _))
  }
}
