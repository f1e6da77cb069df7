package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{MapState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Scalar bookkeeping next to the two token maps: the open pane id, the
  * sealed-reference pane id, per-side pooled overflow masses (tokens past
  * `capacity` — the residual category), tracked-size counters, and the
  * late-row count. Constant size; the maps are ≤ capacity entries each. */
final case class TokenDriftMeta(curPane: Long, refPane: Long, curOther: Long,
                                refOther: Long, curSize: Long, refSize: Long,
                                nLate: Long)

/** A sealed post-reference pane scored against the reference token
  * distribution: Jensen–Shannon divergence (micro-nat quantized, batch
  * q199's exact integer discipline), side masses, union type count, and
  * whether either side overflowed `capacity` (scores become approximate —
  * the pooled-residual category absorbs untracked tokens). */
final case class TokenDriftScore(group: String, pane: Long, n_ref: Long,
                                 n_cur: Long, n_types: Long, jsd: Double,
                                 saturated: Boolean)

/** Streaming TOKEN-DISTRIBUTION drift per group — batch q199's continuous
  * sibling, completing the drift family (value distributions =
  * [[StreamingDrift]] KS/PSI, vocabulary emergence =
  * [[StreamingVocabNovelty]], token-mix shift = THIS): the first sealed
  * pane freezes as the group's REFERENCE token distribution; every later
  * sealed pane emits its Jensen–Shannon divergence against it — "did this
  * ingest batch shift the token mix the tokenizer/LM was fit on?".
  *
  * Exactness: the per-token log terms, micro-nat quantization (×1e6,
  * HALF_UP — java Math.round floors negative halves, so quantization goes
  * through BigDecimal to match both engines' `round`), integer-weighted
  * sums and the final two divisions are BATCH q199's expressions
  * verbatim, so below capacity a streamed pane pair reproduces q199's
  * number bit-for-bit (spec-pinned on the real corpus with the same
  * even/odd split). Past `capacity` per side, untracked tokens pool into
  * ONE residual category per side (mass is conserved; the JSD of the
  * pooled distributions is reported and the row flags `saturated`).
  *
  * State per group: two ≤capacity token maps + seven scalars — bounded
  * regardless of stream length; per micro-batch the store sees one
  * read/write per distinct (pane-open) token. Pane sealing and the
  * late-row contract (a row behind the open pane counts as late and
  * drops) are [[KeyedState.sealLoop]]'s, the daily twins' loop.
  * `relearnPanes` re-baselines the reference from a scored pane once the
  * reference epoch is that old — the scored pane ALWAYS scores against the
  * old reference first, so a regime change alarms before it becomes the
  * new normal. */
object StreamingTokenDrift {

  // java.math.BigDecimal.valueOf = Spark Round's own double path (the
  // string-canonical value, not the exact binary expansion — the two can
  // disagree on .5 ties)
  private[streaming] def quantize(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  private final class TokenDriftProcessor(capacity: Int, relearnPanes: Option[Int])
      extends StatefulProcessor[String, VocabArrival, TokenDriftScore] {
    @transient private var ref: MapState[String, Long] = _
    @transient private var cur: MapState[String, Long] = _
    @transient private var meta: ValueState[TokenDriftMeta] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      ref = getHandle.getMapState[String, Long](
        "ref", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      cur = getHandle.getMapState[String, Long](
        "cur", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      meta = getHandle.getValueState[TokenDriftMeta](
        "meta", Encoders.product[TokenDriftMeta], TTLConfig.NONE)
    }

    /** Batch q199's math on the two tracked maps + pooled residuals:
      * categories = union of tracked tokens (+ the residual pair when
      * either side pooled); a > 0 terms feed the p-side KL sum, b > 0 the
      * q-side, each as count × quantized-micro-nat log term. */
    private def score(key: String, pane: Long, m: TokenDriftMeta): TokenDriftScore = {
      val refMap = scala.collection.mutable.HashMap.empty[String, Long]
      ref.iterator().foreach { case (t, c) => refMap.update(t, c) }
      val curMap = scala.collection.mutable.HashMap.empty[String, Long]
      cur.iterator().foreach { case (t, c) => curMap.update(t, c) }
      val atot = refMap.valuesIterator.sum + m.refOther
      val btot = curMap.valuesIterator.sum + m.curOther
      val keys = (refMap.keySet ++ curMap.keySet).toSeq
      var sp = 0L; var sq = 0L; var nTypes = 0L
      def term(a: Long, b: Long): Unit = {
        if (a > 0 || b > 0) nTypes += 1
        if (a > 0)
          sp += a * quantize(math.log(2.0 / (1.0 +
            (b.toDouble / a) * (atot.toDouble / btot))) * 1e6)
        if (b > 0)
          sq += b * quantize(math.log(2.0 / (1.0 +
            (a.toDouble / b) * (btot.toDouble / atot))) * 1e6)
      }
      keys.foreach(t => term(refMap.getOrElse(t, 0L), curMap.getOrElse(t, 0L)))
      if (m.refOther > 0 || m.curOther > 0) term(m.refOther, m.curOther)
      val jsd = Rounding.r6((sp.toDouble / 1e6 / atot + sq.toDouble / 1e6 / btot) / 2)
      TokenDriftScore(key, pane, atot, btot, nTypes, jsd,
        m.refOther > 0 || m.curOther > 0)
    }

    /** Seals the open pane: the first sealed pane becomes the reference; a
      * later one scores against it, and replaces it once the reference
      * epoch is `relearnPanes` old. */
    private def seal(key: String, m: TokenDriftMeta,
                     emit: TokenDriftScore => Unit): TokenDriftMeta = {
      val first = m.refPane == Long.MinValue
      if (!first) emit(score(key, m.curPane, m))
      val adopt = first || relearnPanes.exists(p => m.curPane - m.refPane >= p)
      if (adopt) { // cur → ref (the maps are ≤ capacity entries)
        ref.iterator().map(_._1).toList.foreach(ref.removeKey)
        cur.iterator().foreach { case (t, c) => ref.updateValue(t, c) }
      }
      cur.iterator().map(_._1).toList.foreach(cur.removeKey)
      (if (adopt) m.copy(refPane = m.curPane, refOther = m.curOther, refSize = m.curSize)
       else m).copy(curOther = 0L, curSize = 0L)
    }

    private def enter(m0: TokenDriftMeta, pane: Long, token: String): TokenDriftMeta = {
      val m = m0.copy(curPane = pane)
      if (cur.containsKey(token)) {
        cur.updateValue(token, cur.getValue(token) + 1L)
        m
      } else if (m.curSize < capacity) {
        cur.updateValue(token, 1L)
        m.copy(curSize = m.curSize + 1)
      } else m.copy(curOther = m.curOther + 1L)
    }

    override def handleInputRows(
        key: String, rows: Iterator[VocabArrival],
        timers: TimerValues): Iterator[TokenDriftScore] = {
      val out = Seq.newBuilder[TokenDriftScore]
      // pane-ascending, token-grouped apply order (counts are commutative;
      // the sort only makes pane transitions deterministic)
      meta.update(KeyedState.sealLoop(
        if (meta.exists()) meta.get()
        else TokenDriftMeta(Long.MinValue, Long.MinValue, 0L, 0L, 0L, 0L, 0L),
        rows.toSeq.sortBy(r => (r.batch, r.token)))(_.batch, _.curPane)(
        m => m.copy(nLate = m.nLate + 1), seal(key, _, out += _),
        (m, pane, r) => enter(m, pane, r.token)))
      out.result().iterator
    }
  }

  /** @param tokens       (group, pane, token) arrivals — [[VocabArrival]]'s
    *                     `batch` doubles as the pane id
    * @param capacity     tracked tokens PER SIDE per group; vocab ≤
    *                     capacity ⇒ exact q199 parity
    * @param relearnPanes re-baseline the reference from a scored pane once
    *                     the reference epoch is this old (None = first
    *                     pane stays the reference forever) */
  def driftScores(tokens: Dataset[VocabArrival], capacity: Int,
                  relearnPanes: Option[Int] = None): Dataset[TokenDriftScore] = {
    require(capacity >= 1, s"capacity must be positive, got $capacity")
    require(relearnPanes.forall(_ > 0), "relearn horizon must be positive")
    import tokens.sparkSession.implicits._
    tokens
      .groupByKey(_.group)
      .transformWithState(new TokenDriftProcessor(capacity, relearnPanes),
        TimeMode.None(), OutputMode.Append())
  }
}
