package graft.streaming

import java.time.Duration

import graft.functions.KmvAgg
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{OutputMode, TTLConfig}

/** One activity observation: a user seen at event time `tsUs` (micros). */
final case class ActivityRow(user_id: Long, tsUs: Long)

/** A day's post-batch distinct sketch: epoch `day`, the ≤k sorted minimum
  * hashes, and the exact-until-capacity flag (`n_hashes < k` ⇒ the sketch
  * has seen the whole distinct set and estimates are exact counts). */
final case class DaySketch(day: Long, sketch: Array[Long], n_hashes: Int)

/** Streaming DAU/WAU/MAU — the continuous twin of batch q141
  * (`WarehouseOps.stickiness`), built on the q137 KMV machinery instead of
  * per-key sets: state is ONE ≤k-long sorted hash array per calendar day,
  * so a day's memory is O(k) no matter how many billion events it sees —
  * the sliding-window distinct-count pattern (mergeable sketches per
  * window pane, union across panes) that replaces the unshardable
  * "28-day distinct users" state a naive streaming MAU would carry.
  *
  * Each micro-batch folds its users into the touched days' sketches (the
  * same insert/merge algebra as the batch aggregate, so order and batching
  * never change a sketch) and emits the day's post-batch [[DaySketch]].
  * The LAST emission per day is the day's final pane; [[activeUsers]]
  * unions panes into the trailing 7/28-day windows exactly like the batch
  * grid join. With k ≥ the day-window's distinct users the counts are
  * EXACT and equal q141 (spec-verified on real testdata); beyond capacity
  * they degrade to the KMV estimator with its published error bound.
  *
  * Hashing matches the q137 convention (md5(user_id || ":kmv") 60-bit
  * prefix), computed here with the JDK's MessageDigest — bit-identical to
  * the SQL `md5` both engines evaluate.
  */
object StreamingActiveUsers {

  private[streaming] def hash60(userId: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$userId:kmv".getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  private final class DailyKmvProcessor(k: Int, ttl: TTLConfig)
      extends ValueStateFold[Long, ActivityRow, Array[Long], DaySketch]("kmv",
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]](), ttl) {
    @transient private lazy val agg = new KmvAgg(k)

    protected def zero = agg.zero

    protected def fold(key: Long, s: Array[Long], rows: Iterator[ActivityRow],
                       emit: DaySketch => Unit) = {
      var sk = s
      rows.foreach(r => sk = agg.reduce(sk, hash60(r.user_id)))
      emit(DaySketch(key, sk, sk.length))
      sk
    }
  }

  /** @param activity the user-activity stream
    * @param k        sketch capacity (exact below it; ~1/√k error above)
    * @param ttl      retires day panes once they age out of every window */
  def daySketches(activity: Dataset[ActivityRow], k: Int = 4096,
                  ttl: Option[Duration] = None): Dataset[DaySketch] = {
    import activity.sparkSession.implicits._
    KeyedState.transform(activity.groupByKey(_.tsUs / KeyedState.UsPerDay),
      OutputMode.Append(), ttl)(new DailyKmvProcessor(k, _))
  }

  /** Folds final day panes into the q141 view: per day, (dau, wau, mau)
    * from the union of the trailing 1/7/28-day sketches. Counts are exact
    * while every unioned sketch is below capacity, else KMV estimates.
    * Runs on ≤|days| panes of ≤k longs — a driver-side fold in the spec's
    * harness; on a cluster it is the same broadcast grid join as q141. */
  def activeUsers(panes: Seq[DaySketch], k: Int = 4096): Seq[(Long, Long, Long, Long)] = {
    val agg = new KmvAgg(k)
    val byDay = panes.groupBy(_.day).map { case (d, ps) => d -> ps.last.sketch }
    def estimate(sk: Array[Long]): Long =
      if (sk.length < k) sk.length.toLong
      else math.round((k - 1).toDouble * (1L << 60).toDouble / sk.last.toDouble)
    byDay.keys.toSeq.sorted.map { d =>
      def window(days: Long): Array[Long] =
        (0L until days).flatMap(off => byDay.get(d - off))
          .foldLeft(agg.zero)(agg.merge)
      (d, estimate(window(1)), estimate(window(7)), estimate(window(28)))
    }
  }
}
