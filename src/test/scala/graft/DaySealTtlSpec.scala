package graft

import java.time.Duration

import graft.streaming.{GroupTick, StreamingTrend, TrendUpdate}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** TTL through the day-seal kernel: an idle group's state expires, and a
  * revived group restarts its history instead of sealing the day it left
  * open before it went quiet. */
class DaySealTtlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def dayUs(d: Long, i: Long = 0) = d * 86400000000L + i

  /** `n` ticks of group g on each of `days`. */
  private def ticks(days: Seq[Long], n: Int = 3): Seq[GroupTick] =
    days.flatMap(d => (0 until n).map(i => GroupTick("g", dayUs(d, i))))

  test("TTL evicts an idle group; a revived group restarts its trend history") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val stream = MemoryStream[GroupTick]
      val q = StreamingTrend.trendUpdates(stream.toDS(), ttl = Some(Duration.ofMillis(500)))
        .writeStream.format("memory").queryName("trend_ttl")
        .outputMode("append").start()
      def out: Seq[TrendUpdate] = spark.table("trend_ttl").as[TrendUpdate].collect().toSeq
      // The ProcessingTime time mode (required by TTL) fires micro-batches
      // continuously, so processAllAvailable never quiesces — poll the sink
      // for the expected rows instead.
      def await(pred: Seq[TrendUpdate] => Boolean): Unit = {
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (!pred(out)) {
          if (System.nanoTime() > deadline) fail(s"timed out waiting for sink rows: $out")
          Thread.sleep(100)
        }
      }
      try {
        // days 0..2 seal (fits emitted at days 1 and 2); day 3 stays open
        stream.addData(ticks(Seq(0L, 1L, 2L)) :+ GroupTick("g", dayUs(3)): _*)
        await(_.exists(_.day == 2L))
        Thread.sleep(1200) // past the TTL: the group's state expires
        // without eviction, day 10's first row would seal the open day 3
        // as the fourth closed day; evicted, days 10 and 11 are the first
        // two closed days of a fresh history
        stream.addData(ticks(Seq(10L, 11L)) :+ GroupTick("g", dayUs(12)): _*)
        await(_.exists(_.day == 11L))
      } finally q.stop()
      val got = out.sortBy(_.day)
      assert(got.map(u => (u.day, u.n_days)) == Seq((1L, 2L), (2L, 3L), (11L, 2L)), got)
      assert(got.forall(_.n_late == 0L), got)
    }
  }
}
