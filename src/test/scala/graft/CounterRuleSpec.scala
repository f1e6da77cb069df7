package graft

import java.time.Duration

import graft.streaming.{CounterSample, HwUpdate, RangeGridPoint, RateTotals, RatioUpdate,
  StreamingHoltWinters, StreamingRangeEval, StreamingRate, StreamingTopkRate,
  StreamingVectorRatio, TopkRate}
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The counter twins share one PromQL counter rule (late test, reset-corrected
  * increase, rate over a positive span). One planted stream through `rate`,
  * `topk-rate`, `ratio`, `holt-winters` and `range-eval` must give the same
  * counts, increase and rate wherever their outputs overlap. */
class CounterRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def us(sec: Long) = sec * 1000000L

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

  // whole seconds, so range-eval's floored seconds keep the same order.
  // Batch 1: a reset at 20 s and an exact duplicate of it. Batch 2: a row
  // at the high-water timestamp 30 s with a lower value (late), then 40 s.
  // Increase 4 + 2 + 0 + 4 + 3 = 13 over 40 s.
  private val batches = Seq(
    Seq(0L -> 1.0, 10L -> 5.0, 20L -> 2.0, 20L -> 2.0, 30L -> 6.0),
    Seq(30L -> 4.0, 40L -> 9.0))
    .map(_.map { case (sec, v) => CounterSample("error", 1L, us(sec), v) })

  /** Every row `twin` emits over the two batches, in emission order. */
  private def drain[T: Encoder](name: String)
                               (twin: Dataset[CounterSample] => Dataset[T]): Seq[T] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[CounterSample]
    val q = twin(stream.toDS()).writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try batches.foreach { b => stream.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(name).as[T].collect().toSeq
  }

  test("rate, topk-rate, ratio, holt-winters and range-eval agree on one stream") {
    withRocksDb {
      import spark.implicits._
      val rate = drain[RateTotals]("cr_rate")(StreamingRate.rateUpdates(_)).last
      val topk = drain[TopkRate]("cr_topk")(StreamingTopkRate.topkRate(_, k = 1)).last
      val ratio = drain[RatioUpdate]("cr_ratio")(StreamingVectorRatio.ratioUpdates(_)).last
      val hw = drain[HwUpdate]("cr_hw")(StreamingHoltWinters.smoothedUpdates(_)).last
      val grid = drain[RangeGridPoint]("cr_grid")(StreamingRangeEval.gridUpdates(_,
        step = Duration.ofSeconds(60L), window = Duration.ofSeconds(60L)))

      assert((rate.n_samples, rate.n_resets, rate.n_late, rate.total_increase) ===
        (6L, 1L, 1L, 13.0))
      assert(rate.rate_per_sec === Some(0.325))
      assert((hw.n_samples, hw.n_late) === (rate.n_samples, rate.n_late))
      assert(Some(topk.rate_per_sec) === rate.rate_per_sec)
      assert(ratio.error_rate === rate.rate_per_sec)
      // step 60 s's trailing 60 s window holds every sample of the stream
      assert(grid.filter(_.step_sec == 60L).last.total_increase === rate.total_increase)
    }
  }
}
