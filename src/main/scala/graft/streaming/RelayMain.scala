package graft.streaming

import java.time.Duration

import graft.sources.RemoteWrite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** CLI entry point — the Spark form of the reference's `main()`
  * (`/root/reference/main.go:70-119`): flag parsing, writer selection,
  * stream lifecycle. Ingest is the production shape from SURVEY.md §2.1:
  * a frontend appends each remote-write POST body as a file under --in.
  *
  * Usage:
  *   graft.streaming.RelayMain --in <bodiesDir> --out <sinkDir>
  *     [--stream-name metrics]        (main.go:74 -stream-name)
  *     [--firehose]                   (main.go:71 -firehose)
  *     [--write-interval 10]          (main.go:75, seconds; 0 = drain-and-exit)
  *     [--listen-addr 9501]           also serve POST /receive on this port
  *                                    (main.go:73 -listen-addr), appending
  *                                    each accepted body to --in — the full
  *                                    reference shape in one process
  *     [--region <aws-region>]        AWS region for the sink client
  *                                    (main.go:74 -region; defaults to
  *                                    $AWS_REGION like the reference)
  *     [--delivery at-most-once|exactly-once]
  *                                    at-most-once = the reference's
  *                                    log-and-drop PutRecords emulation;
  *                                    exactly-once = idempotent
  *                                    batch=<id>/partition/chunk layout
  *                                    ([[ExactlyOnceFileSink]]): replays
  *                                    overwrite, never duplicate
  *     [--analytics rate|range-rate|topk|topk-rate|staleness|histogram|predict|ratio|range-eval|holt-winters|compact|cardinality|downsample|trend|drift[,...]]
  *     [--ratio-num error] [--ratio-den click]
  *                                    ratio mode: numerator/denominator
  *                                    metric names (matching key = the
  *                                    label set minus __name__)
  *                                    ALSO publish a continuous streaming
  *                                    analytic computed from the same body
  *                                    stream (own checkpoint, RocksDB state
  *                                    store, [[RelayAnalytics]] full-label
  *                                    identity) as JSON-lines under
  *                                    <out>/analytics-<mode> — the relay
  *                                    and its live query surface in ONE
  *                                    process
  *     [--rate-ttl 0]                 rate mode: dead-series state TTL in
  *                                    seconds (0 = keep forever)
  *     [--range-window 300]           range-rate mode: trailing window (s)
  *     [--stale-after 300]            staleness mode: silence horizon (s,
  *                                    Prometheus defaults to ~5 min).
  *                                    Staleness needs a periodic trigger
  *                                    to fire its timers — run it with a
  *                                    nonzero --write-interval; a drain
  *                                    run (0) only registers liveness
  *     [--topk 20] [--topk-capacity 1000]
  *                                    topk mode: snapshot size / tracked
  *                                    series per metric (Metwally bound:
  *                                    freq > N/capacity guaranteed present)
  *     [--drift-relearn <days>]       drift mode: re-seal the reference
  *                                    histogram from the scored day once
  *                                    the reference epoch is this old
  *                                    (default: first day is the
  *                                    reference forever)
  *     [--grid-step 21600] [--grid-window 86400]
  *                                    range-eval mode: aligned step and
  *                                    trailing window (s) of the continuous
  *                                    range-query grid (batch q100's
  *                                    defaults); --rate-ttl retires sealed
  *                                    cells
  *
  * That is all five reference flags (-firehose, -stream-name, -listen-addr,
  * -region, -write-interval) plus the Spark-side ingest/analytics
  * knobs. The analytics stream is a SECOND reader over the same body
  * directory with its own offsets/checkpoint: delivery and analytics
  * advance independently, so a slow sink cannot stall the analytic (and
  * vice versa), exactly like two consumer groups on one topic.
  */
object RelayMain {

  val Modes: Seq[String] =
    Seq("rate", "range-rate", "topk", "topk-rate", "staleness", "histogram", "predict",
      "ratio", "range-eval", "holt-winters", "compact", "cardinality", "downsample",
      "trend", "drift")

  /** The chosen analytic over canonical records, as an untyped frame — one
    * switch shared by [[main]] and the end-to-end spec. Every mode rides
    * [[RelayAnalytics]]' full-label-set identity. */
  def analyticsFrame(records: DataFrame, mode: String,
                     rateTtl: Option[Duration] = None,
                     rangeWindow: Duration = Duration.ofMinutes(5),
                     staleAfter: Duration = Duration.ofMinutes(5),
                     topkCapacity: Int = 1000, topkK: Int = 20,
                     ratioNum: String = "error", ratioDen: String = "click",
                     gridStep: Duration = Duration.ofSeconds(21600L),
                     gridWindow: Duration = Duration.ofSeconds(86400L),
                     driftLo: Long = 0L, driftHi: Long = 99999L,
                     driftBins: Int = 10,
                     driftRelearn: Option[Int] = None): DataFrame =
    mode match {
    case "rate" =>
      StreamingRate.rateUpdates(RelayAnalytics.counterSamples(records), rateTtl).toDF()
    case "range-rate" =>
      StreamingRangeRate.rangeRate(RelayAnalytics.counterSamples(records), rangeWindow).toDF()
    case "topk" =>
      StreamingHeavyHitters.topK(RelayAnalytics.tokenEvents(records), topkCapacity, topkK).toDF()
    case "topk-rate" =>
      StreamingTopkRate.topkRate(RelayAnalytics.counterSamples(records), topkK, rateTtl).toDF()
    case "staleness" =>
      StreamingStaleness.transitions(RelayAnalytics.counterSamples(records), staleAfter).toDF()
    case "histogram" =>
      StreamingHistogramQuantile.quantiles(RelayAnalytics.counterSamples(records)).toDF()
    case "predict" =>
      StreamingPredictLinear.predictUpdates(RelayAnalytics.counterSamples(records)).toDF()
    case "ratio" =>
      // matchSamples, not counterSamples: binary-op matching ignores
      // __name__ (the metric rides in `name`; the key is the other labels)
      StreamingVectorRatio.ratioUpdates(RelayAnalytics.matchSamples(records),
        ratioNum, ratioDen).toDF()
    case "range-eval" =>
      StreamingRangeEval.gridUpdates(RelayAnalytics.counterSamples(records),
        gridStep, gridWindow, rateTtl).toDF()
    case "holt-winters" =>
      StreamingHoltWinters.smoothedUpdates(RelayAnalytics.counterSamples(records),
        ttl = rateTtl).toDF()
    case "compact" =>
      StreamingCompact.compact(RelayAnalytics.changeRows(records), rateTtl).toDF()
    case "cardinality" =>
      StreamingActiveUsers.daySketches(RelayAnalytics.seriesActivity(records),
        ttl = rateTtl).toDF()
    case "downsample" =>
      StreamingDownsample.downsample(RelayAnalytics.bucketSamples(records),
        rateTtl).toDF()
    case "trend" =>
      StreamingTrend.trendUpdates(RelayAnalytics.groupTicks(records), rateTtl).toDF()
    case "drift" =>
      StreamingDrift.driftScores(RelayAnalytics.valueTicks(records),
        driftLo, driftHi, driftBins, driftRelearn, rateTtl).toDF()
    case other =>
      sys.error(s"--analytics $other: expected one of ${Modes.mkString("|")}")
  }

  /** Start the analytics publisher: body stream → decode → adapter →
    * operator → JSON-lines under `outDir` (append; the latest row per
    * series key is the current answer — the same update-log shape the
    * memory sink gives the specs, durable). Checkpointed: a restart resumes
    * source offsets AND operator state, so totals continue instead of
    * restarting from zero. */
  def startAnalytics(spark: SparkSession, bodies: DataFrame, mode: String,
                     outDir: String, checkpointDir: String,
                     trigger: Trigger = RelayPipeline.DefaultTrigger,
                     rateTtl: Option[Duration] = None,
                     rangeWindow: Duration = Duration.ofMinutes(5),
                     staleAfter: Duration = Duration.ofMinutes(5),
                     topkCapacity: Int = 1000, topkK: Int = 20,
                     ratioNum: String = "error", ratioDen: String = "click",
                     gridStep: Duration = Duration.ofSeconds(21600L),
                     gridWindow: Duration = Duration.ofSeconds(86400L),
                     driftRelearn: Option[Int] = None): StreamingQuery = {
    val frame = analyticsFrame(RelayPipeline.records(bodies), mode,
      rateTtl, rangeWindow, staleAfter, topkCapacity, topkK, ratioNum, ratioDen,
      gridStep, gridWindow, driftRelearn = driftRelearn)
    StreamSession.prepare(spark)
    frame.writeStream
      .queryName(s"graft-analytics-$mode")
      .trigger(trigger)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").json(outDir)
      }
      .option("checkpointLocation", checkpointDir)
      .start()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k -> v
    }.toMap
    val inDir = opts.getOrElse("--in", sys.error("--in <bodiesDir> required"))
    val outDir = opts.getOrElse("--out", sys.error("--out <sinkDir> required"))
    // stream-name required, like main.go:79-81
    val streamName = opts.getOrElse("--stream-name", "metrics")
    val firehose = args.contains("--firehose")
    val intervalSec = opts.getOrElse("--write-interval", "10").toInt
    // Without a checkpoint the source restarts from scratch and re-delivers
    // every historical body after a crash; default one under the sink dir
    // so restarts resume instead of duplicating.
    val checkpoint = opts.getOrElse("--checkpoint", s"$outDir/_checkpoint")
    // comma-separated modes all run from one process (each its own reader,
    // checkpoint, and state store — like several consumer groups)
    val analytics = opts.get("--analytics")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    analytics.foreach(m => require(Modes.contains(m),
      s"--analytics $m: expected one of ${Modes.mkString("|")}"))

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-relay")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // transformWithState requires the RocksDB provider — set it only when an
    // analytic actually runs (the plain relay pipeline is stateless)
    if (analytics.nonEmpty) builder.config(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // main.go:88's startup line, same shape (JsonLog — the zap-parity
    // JSON encoder), so a reference deployment's log tooling keeps working
    JsonLog.info("starting prometheus_remote_kinesis",
      "stream-name" -> streamName, "in" -> inDir, "out" -> outDir)

    val region = opts.getOrElse("--region", RecordSink.defaultRegion)
    val sink: RecordSink = opts.getOrElse("--delivery", "at-most-once") match {
      case "exactly-once" =>
        new ExactlyOnceFileSink(outDir, streamName, region)
      // --firehose drops the keys in RelayPipeline.deliver; the sinks
      // record whatever keys arrive
      case "at-most-once" => new KinesisFileSink(outDir, streamName, region)
      case other => sys.error(s"--delivery $other: expected at-most-once|exactly-once")
    }
    val trigger =
      if (intervalSec == 0) Trigger.AvailableNow()
      else Trigger.ProcessingTime(s"$intervalSec seconds")

    val frontend = opts.get("--listen-addr").map { port =>
      val f = new graft.sources.HttpFrontend(inDir, port.toInt)
      f.start()
      JsonLog.info(s"start http server on port $port") // main.go:103
      f
    }

    def bodyStream() = RemoteWrite.bodyDsv2Stream(spark, inDir)
    // finally-stop the frontend and Spark even when the stream dies with an
    // exception: the frontend's non-daemon pool would otherwise pin the JVM
    // alive after main unwinds
    try {
      val q = RelayPipeline.start(spark, bodyStream(),
        sink, firehose = firehose, trigger = trigger,
        checkpointDir = Some(checkpoint))
      val aq = analytics.map { mode =>
        // per-mode checkpoint: operator state schemas differ across modes,
        // so a shared dir would poison a later run in another mode
        startAnalytics(spark, bodyStream(), mode,
          outDir = s"$outDir/analytics-$mode",
          checkpointDir = s"$outDir/_analytics_checkpoint-$mode",
          trigger = trigger,
          rateTtl = Some(opts.getOrElse("--rate-ttl", "0").toLong)
            .filter(_ > 0).map(Duration.ofSeconds),
          rangeWindow = Duration.ofSeconds(opts.getOrElse("--range-window", "300").toLong),
          staleAfter = Duration.ofSeconds(opts.getOrElse("--stale-after", "300").toLong),
          topkCapacity = opts.getOrElse("--topk-capacity", "1000").toInt,
          topkK = opts.getOrElse("--topk", "20").toInt,
          ratioNum = opts.getOrElse("--ratio-num", "error"),
          ratioDen = opts.getOrElse("--ratio-den", "click"),
          gridStep = Duration.ofSeconds(opts.getOrElse("--grid-step", "21600").toLong),
          gridWindow = Duration.ofSeconds(opts.getOrElse("--grid-window", "86400").toLong),
          driftRelearn = opts.get("--drift-relearn").map(_.toInt))
      }
      if (intervalSec == 0) {
        q.processAllAvailable(); q.stop()
        aq.foreach { a => a.processAllAvailable(); a.stop() }
      } else {
        // fail-fast like the reference's single process: EITHER stream
        // dying (sink or analytic) ends the process with its error
        spark.streams.awaitAnyTermination()
      }
    } finally {
      JsonLog.warn("shutting down") // main.go:119
      frontend.foreach(_.stop())
      spark.stop()
    }
  }
}
