package graftbench

import java.net.{HttpURLConnection, URL}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.{BodyStream, HttpFrontend, Prompb, RemoteWrite}
import graft.streaming.{ExactlyOnceFileSink, KinesisFileSink, RecordSink, RelayMain, RelayPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The two relay workloads, run as cycles of admit-then-drain. In each
  * cycle clients POST a fixed number of remote-write bodies to an
  * `HttpFrontend` over [[Connections]] keep-alive connections, each sending
  * its next body only after the reply (a closed loop, as a Prometheus shard
  * does); then the relay drains the new bodies into its sink with an
  * AvailableNow trigger, resuming from its checkpoint. On
  * `remote_write_wide` the `rate` twin then drains the same bodies as a
  * second consumer. The first [[WarmCycles]] cycles are untimed warm-up (the
  * second drain still ran 20-30% slower than later ones), and the first
  * cycle's drains give `cold_s`; timed cycles follow until the run's
  * seconds are spent, at least [[MinTimedCycles]]. `warm_per_s` is the
  * median over timed cycles of each cycle's records per second of drain.
  * Posting and draining do not overlap: see the FOUND note on
  * `BodyStream.list` in CHANGES.md. */
object Relay {
  val Connections = 2
  /** POSTs per block of the admission rate: `admit_bodies_per_s` is the
    * connections times the median block rate, so a stall of a few seconds
    * (fsync on a shared disk) moves it less than a rate pooled over the
    * whole run. */
  val AdmitBlock = 15
  val WarmCycles = 2
  val MinTimedCycles = 2

  /** One keep-alive connection and its body generator. */
  private final class Client(val conn: Int, port: Int, gen: BodyGen) {
    val latMs = mutable.ArrayBuffer[Double]()
    /** (start, end) of each timed POST that got its 200. */
    val spans = mutable.ArrayBuffer[(Long, Long)]()
    var valid, ok200, corrupt, refused400, unexpected, bodies, bytes, records = 0L

    /** The next `n` bodies, generated before the POST loop that sends them,
      * so that the loop times the frontend and not the generator. */
    def prepare(n: Int): Seq[Body] = Seq.fill(n)(gen.next())

    def post(b: Body, timed: Boolean): Unit = {
      val c = new URL(s"http://127.0.0.1:$port/receive").openConnection()
        .asInstanceOf[HttpURLConnection]
      c.setRequestMethod("POST")
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(b.payload.length)
      c.setRequestProperty("Content-Encoding", "snappy")
      c.setRequestProperty("Content-Type", "application/x-protobuf")
      val t0 = System.nanoTime()
      val os = c.getOutputStream
      os.write(b.payload); os.close()
      val code = c.getResponseCode
      // drain the reply so the connection goes back to the keep-alive pool
      Option(if (code >= 400) c.getErrorStream else c.getInputStream).foreach { in =>
        in.readAllBytes(); in.close()
      }
      val t1 = System.nanoTime()
      bodies += 1; bytes += b.payload.length
      if (b.corrupt) { corrupt += 1; if (code == 400) refused400 += 1 else unexpected += 1 }
      else {
        valid += 1
        if (code == 200) {
          ok200 += 1; records += b.records
          if (timed) { latMs += (t1 - t0) / 1e6; spans += ((t0, t1)) }
        } else unexpected += 1
      }
    }
  }

  def run(spark: SparkSession, ctx: Main.Ctx, out: Result, listener: Option[TraceListener]): Unit = {
    val wide = ctx.workload == "remote_write_wide"
    // bodies per connection per cycle: whole rounds of the small generator,
    // and 120 000 samples per cycle on wide
    val bodiesPerCycle = if (wide) 6 else 300
    def newGen(c: Int): BodyGen =
      if (wide) new BodyGen.WideGen(ctx.seed, c) else new BodyGen.SmallGen(ctx.seed, c)
    def newSink(dir: String): RecordSink =
      if (wide) new ExactlyOnceFileSink(dir, "bench") else new KinesisFileSink(dir, "bench")

    val bodiesDir = ctx.dir("bodies")
    val sinkDir = ctx.dir("sink")
    val sink = newSink(sinkDir)
    val frontend = new HttpFrontend(bodiesDir, 0)
    try {
      frontend.start()
      out.readyEpochMs = System.currentTimeMillis()
      val clients = (0 until Connections).map(c => new Client(c, frontend.boundPort, newGen(c)))

      val relayQs, rateQs = mutable.ArrayBuffer[StreamingQuery]()
      val blockRates, cycleRates = mutable.ArrayBuffer[Double]()
      var relayS, rateS = 0.0
      var relayed = 0L

      /** Runs one cycle; returns the wall time of its drains. */
      def cycle(timed: Boolean): Double = {
        val before = clients.map(c => (c.ok200, c.records, c.spans.length))
        val threads = clients.map { c =>
          val bodies = c.prepare(bodiesPerCycle)
          new Thread(() => bodies.foreach(c.post(_, timed)), s"graftbench-client-${c.conn}")
        }
        // collect the previous drain's garbage before, not during, admission
        System.gc()
        threads.foreach(_.start()); threads.foreach(_.join())
        val bodies = clients.zip(before).map { case (c, (n, _, _)) => c.ok200 - n }.sum
        val records = clients.zip(before).map { case (c, (_, r, _)) => c.records - r }.sum
        // admission rate of each connection over blocks of consecutive 200s
        for ((c, (_, _, s)) <- clients.zip(before); block <- c.spans.drop(s).grouped(AdmitBlock))
          blockRates += block.length / ((block.last._2 - block.head._1) / 1e9)

        val (rq, rs) = Main.time(drain(RelayPipeline.start(spark,
          RemoteWrite.bodyDsv2Stream(spark, bodiesDir), sink,
          trigger = Trigger.AvailableNow(), checkpointDir = Some(ctx.dir("relay-checkpoint")))))
        relayQs += rq
        val rateDrain = if (!wide) 0.0 else {
          val (q, s) = Main.time(drain(RelayMain.startAnalytics(spark,
            RemoteWrite.bodyDsv2Stream(spark, bodiesDir), "rate",
            outDir = ctx.dir("rate-out"), checkpointDir = ctx.dir("rate-checkpoint"),
            trigger = Trigger.AvailableNow())))
          rateQs += q
          s
        }
        if (timed) {
          relayed += records
          relayS += rs
          rateS += rateDrain
          cycleRates += records * (if (wide) 2 else 1) / (rs + rateDrain)
        }
        val cl = clients.flatMap(_.latMs.takeRight(bodiesPerCycle))
        System.err.println(f"[graftbench] cycle timed=$timed bodies $bodies%d records $records%d " +
          f"relay $rs%.2f s rate $rateDrain%.2f s lat " +
          Seq(0.1, 0.5, 0.9).map(q => if (cl.isEmpty) 0.0 else Main.quantile(cl, q)).map(x => f"$x%.2f").mkString("/"))
        rs + rateDrain
      }

      val coldS = cycle(timed = false)
      (1 until WarmCycles).foreach(_ => cycle(timed = false))
      val t0 = System.nanoTime()
      var timedCycles = 0
      while (timedCycles < MinTimedCycles || System.nanoTime() - t0 < ctx.seconds * 1e9) {
        cycle(timed = true)
        timedCycles += 1
      }
      out.metric("cold_s", coldS, "s")
      out.metric("warm_per_s", Main.quantile(cycleRates.toSeq, 0.5), "1/s")
      out.attempted += clients.map(_.bodies).sum + clients.map(_.records).sum
      out.failed += clients.map(_.unexpected).sum
      expectations(out, clients, bodiesDir, newGen, wide)

      listener.foreach { l =>
        l.drain(); l.report(out)
        val lat = clients.flatMap(_.latMs)
        out.metric("http_frontend.admit_bodies_per_s",
          Connections * Main.quantile(blockRates.toSeq, 0.5), "1/s")
        out.metric("http_frontend.admit_p50_ms", Main.quantile(lat, 0.5), "ms")
        out.metric("http_frontend.admit_p99_ms", Main.quantile(lat, 0.99), "ms")
        out.metric("relay_pipeline.samples_per_s", relayed / relayS, "1/s")
        if (wide) out.metric("streaming_rate.samples_per_s", relayed / rateS, "1/s")
        traceLayers(spark, ctx, out, clients, bodiesDir, sinkDir, newSink, relayQs.toSeq, rateQs.toSeq)
      }
    } finally frontend.stop()
  }

  private def drain(q: StreamingQuery): StreamingQuery = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q
  }

  /** What the checks compare against: HTTP statuses, and the records and
    * `rate` totals derived by replaying each connection's generator. */
  private def expectations(out: Result, clients: Seq[Client], bodiesDir: String,
                           newGen: Int => BodyGen, wide: Boolean): Unit = {
    val digest = new RecordDigest
    var samples, resets = 0L
    var increase = 0.0
    clients.foreach { cl =>
      val g = newGen(cl.conn)
      (0L until cl.bodies).foreach { _ =>
        val b = g.next()
        if (!b.corrupt) b.series.foreach(digest.addSeries)
      }
      g match {
        case w: BodyGen.WideGen => samples += w.samples; resets += w.resets; increase += w.increase
        case _ =>
      }
    }
    out.expectNum("records", digest.count)
    out.expectRaw("records_digest", "\"" + digest.sumText + "\"")
    out.expectNum("valid_sent", clients.map(_.valid).sum)
    out.expectNum("valid_200", clients.map(_.ok200).sum)
    out.expectNum("corrupt_sent", clients.map(_.corrupt).sum)
    out.expectNum("corrupt_400", clients.map(_.refused400).sum)
    out.expectNum("body_files", BodyStream.list(bodiesDir).length.toLong)
    if (wide) {
      out.expectNum("rate_n_samples", samples)
      out.expectNum("rate_n_resets", resets)
      out.expectNum("rate_total_increase", increase.toLong)
    }
  }

  private def durations(qs: Seq[StreamingQuery], key: String): Double =
    qs.flatMap(_.recentProgress)
      .map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)).sum

  /** Per-layer figures, each timed from outside around one public call. */
  private def traceLayers(spark: SparkSession, ctx: Main.Ctx, out: Result, clients: Seq[Client],
                          bodiesDir: String, sinkDir: String, newSink: String => RecordSink,
                          relayQs: Seq[StreamingQuery], rateQs: Seq[StreamingQuery]): Unit = {
    // frontend: the validation it runs per body, single-threaded
    val files = BodyStream.list(bodiesDir).map(n => Files.readAllBytes(Paths.get(bodiesDir, n)))
    val (_, vs) = Main.time(files.foreach(b => Prompb.decode(org.xerial.snappy.Snappy.uncompress(b))))
    out.metric("http_frontend.validate_us_per_body", vs * 1e6 / files.length, "us")
    out.metric("http_frontend.bodies_accepted", clients.map(_.ok200).sum.toDouble, "count")
    out.metric("http_frontend.bodies_refused", clients.map(_.refused400).sum.toDouble, "count")
    out.metric("http_frontend.bytes_in", clients.map(_.bytes).sum.toDouble, "bytes")

    val listMs = (0 until 5).map(_ => Main.time(BodyStream.list(bodiesDir))._2 * 1e3)
    out.metric("body_stream.list_ms", Main.quantile(listMs, 0.5), "ms")
    out.metric("body_stream.latest_offset_ms", durations(relayQs, "latestOffset"), "ms")
    out.metric("body_stream.get_batch_ms", durations(relayQs, "getBatch"), "ms")
    out.metric("body_stream.batches",
      relayQs.flatMap(_.recentProgress).count(_.numInputRows > 0).toDouble, "count")

    def read(): DataFrame = spark.read.format("remote-write-bodies").load(bodiesDir)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    out.metric("body_stream.read_s", Main.time(noop(read()))._2, "s")
    out.metric("remote_write.decode_flatten_s",
      Main.time(noop(RemoteWrite.fromBodies(read())))._2, "s")
    out.metric("remote_write.json_lines_s",
      Main.time(noop(RemoteWrite.jsonLines(RemoteWrite.fromBodies(read()))))._2, "s")
    out.metric("remote_write.records_out", RemoteWrite.fromBodies(read()).count().toDouble, "count")
    out.metric("relay_pipeline.deliver_s", Main.time(RelayPipeline.deliver(
      RemoteWrite.fromBodies(read()), newSink(ctx.dir("trace-sink"))))._2, "s")

    val chunks = Files.walk(Paths.get(sinkDir)).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.endsWith(".jsonl") && !n.startsWith(".")
    }.toSeq
    out.metric("relay_pipeline.chunks", chunks.length.toDouble, "count")
    out.metric("relay_pipeline.bytes_out", chunks.map(Files.size).sum.toDouble, "bytes")
    out.metric("relay_pipeline.add_batch_ms", durations(relayQs, "addBatch"), "ms")
    out.metric("relay_pipeline.commit_ms",
      durations(relayQs, "walCommit") + durations(relayQs, "commitOffsets"), "ms")
    out.metric("relay_pipeline.planning_ms", durations(relayQs, "queryPlanning"), "ms")

    val stateful = rateQs.flatMap(_.recentProgress).filter(_.stateOperators.nonEmpty)
    val ops = stateful.flatMap(_.stateOperators)
    stateful.lastOption.foreach { p =>
      out.metric("streaming_rate.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble, "count")
      out.metric("streaming_rate.state_memory_bytes",
        p.stateOperators.map(_.memoryUsedBytes).sum.toDouble, "bytes")
    }
    out.metric("streaming_rate.state_commit_ms", ops.map(_.commitTimeMs).sum.toDouble, "ms")
    out.metric("streaming_rate.state_updates_ms", ops.map(_.allUpdatesTimeMs).sum.toDouble, "ms")
    out.metric("streaming_rate.add_batch_ms", durations(rateQs, "addBatch"), "ms")
  }
}
