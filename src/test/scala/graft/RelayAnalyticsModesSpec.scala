package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.sources.Prompb.{Sample, TimeSeries}
import graft.sources.{HttpFrontend, Prompb, RemoteWrite}
import graft.streaming.RelayMain
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The runnable one-binary analytics surface (RelayMain --analytics):
  * real POSTs to the HTTP frontend → body files → DSv2 source → decode →
  * full-label adapter → transformWithState operator → JSON-lines output,
  * checkpointed on RocksDB — including a restart that must CONTINUE the
  * operator state, the property that makes the mode a service rather than
  * a batch job. */
class RelayAnalyticsModesSpec extends AnyFunSuite {
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

  private def body(series: TimeSeries*): Array[Byte] =
    org.xerial.snappy.Snappy.compress(Prompb.encode(series))

  private def post(port: Int, bytes: Array[Byte]): Int =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/receive"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(bytes)).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode()

  /** One drain-mode run of the analytics publisher, like
    * `RelayMain --write-interval 0 --analytics <mode>`. */
  private def runOnce(inDir: String, mode: String, outDir: String, ckpt: String): Unit = {
    val q = RelayMain.startAnalytics(spark,
      RemoteWrite.bodyDsv2Stream(spark, inDir), mode,
      outDir = outDir, checkpointDir = ckpt, trigger = Trigger.AvailableNow())
    try q.processAllAvailable() finally q.stop()
  }

  test("POST → rate analytic JSON, and a checkpointed restart continues the totals") {
    withRocksDb {
      val inDir = Files.createTempDirectory("ra-modes-in-").toString
      val outDir = Files.createTempDirectory("ra-modes-out-").toString + "/analytics-rate"
      val ckpt = Files.createTempDirectory("ra-modes-ckpt-").toString
      val schema = StructType.fromDDL(
        "name STRING, user_id BIGINT, n_samples BIGINT, n_resets BIGINT, " +
          "n_late BIGINT, total_increase DOUBLE, rate_per_sec DOUBLE")

      val f = new HttpFrontend(inDir, 0)
      f.start()
      try {
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "reqs", "job" -> "api"),
            Seq(Sample(10.0, 1000L), Sample(12.0, 2000L))))) == 200)
        runOnce(inDir, "rate", outDir, ckpt)
        val first = spark.read.schema(schema).json(outDir).collect()
        assert(first.length == 1)
        assert(first.head.getAs[Long]("n_samples") == 2L)
        assert(first.head.getAs[Double]("total_increase") == 2.0)

        // second wave: a counter reset POSTed after the first run; the
        // restarted query must resume BOTH source offsets (not re-reading
        // body 0) and operator state (reset detected against value 12)
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "reqs", "job" -> "api"),
            Seq(Sample(3.0, 3000L))))) == 200)
        runOnce(inDir, "rate", outDir, ckpt)
        val rows = spark.read.schema(schema).json(outDir).collect()
        assert(rows.length == 2, "one update row per run, no replays")
        val last = rows.maxBy(_.getAs[Long]("n_samples"))
        assert(last.getAs[Long]("n_samples") == 3L)
        assert(last.getAs[Long]("n_resets") == 1L)
        assert(last.getAs[Double]("total_increase") == 5.0)
        assert(last.getAs[Double]("rate_per_sec") == 2.5)
      } finally f.stop()
    }
  }

  test("POST → topk analytic JSON: dominant label set ranks first") {
    withRocksDb {
      val inDir = Files.createTempDirectory("ra-topk-in-").toString
      val outDir = Files.createTempDirectory("ra-topk-out-").toString + "/analytics-topk"
      val ckpt = Files.createTempDirectory("ra-topk-ckpt-").toString

      val f = new HttpFrontend(inDir, 0)
      f.start()
      try {
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "reqs", "job" -> "api"),
            Seq(Sample(1.0, 1000L), Sample(2.0, 2000L), Sample(3.0, 3000L))),
          TimeSeries(Map("__name__" -> "reqs", "job" -> "web"),
            Seq(Sample(1.0, 1000L))))) == 200)
        runOnce(inDir, "topk", outDir, ckpt)
        val rows = spark.read
          .schema(StructType.fromDDL(
            "group STRING, token STRING, count BIGINT, error BIGINT, rank INT"))
          .json(outDir).collect().sortBy(_.getAs[Int]("rank"))
        assert(rows.head.getAs[String]("token") === """{__name__="reqs",job="api"}""")
        assert(rows.head.getAs[Long]("count") === 3L)
        assert(rows.map(_.getAs[String]("group")).toSet === Set("reqs"))
      } finally f.stop()
    }
  }

  test("POST → topk-rate analytic JSON: hottest series by current rate") {
    withRocksDb {
      val inDir = Files.createTempDirectory("ra-tkr-in-").toString
      val outDir = Files.createTempDirectory("ra-tkr-out-").toString + "/analytics-topk-rate"
      val ckpt = Files.createTempDirectory("ra-tkr-ckpt-").toString

      val f = new HttpFrontend(inDir, 0)
      f.start()
      try {
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "reqs", "job" -> "api"),
            Seq(Sample(0.0, 0L), Sample(10.0, 2000L))),   // 5/s
          TimeSeries(Map("__name__" -> "reqs", "job" -> "web"),
            Seq(Sample(0.0, 0L), Sample(4.0, 2000L))))) == 200) // 2/s
        runOnce(inDir, "topk-rate", outDir, ckpt)
        val rows = spark.read
          .schema(StructType.fromDDL(
            "name STRING, user_id BIGINT, rate_per_sec DOUBLE, rank INT"))
          .json(outDir).collect().sortBy(_.getAs[Int]("rank"))
        assert(rows.length == 2)
        assert(rows.head.getAs[Double]("rate_per_sec") === 5.0)
        assert(rows.head.getAs[Int]("rank") === 1)
        assert(rows(1).getAs[Double]("rate_per_sec") === 2.0)
        assert(rows.map(_.getAs[Long]("user_id")).distinct.length == 2,
          "full-label identity separates the two job label sets")
      } finally f.stop()
    }
  }

  test("POST → histogram analytic JSON: bucketed p95 per metric-hour") {
    withRocksDb {
      val inDir = Files.createTempDirectory("ra-hist-in-").toString
      val outDir = Files.createTempDirectory("ra-hist-out-").toString + "/analytics-histogram"
      val ckpt = Files.createTempDirectory("ra-hist-ckpt-").toString

      val f = new HttpFrontend(inDir, 0)
      f.start()
      try {
        // latencies 1..20 ms in one hour → the q98 planted answer 23.5
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "latency", "job" -> "api"),
            (1 to 20).map(i => Sample(i.toDouble, i * 1000L))))) == 200)
        runOnce(inDir, "histogram", outDir, ckpt)
        val rows = spark.read
          .schema(StructType.fromDDL(
            "name STRING, hour_us BIGINT, n_samples BIGINT, p95 DOUBLE"))
          .json(outDir).collect()
        val last = rows.maxBy(_.getAs[Long]("n_samples"))
        assert(last.getAs[String]("name") === "latency")
        assert(last.getAs[Long]("n_samples") === 20L)
        assert(last.getAs[Double]("p95") === 23.5)
      } finally f.stop()
    }
  }

  test("POST → predict analytic JSON: planted line extrapolates") {
    withRocksDb {
      val inDir = Files.createTempDirectory("ra-pred-in-").toString
      val outDir = Files.createTempDirectory("ra-pred-out-").toString + "/analytics-predict"
      val ckpt = Files.createTempDirectory("ra-pred-ckpt-").toString

      val f = new HttpFrontend(inDir, 0)
      f.start()
      try {
        // value = 2 + 0.5·x at x = 0..30 s → predict_5m = 2 + 0.5·330 = 167
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "disk", "job" -> "db"),
            Seq(Sample(2.0, 0L), Sample(7.0, 10000L),
              Sample(12.0, 20000L), Sample(17.0, 30000L))))) == 200)
        runOnce(inDir, "predict", outDir, ckpt)
        val rows = spark.read
          .schema(StructType.fromDDL(
            "name STRING, user_id BIGINT, n_samples BIGINT, " +
              "slope_per_sec DOUBLE, intercept DOUBLE, predict_5m DOUBLE"))
          .json(outDir).collect()
        val last = rows.maxBy(_.getAs[Long]("n_samples"))
        assert(last.getAs[String]("name") === "disk")
        assert(last.getAs[Double]("slope_per_sec") === 0.5)
        assert(last.getAs[Double]("predict_5m") === 167.0)
      } finally f.stop()
    }
  }

  test("POST → holt-winters analytic JSON: the fold smooths the posted series") {
    withRocksDb {
      val inDir = Files.createTempDirectory("ra-hw-in-").toString
      val outDir = Files.createTempDirectory("ra-hw-out-").toString + "/analytics-holt-winters"
      val ckpt = Files.createTempDirectory("ra-hw-ckpt-").toString

      val f = new HttpFrontend(inDir, 0)
      f.start()
      try {
        // the q106 planted fixture: [10,20,5,8] folds to level 24.625,
        // trend 9.25 (hand-computed in PromBatchFnsSpec)
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "ctr", "job" -> "db"),
            Seq(Sample(10.0, 0L), Sample(20.0, 10000L),
              Sample(5.0, 20000L), Sample(8.0, 30000L))))) == 200)
        runOnce(inDir, "holt-winters", outDir, ckpt)
        val rows = spark.read
          .schema(StructType.fromDDL(
            "name STRING, user_id BIGINT, n_samples BIGINT, n_late BIGINT, " +
              "smoothed DOUBLE, trend DOUBLE"))
          .json(outDir).collect()
        val last = rows.maxBy(_.getAs[Long]("n_samples"))
        assert(last.getAs[String]("name") === "ctr")
        assert(last.getAs[Long]("n_samples") === 4L)
        assert(last.getAs[Double]("smoothed") === 24.625)
        assert(last.getAs[Double]("trend") === 9.25)
      } finally f.stop()
    }
  }

  test("POST → ratio analytic JSON: metrics match on the label set minus __name__") {
    withRocksDb {
      val inDir = Files.createTempDirectory("ra-ratio-in-").toString
      val outDir = Files.createTempDirectory("ra-ratio-out-").toString + "/analytics-ratio"
      val ckpt = Files.createTempDirectory("ra-ratio-ckpt-").toString

      val f = new HttpFrontend(inDir, 0)
      f.start()
      try {
        // same job label on both metrics → they must match despite the
        // differing __name__; error rate 2/s over click rate 4/s = 0.5
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "error", "job" -> "api"),
            Seq(Sample(0.0, 0L), Sample(20.0, 10000L))),
          TimeSeries(Map("__name__" -> "click", "job" -> "api"),
            Seq(Sample(0.0, 0L), Sample(40.0, 10000L))))) == 200)
        runOnce(inDir, "ratio", outDir, ckpt)
        val rows = spark.read
          .schema(StructType.fromDDL(
            "user_id BIGINT, error_rate DOUBLE, click_rate DOUBLE, ratio DOUBLE"))
          .json(outDir).collect()
        assert(rows.length == 1, rows.mkString(","))
        assert(rows.head.getAs[Double]("error_rate") === 2.0)
        assert(rows.head.getAs[Double]("click_rate") === 4.0)
        assert(rows.head.getAs[Double]("ratio") === 0.5)
      } finally f.stop()
    }
  }

  test("POST → range-eval analytic JSON: the continuous q100 grid") {
    withRocksDb {
      val inDir = Files.createTempDirectory("ra-grid-in-").toString
      val outDir = Files.createTempDirectory("ra-grid-out-").toString + "/analytics-range-eval"
      val ckpt = Files.createTempDirectory("ra-grid-ckpt-").toString

      val f = new HttpFrontend(inDir, 0)
      f.start()
      try {
        // counter 0 → 10 with the delta at t = 2 s: visible from the four
        // aligned 6 h steps whose trailing 24 h window holds it
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "reqs", "job" -> "api"),
            Seq(Sample(0.0, 0L), Sample(10.0, 2000L))))) == 200)
        runOnce(inDir, "range-eval", outDir, ckpt)
        val rows = spark.read
          .schema(StructType.fromDDL(
            "name STRING, step_sec BIGINT, n_series BIGINT, n_samples BIGINT, " +
              "total_increase DOUBLE, rate_per_sec DOUBLE"))
          .json(outDir).collect().sortBy(_.getAs[Long]("step_sec"))
        assert(rows.map(_.getAs[Long]("step_sec")).toSeq ==
          Seq(21600L, 43200L, 64800L, 86400L))
        rows.foreach { r =>
          assert(r.getAs[String]("name") === "reqs")
          assert(r.getAs[Long]("n_series") === 1L)
          assert(r.getAs[Double]("total_increase") === 10.0)
          assert(r.getAs[Double]("rate_per_sec") === 0.000116)
        }
      } finally f.stop()
    }
  }

  test("changelog checkpointing: rate mode runs and restarts") {
    withRocksDb {
      // Spark's own key, for remote checkpoint dirs (SURVEY §6.7 study):
      // delta-upload commits must survive a restart exactly like
      // full-snapshot commits
      val key = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      try {
        val inDir = Files.createTempDirectory("ra-clog-in-").toString
        val outDir = Files.createTempDirectory("ra-clog-out-").toString + "/analytics-rate"
        val ckpt = Files.createTempDirectory("ra-clog-ckpt-").toString
        val schema = StructType.fromDDL(
          "name STRING, user_id BIGINT, n_samples BIGINT, n_resets BIGINT, " +
            "n_late BIGINT, total_increase DOUBLE, rate_per_sec DOUBLE")
        val f = new HttpFrontend(inDir, 0)
        f.start()
        try {
          assert(post(f.boundPort, body(
            TimeSeries(Map("__name__" -> "reqs", "job" -> "api"),
              Seq(Sample(10.0, 1000L), Sample(12.0, 2000L))))) == 200)
          runOnce(inDir, "rate", outDir, ckpt)
          assert(post(f.boundPort, body(
            TimeSeries(Map("__name__" -> "reqs", "job" -> "api"),
              Seq(Sample(15.0, 3000L))))) == 200)
          runOnce(inDir, "rate", outDir, ckpt) // restart replays the changelog
          val last = spark.read.schema(schema).json(outDir).collect()
            .maxBy(_.getAs[Long]("n_samples"))
          assert(last.getAs[Long]("n_samples") == 3L)
          assert(last.getAs[Double]("total_increase") == 5.0)
        } finally f.stop()
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("changelog checkpointing: two drains give snapshot-mode rate totals") {
    // a deployment passes this Spark key as --conf; each side runs on a
    // session of its own, with RocksDB like RelayMain
    def session(changelog: Boolean) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        changelog.toString)
      s
    }
    val sides = Seq(false, true).map { changelog =>
      (session(changelog),
        Files.createTempDirectory("ra-clog-out-").toString + "/analytics-rate",
        Files.createTempDirectory("ra-clog-ckpt-").toString)
    }
    val inDir = Files.createTempDirectory("ra-clog-in-").toString
    // six counters; the second wave resets the odd ones
    def wave(w: Int): Array[Byte] = body((0 until 6).map { c =>
      val (v0, step) = if (w == 1 || c % 2 == 0) (10.0 * c + 5 * w, 1.5) else (1.0, 0.5)
      TimeSeries(Map("__name__" -> "reqs", "job" -> s"j$c"),
        (0 until 4).map(k => Sample(v0 + k * step, (w * 10 + k) * 1000L)))
    }: _*)
    val f = new HttpFrontend(inDir, 0)
    f.start()
    try for (w <- 1 to 2) {
      assert(post(f.boundPort, wave(w)) == 200)
      for ((s, out, ckpt) <- sides) {
        val q = RelayMain.startAnalytics(s, RemoteWrite.bodyDsv2Stream(s, inDir), "rate",
          outDir = out, checkpointDir = ckpt, trigger = Trigger.AvailableNow())
        try q.processAllAvailable() finally q.stop()
      }
    } finally f.stop()

    val schema = StructType.fromDDL(
      "name STRING, user_id BIGINT, n_samples BIGINT, n_resets BIGINT, " +
        "n_late BIGINT, total_increase DOUBLE, rate_per_sec DOUBLE")
    val Seq(snapshot, changelog) = sides.map { case (_, out, _) =>
      spark.read.schema(schema).json(out).collect().toSeq
        .groupBy(_.getAs[Long]("user_id")).values
        .map(_.maxBy(_.getAs[Long]("n_samples")))
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_samples"),
          r.getAs[Long]("n_resets"), r.getAs[Double]("total_increase")))
        .toSeq.sortBy(_._1)
    }
    assert(snapshot.size == 6 && snapshot.forall(_._2 == 8L), snapshot)
    assert(snapshot.map(_._3).sum == 3L, "the three odd counters reset once each")
    assert(changelog == snapshot)
  }

  test("POST → compact analytic JSON: latest value per series, restart keeps versions") {
    withRocksDb {
      val inDir = Files.createTempDirectory("ra-cpt-in-").toString
      val outDir = Files.createTempDirectory("ra-cpt-out-").toString + "/analytics-compact"
      val ckpt = Files.createTempDirectory("ra-cpt-ckpt-").toString
      val schema = StructType.fromDDL(
        "user_id BIGINT, last_event_id BIGINT, last_type STRING, " +
          "last_value DOUBLE, last_us BIGINT, n_versions BIGINT")
      val f = new HttpFrontend(inDir, 0)
      f.start()
      try {
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "temp", "host" -> "a"),
            Seq(Sample(20.0, 1000L), Sample(21.5, 2000L))))) == 200)
        runOnce(inDir, "compact", outDir, ckpt)
        val first = spark.read.schema(schema).json(outDir).collect()
        assert(first.length == 1)
        assert(first.head.getAs[Double]("last_value") == 21.5)
        assert(first.head.getAs[Long]("n_versions") == 2L)

        // an OLDER sample arrives after the restart: version counted,
        // value NOT overwritten (max_by is order-insensitive)
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "temp", "host" -> "a"),
            Seq(Sample(19.0, 1500L))))) == 200)
        runOnce(inDir, "compact", outDir, ckpt)
        val last = spark.read.schema(schema).json(outDir).collect()
          .maxBy(_.getAs[Long]("n_versions"))
        assert(last.getAs[Long]("n_versions") == 3L)
        assert(last.getAs[Double]("last_value") == 21.5)
        assert(last.getAs[Long]("last_us") == 2000000L)
      } finally f.stop()
    }
  }

  test("POST → downsample analytic JSON: per-bucket OHLC, out-of-order open kept") {
    withRocksDb {
      val inDir = Files.createTempDirectory("ra-ds-in-").toString
      val outDir = Files.createTempDirectory("ra-ds-out-").toString + "/analytics-downsample"
      val ckpt = Files.createTempDirectory("ra-ds-ckpt-").toString
      val schema = StructType.fromDDL(
        "event_type STRING, bucket_us BIGINT, open DOUBLE, high DOUBLE, " +
          "low DOUBLE, close DOUBLE, n BIGINT")
      val f = new HttpFrontend(inDir, 0)
      f.start()
      try {
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "temp", "host" -> "a"),
            Seq(Sample(20.0, 5000L), Sample(25.0, 9000L))))) == 200)
        runOnce(inDir, "downsample", outDir, ckpt)
        // an EARLIER sample arrives across a restart: becomes the open
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "temp", "host" -> "a"),
            Seq(Sample(1.0, 2000L))))) == 200)
        runOnce(inDir, "downsample", outDir, ckpt)
        val last = spark.read.schema(schema).json(outDir).collect()
          .maxBy(_.getAs[Long]("n"))
        assert(last.getAs[String]("event_type") == "temp")
        assert(last.getAs[Long]("bucket_us") == 0L)
        assert(last.getAs[Double]("open") == 1.0)   // late-but-earlier sample
        assert(last.getAs[Double]("high") == 25.0)
        assert(last.getAs[Double]("low") == 1.0)
        assert(last.getAs[Double]("close") == 25.0)
        assert(last.getAs[Long]("n") == 3L)
      } finally f.stop()
    }
  }

  test("POST → cardinality analytic JSON: day panes count distinct active series") {
    withRocksDb {
      val inDir = Files.createTempDirectory("ra-card-in-").toString
      val outDir = Files.createTempDirectory("ra-card-out-").toString + "/analytics-cardinality"
      val ckpt = Files.createTempDirectory("ra-card-ckpt-").toString
      val schema = StructType.fromDDL("day BIGINT, n_hashes INT")
      val f = new HttpFrontend(inDir, 0)
      f.start()
      try {
        // three distinct series on epoch day 0, one of them re-reporting —
        // the pane must count 3 distinct, not 4 samples
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "m", "host" -> "a"), Seq(Sample(1.0, 1000L))),
          TimeSeries(Map("__name__" -> "m", "host" -> "b"), Seq(Sample(1.0, 2000L))),
          TimeSeries(Map("__name__" -> "m", "host" -> "a"), Seq(Sample(2.0, 3000L))),
          TimeSeries(Map("__name__" -> "n", "host" -> "a"), Seq(Sample(1.0, 4000L))))) == 200)
        runOnce(inDir, "cardinality", outDir, ckpt)
        val rows = spark.read.schema(schema).json(outDir).collect()
        assert(rows.length == 1 && rows.head.getAs[Long]("day") == 0L)
        assert(rows.head.getAs[Int]("n_hashes") == 3)
      } finally f.stop()
    }
  }

  test("two modes run CONCURRENTLY in one process with isolated checkpoints " +
      "(the comma-list deployment), and both restart from their own state") {
    // RelayMain --analytics compact,downsample starts one query per mode,
    // each with its own reader, offsets, and state store over the SAME
    // body directory — like two consumer groups. This pins the isolation a
    // deployer actually relies on: both queries IN FLIGHT at once in one
    // SparkSession, neither stealing the other's offsets or state, and a
    // second wave continuing BOTH states across a restart.
    withRocksDb {
      val inDir = Files.createTempDirectory("ra-multi-in-").toString
      val outRoot = Files.createTempDirectory("ra-multi-out-").toString
      val modes = Seq("compact", "downsample")
      def runBoth(): Unit = {
        val qs = modes.map { mode =>
          RelayMain.startAnalytics(spark,
            RemoteWrite.bodyDsv2Stream(spark, inDir), mode,
            outDir = s"$outRoot/analytics-$mode",
            checkpointDir = s"$outRoot/_analytics_checkpoint-$mode",
            trigger = Trigger.AvailableNow())
        }
        try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
      }
      val compactSchema = StructType.fromDDL(
        "user_id BIGINT, last_event_id BIGINT, last_type STRING, " +
          "last_value DOUBLE, last_us BIGINT, n_versions BIGINT")
      val dsSchema = StructType.fromDDL(
        "event_type STRING, bucket_us BIGINT, open DOUBLE, high DOUBLE, " +
          "low DOUBLE, close DOUBLE, n BIGINT")
      val f = new HttpFrontend(inDir, 0)
      f.start()
      try {
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "temp", "host" -> "a"),
            Seq(Sample(20.0, 1000L), Sample(25.0, 2000L))))) == 200)
        runBoth()
        val c1 = spark.read.schema(compactSchema).json(s"$outRoot/analytics-compact").collect()
        assert(c1.length == 1 && c1.head.getAs[Long]("n_versions") == 2L)
        assert(c1.head.getAs[Double]("last_value") == 25.0)
        val d1 = spark.read.schema(dsSchema).json(s"$outRoot/analytics-downsample").collect()
        assert(d1.length == 1 && d1.head.getAs[Long]("n") == 2L)
        assert(d1.head.getAs[Double]("open") == 20.0 && d1.head.getAs[Double]("close") == 25.0)

        // second wave across a restart of BOTH queries: an older sample —
        // compact must keep 25.0 as latest, downsample must adopt 15.0 as
        // the bucket's new low, and both must NOT re-read body 0.
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "temp", "host" -> "a"),
            Seq(Sample(15.0, 1500L))))) == 200)
        runBoth()
        val c2 = spark.read.schema(compactSchema).json(s"$outRoot/analytics-compact")
          .collect().maxBy(_.getAs[Long]("n_versions"))
        assert(c2.getAs[Long]("n_versions") == 3L)
        assert(c2.getAs[Double]("last_value") == 25.0)
        val d2 = spark.read.schema(dsSchema).json(s"$outRoot/analytics-downsample")
          .collect().maxBy(_.getAs[Long]("n"))
        assert(d2.getAs[Long]("n") == 3L)
        assert(d2.getAs[Double]("low") == 15.0 && d2.getAs[Double]("close") == 25.0)
      } finally f.stop()
    }
  }

  test("POST → trend analytic JSON: a planted line fits exactly, and a restart " +
      "resumes BOTH the moments and the open day's count") {
    withRocksDb {
      val inDir = Files.createTempDirectory("ra-tr-in-").toString
      val outDir = Files.createTempDirectory("ra-tr-out-").toString + "/analytics-trend"
      val ckpt = Files.createTempDirectory("ra-tr-ckpt-").toString
      val schema = StructType.fromDDL(
        "group STRING, day BIGINT, n_days BIGINT, slope DOUBLE, " +
          "intercept DOUBLE, r2 DOUBLE, forecast_next DOUBLE, n_late BIGINT")
      def dayMs(d: Long, i: Long = 0) = d * 86400000L + i
      val f = new HttpFrontend(inDir, 0)
      f.start()
      try {
        // daily sample VOLUME on the line y = 2 + 2d: d0:2, d1:4, d2:6,
        // plus one day-3 sample that opens (but does not seal) day 3
        val wave1 = (0 until 2).map(i => Sample(1.0, dayMs(0, i))) ++
          (0 until 4).map(i => Sample(1.0, dayMs(1, i))) ++
          (0 until 6).map(i => Sample(1.0, dayMs(2, i))) :+ Sample(1.0, dayMs(3))
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "reqs"), wave1))) == 200)
        runOnce(inDir, "trend", outDir, ckpt)
        val first = spark.read.schema(schema).json(outDir).collect()
          .map(r => r.getAs[Long]("day") ->
            ((r.getAs[Long]("n_days"), r.getAs[Double]("slope"),
              r.getAs[Double]("intercept"), r.getAs[Double]("r2"),
              r.getAs[Double]("forecast_next")))).toMap
        assert(first == Map(
          1L -> ((2L, 2.0, 2.0, 1.0, 6.0)),
          2L -> ((3L, 2.0, 2.0, 1.0, 8.0))), s"wave1: $first")

        // restart: 7 more day-3 samples (8 total — still on the line) and
        // a day-4 sealer; the moments AND day 3's open count must resume
        val wave2 = (1 until 8).map(i => Sample(1.0, dayMs(3, i))) :+ Sample(1.0, dayMs(4))
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "reqs"), wave2))) == 200)
        runOnce(inDir, "trend", outDir, ckpt)
        val d3 = spark.read.schema(schema).json(outDir).collect()
          .filter(_.getAs[Long]("day") == 3L)
        assert(d3.length == 1)
        val r = d3.head
        assert(r.getAs[Long]("n_days") == 4L && r.getAs[Double]("slope") == 2.0
          && r.getAs[Double]("intercept") == 2.0 && r.getAs[Double]("r2") == 1.0
          && r.getAs[Double]("forecast_next") == 10.0, s"day3: $r")
      } finally f.stop()
    }
  }

  test("POST → drift analytic JSON: the reference day survives a restart and " +
      "a shifted day trips the KS decision") {
    withRocksDb {
      val inDir = Files.createTempDirectory("ra-dr-in-").toString
      val outDir = Files.createTempDirectory("ra-dr-out-").toString + "/analytics-drift"
      val ckpt = Files.createTempDirectory("ra-dr-ckpt-").toString
      val schema = StructType.fromDDL(
        "group STRING, day BIGINT, n_ref BIGINT, n_day BIGINT, " +
          "d_stat DOUBLE, psi DOUBLE, drifted BOOLEAN")
      def dayMs(d: Long, i: Long = 0) = d * 86400000L + i
      val f = new HttpFrontend(inDir, 0)
      f.start()
      try {
        // day 0 (reference) and day 1: four values ~$5-8 (bin 0 of the
        // $100-wide default bins); day 2 opens with four ~$500 values
        // (bin 5) but does NOT seal in this run
        val low = Seq(5.0, 6.0, 7.0, 8.0)
        val wave1 =
          low.zipWithIndex.map { case (v, i) => Sample(v, dayMs(0, i)) } ++
          low.zipWithIndex.map { case (v, i) => Sample(v, dayMs(1, i)) } ++
          low.zipWithIndex.map { case (v, i) => Sample(v + 495.0, dayMs(2, i)) }
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "latency"), wave1))) == 200)
        runOnce(inDir, "drift", outDir, ckpt)
        val first = spark.read.schema(schema).json(outDir).collect()
        assert(first.length == 1, s"only day 1 seals in run 1: ${first.toSeq}")
        assert(first.head.getAs[Long]("day") == 1L
          && first.head.getAs[Double]("d_stat") == 0.0
          && !first.head.getAs[Boolean]("drifted"), s"day1: ${first.head}")

        // restart: a day-3 opener seals day 2 — the restored reference
        // histogram (learned before the restart) must flag the full shift:
        // D = 1 > 1.358·√(8/16) ≈ 0.96
        assert(post(f.boundPort, body(
          TimeSeries(Map("__name__" -> "latency"), Seq(Sample(5.0, dayMs(3)))))) == 200)
        runOnce(inDir, "drift", outDir, ckpt)
        val rows = spark.read.schema(schema).json(outDir).collect()
          .map(r => r.getAs[Long]("day") ->
            ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_day"),
              r.getAs[Double]("d_stat"), r.getAs[Boolean]("drifted")))).toMap
        assert(rows(2L) == ((4L, 4L, 1.0, true)), s"day2: ${rows.get(2L)}")
        assert(rows.keySet == Set(1L, 2L), s"days: ${rows.keySet}")
      } finally f.stop()
    }
  }

  test("an unknown analytics mode is rejected loudly") {
    val records = spark.range(1).selectExpr("'m' AS name", "1L AS time",
      "1.0 AS value", "map('__name__','m') AS labels")
    val e = intercept[RuntimeException](RelayMain.analyticsFrame(records, "sketchy"))
    assert(e.getMessage.contains("sketchy"))
  }
}
