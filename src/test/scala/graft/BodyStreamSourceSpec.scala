package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{Prompb, RemoteWrite}
import graft.sources.Prompb.{Sample, TimeSeries}
import graft.streaming.{CollectingSink, RelayPipeline}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 remote-write source (SURVEY §2.1's "proper answer"): sequence-
  * number offsets over the body-file directory protocol, driven through the
  * full relay pipeline (VERDICT r02 next-round item 4). */
class BodyStreamSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def body(series: TimeSeries*): Array[Byte] =
    org.xerial.snappy.Snappy.compress(Prompb.encode(series))

  private def writeBodies(dir: String, bodies: Seq[Array[Byte]], from: Int = 0): Unit =
    bodies.zipWithIndex.foreach { case (b, i) =>
      // frontend convention: write hidden temp, rename into place
      val tmp = Paths.get(dir, f".${from + i}%08d.bin.tmp")
      Files.write(tmp, b)
      Files.move(tmp, Paths.get(dir, f"${from + i}%08d.bin"))
    }

  test("batch read: seq/path/body schema, bodies in arrival order") {
    val dir = Files.createTempDirectory("graft-bodies-").toString
    writeBodies(dir, Seq(
      body(TimeSeries(Map("__name__" -> "a"), Seq(Sample(1.0, 1L)))),
      body(TimeSeries(Map("__name__" -> "b"), Seq(Sample(2.0, 2L))))))
    val df = spark.read.format("remote-write-bodies").load(dir)
    assert(df.columns.toSeq == Seq("seq", "path", "body"))
    val rows = df.orderBy("seq").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    val names = RemoteWrite.fromBodies(df.select("body"))
      .select("name").collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("a", "b"))
  }

  test("streaming end-to-end through RelayPipeline with admission control") {
    val dir = Files.createTempDirectory("graft-bodies-").toString
    writeBodies(dir, (1 to 5).map(i =>
      body(TimeSeries(Map("__name__" -> s"m$i", "host" -> "h"),
        Seq(Sample(i.toDouble, i.toLong))))))
    val sink = new CollectingSink
    val q = RelayPipeline.start(spark,
      RemoteWrite.bodyDsv2Stream(spark, dir, maxFilesPerTrigger = 2), sink,
      trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(sink.allLines.size == 5)
    assert((1 to 5).forall(i => sink.allLines.exists(_.contains(s""""name":"m$i""""))))
    // maxFilesPerTrigger=2 over 5 bodies ⇒ at least 3 micro-batches
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
  }

  test("checkpointed restart resumes at the first unprocessed body, no dupes") {
    val dir = Files.createTempDirectory("graft-bodies-").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    writeBodies(dir, Seq(body(TimeSeries(Map("__name__" -> "x"), Seq(Sample(1.0, 1L))))))
    val sink1 = new CollectingSink
    val q1 = RelayPipeline.start(spark,
      RemoteWrite.bodyDsv2Stream(spark, dir), sink1,
      trigger = Trigger.AvailableNow(), checkpointDir = Some(ckpt))
    q1.awaitTermination(60000)
    assert(sink1.allLines.size == 1)

    writeBodies(dir, Seq(body(TimeSeries(Map("__name__" -> "y"), Seq(Sample(2.0, 2L))))),
      from = 1)
    val sink2 = new CollectingSink
    val q2 = RelayPipeline.start(spark,
      RemoteWrite.bodyDsv2Stream(spark, dir), sink2,
      trigger = Trigger.AvailableNow(), checkpointDir = Some(ckpt))
    q2.awaitTermination(60000)
    // only the new body — offset seq=1 was committed by the first run
    assert(sink2.allLines.size == 1)
    assert(sink2.allLines.head.contains(""""name":"y""""))
  }

  test("offset json roundtrips; a plain number is rejected") {
    import graft.sources.BodySeqOffset
    val o = BodySeqOffset(7L, """we"ird\name.bin""", 2L)
    assert(BodySeqOffset.parse(o.json()) == o)
    assert(BodySeqOffset.parse(BodySeqOffset(0L, "").json()) == BodySeqOffset(0L, ""))
    // only the written form parses: plain numbers (ASCII or Unicode
    // digits, in or past Long range), a base-less form and an overflowing
    // seq all fail with the TYPED "unrecognized offset" error, never a raw
    // NumberFormatException
    for (bad <- Seq("42", "٤٢" /* Arabic-Indic 42 */,
                    "99999999999999999999" /* > Long.MaxValue */,
                    """{"seq":3,"hwm":"00000002.bin"}""",
                    """{"seq":99999999999999999999,"hwm":"x","base":0}""")) {
      val e = intercept[IllegalArgumentException](BodySeqOffset.parse(bad))
      assert(e.getMessage.contains("unrecognized"), s"for input '$bad': $e")
    }
  }

  private def threeBodies(dir: String): Unit =
    writeBodies(dir, (0 until 3).map(i =>
      body(TimeSeries(Map("__name__" -> s"m$i"), Seq(Sample(i.toDouble, i.toLong))))))

  test("offset contract: boundaryIndex re-anchors across front-to-back archival") {
    import graft.sources.{BodySeqOffset, BodyStream}
    val dir = Files.createTempDirectory("graft-bodies-").toString
    threeBodies(dir)
    val committed = BodySeqOffset(3L, BodyStream.list(dir).last)
    assert(BodyStream.boundaryIndex(BodyStream.list(dir), committed, dir) == 3)

    // archiving processed bodies front-to-back is LEGAL: the hwm re-anchors
    // the index→file mapping instead of failing (the round-7 contract change
    // that obsoleted the old deletion-refusal case)
    Files.delete(Paths.get(dir, "00000000.bin"))
    assert(BodyStream.boundaryIndex(BodyStream.list(dir), committed, dir) == 2)
    Files.delete(Paths.get(dir, "00000001.bin"))
    assert(BodyStream.boundaryIndex(BodyStream.list(dir), committed, dir) == 1)

    // unprocessed bodies sort after the hwm and never shift the anchor
    writeBodies(dir, Seq(body(TimeSeries(Map("__name__" -> "m3"),
      Seq(Sample(3.0, 3L))))), from = 3)
    assert(BodyStream.boundaryIndex(BodyStream.list(dir), committed, dir) == 1)

    // full drain (hwm archived along with everything before it) anchors at 0
    Files.delete(Paths.get(dir, "00000002.bin"))
    assert(BodyStream.boundaryIndex(BodyStream.list(dir), committed, dir) == 0)
  }

  test("offset contract: hwm archived while earlier files remain fails loudly") {
    import graft.sources.{BodySeqOffset, BodyStream}
    val dir = Files.createTempDirectory("graft-bodies-").toString
    threeBodies(dir)
    val committed = BodySeqOffset(3L, BodyStream.list(dir).last)
    Files.delete(Paths.get(dir, "00000002.bin")) // hwm gone, 0 and 1 remain
    val e = intercept[IllegalStateException](
      BodyStream.boundaryIndex(BodyStream.list(dir), committed, dir))
    assert(e.getMessage.contains("front-to-back"))
  }

  test("offset contract: non-monotonic name insertion fails loudly") {
    import graft.sources.{BodySeqOffset, BodyStream}
    val dir = Files.createTempDirectory("graft-bodies-").toString
    threeBodies(dir)
    val committed = BodySeqOffset(3L, BodyStream.list(dir).last)
    // a file sorting BEFORE the high-water mark re-maps committed indices
    Files.write(Paths.get(dir, "00000001a.bin"), Array[Byte](1))
    val e = intercept[IllegalStateException](
      BodyStream.boundaryIndex(BodyStream.list(dir), committed, dir))
    assert(e.getMessage.contains("non-monotonic"))
  }

  /** Every reader's published retention floor in `dir`. */
  private def floors(dir: String): Seq[graft.sources.BodySeqOffset] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("_archive_floor"))
      .map(p => graft.sources.BodySeqOffset.parse(Files.readString(p))).toVector
    finally s.close()
  }

  test("archiver honors the published floor; restart resumes past archived bodies") {
    import graft.sources.{BodySeqOffset, BodyStream}
    val dir = Files.createTempDirectory("graft-bodies-").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    writeBodies(dir, Seq(
      body(TimeSeries(Map("__name__" -> "old1"), Seq(Sample(1.0, 1L)))),
      body(TimeSeries(Map("__name__" -> "old2"), Seq(Sample(2.0, 2L))))))
    val sink1 = new CollectingSink
    // maxFilesPerTrigger=1 forces ≥2 micro-batches: Spark invokes
    // source.commit(N) when batch N+1 starts, so a single-batch AvailableNow
    // run leaves only the start-offset floor (the marker lags the
    // checkpoint by one batch — conservative, safe for the archiver)
    val q1 = RelayPipeline.start(spark,
      RemoteWrite.bodyDsv2Stream(spark, dir, maxFilesPerTrigger = 1), sink1,
      trigger = Trigger.AvailableNow(), checkpointDir = Some(ckpt))
    q1.awaitTermination(60000)
    assert(sink1.allLines.size == 2)

    // archive exactly what the published floor covers, front-to-back
    val Seq(floor) = floors(dir)
    assert(floor.seq >= 1L && floor.hwm.nonEmpty)
    BodyStream.list(dir).takeWhile(_ <= floor.hwm)
      .foreach(f => Files.delete(Paths.get(dir, f)))

    writeBodies(dir, Seq(body(TimeSeries(Map("__name__" -> "fresh"),
      Seq(Sample(3.0, 3L))))), from = 2)

    val sink2 = new CollectingSink
    val q2 = RelayPipeline.start(spark,
      RemoteWrite.bodyDsv2Stream(spark, dir), sink2,
      trigger = Trigger.AvailableNow(), checkpointDir = Some(ckpt))
    q2.awaitTermination(60000)
    // exactly the new body — no replay attempt against archived files
    assert(sink2.allLines.size == 1)
    assert(sink2.allLines.head.contains(""""name":"fresh""""))
  }

  test("a new reader publishes its start offset as its floor: after a " +
      "one-batch drain, archiving to the lowest floor removes nothing") {
    import graft.sources.BodyStream
    val dir = Files.createTempDirectory("graft-bodies-").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    writeBodies(dir, (1 to 4).map(i =>
      body(TimeSeries(Map("__name__" -> s"m$i"), Seq(Sample(i.toDouble, i.toLong))))))
    val sink = new CollectingSink
    val q = RelayPipeline.start(spark, RemoteWrite.bodyDsv2Stream(spark, dir), sink,
      trigger = Trigger.AvailableNow(), checkpointDir = Some(ckpt))
    q.awaitTermination(60000)
    assert(sink.allLines.size == 4)
    assert(q.recentProgress.count(_.numInputRows > 0) == 1, "one micro-batch")
    // no later batch ran, so Spark never called commit: the floor is the
    // one published at first admission, and it covers nothing
    val Seq(floor) = floors(dir)
    assert(floor.seq == 0L && floor.hwm.isEmpty)
    val before = BodyStream.list(dir)
    before.takeWhile(_ <= floors(dir).map(_.hwm).min)
      .foreach(n => Files.delete(Paths.get(dir, n)))
    assert(BodyStream.list(dir) == before)
  }

  test("two readers of one directory: archiving to the lowest floor loses no body") {
    import graft.sources.BodyStream
    import graft.streaming.RelayMain
    val in = Files.createTempDirectory("graft-bodies-").toString
    val relayCkpt = Files.createTempDirectory("graft-ckpt-relay-").toString
    val rateCkpt = Files.createTempDirectory("graft-ckpt-rate-").toString
    val rateOut = Files.createTempDirectory("graft-rate-").toString + "/out"
    val sink = new CollectingSink
    // body i: one counter sample, value i + 1 at (i + 1) s
    def wave(from: Int, until: Int): Unit = writeBodies(in, (from until until).map(i =>
      body(TimeSeries(Map("__name__" -> "reqs"), Seq(Sample(i + 1.0, (i + 1) * 1000L))))),
      from)
    // two bodies per micro-batch, so each drain commits (and publishes a
    // floor for) its first batch before it stops
    def relay(): Unit = RelayPipeline.start(spark,
      RemoteWrite.bodyDsv2Stream(spark, in, maxFilesPerTrigger = 2), sink,
      trigger = Trigger.AvailableNow(), checkpointDir = Some(relayCkpt)).awaitTermination(60000)
    // the rate twin's transformWithState state needs RocksDB
    def rate(): Unit = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try RelayMain.startAnalytics(spark,
          RemoteWrite.bodyDsv2Stream(spark, in, maxFilesPerTrigger = 2), "rate",
          outDir = rateOut, checkpointDir = rateCkpt, trigger = Trigger.AvailableNow())
        .awaitTermination(60000)
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

    wave(0, 4); relay(); rate()
    wave(4, 8); relay() // rate lags by one wave
    // an archiver takes the lowest published floor and keeps the newest body
    val floor = floors(in).map(_.hwm).min
    val newest = BodyStream.list(in).last
    BodyStream.list(in).takeWhile(n => n <= floor && n != newest)
      .foreach(n => Files.delete(Paths.get(in, n)))
    rate()

    val nSamples = spark.read.schema("name STRING, n_samples BIGINT").json(rateOut)
      .collect().map(_.getLong(1)).max
    assert(nSamples == 8L, "the lagging reader read every body")
    assert(sink.allLines.size == 8)
    assert(floors(in).size == 2, "one floor per reader")
  }

  test("partitions: contiguous groups, at most P, sizes within one, seq order kept") {
    import graft.sources.BodyStream
    import graft.sources.BodyStream.BodyPartition
    for (n <- 0 to 30; p <- 1 to 8) {
      val files = (0 until n).map(i => f"$i%08d.bin")
      val groups = BodyStream.partitions("/d", files, 100L, p)
        .map(_.asInstanceOf[BodyPartition].files)
      withClue(s"n=$n p=$p: ") {
        assert(groups.length == math.min(n, p))
        // concatenated in order, the groups are exactly the slice with its seqs
        assert(groups.flatten.toSeq == files.indices.map(i => (100L + i, files(i))))
        if (n > 0) assert(groups.map(_.size).max - groups.map(_.size).min <= 1)
        if (n <= p) assert(groups.forall(_.size == 1))
      }
    }
    assert(BodyStream.partitions("/d", Vector.empty, 0L, 4).isEmpty)
  }

  test("a 12-body micro-batch on local[4] plans 4 input partitions") {
    val dir = Files.createTempDirectory("graft-bodies-").toString
    writeBodies(dir, (0 until 12).map(i =>
      body(TimeSeries(Map("__name__" -> s"m$i"), Seq(Sample(i.toDouble, i.toLong))))))
    val planned = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val q = RemoteWrite.bodyDsv2Stream(spark, dir).writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        planned.add(b.rdd.getNumPartitions); () }
      .start()
    q.awaitTermination(60000)
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(planned.toArray.toSeq == Seq(4))
  }
}
