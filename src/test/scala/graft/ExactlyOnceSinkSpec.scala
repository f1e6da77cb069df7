package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import graft.streaming.{ExactlyOnceFileSink, RelayPipeline, SinkEntry}
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once delivery ([[ExactlyOnceFileSink]]): replaying a micro-batch
  * must leave the sink BYTE-IDENTICAL — the `batch=<id>` partition-overwrite
  * pattern from the streaming dedup, lifted into the sink seam. */
class ExactlyOnceSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def records(n: Int) = {
    import spark.implicits._
    (0 until n).map(i => (s"m$i", i.toLong, i.toDouble)).toDF("name", "time", "value")
      .selectExpr("name", "time", "value", "map('__name__', name) AS labels")
  }

  /** file name → sha256 of content for every file under the stream dir
    * (keys sidecars included — replays must rewrite those byte-identically
    * too). */
  private def snapshot(dir: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map { p =>
        val h = MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
        Paths.get(dir).relativize(p).toString -> h.map("%02x".format(_)).mkString
      }.toMap
  }

  /** The DATA view — what a Spark glob reads: dot-prefixed keys sidecars
    * excluded. */
  private def dataFiles(dir: String): Set[String] =
    snapshot(dir).keySet.filterNot(
      Paths.get(_).getFileName.toString.startsWith("."))

  private def dataLines(batchDir: java.nio.file.Path): Int = {
    import scala.jdk.CollectionConverters._
    Files.list(batchDir).iterator().asScala
      .filterNot(_.getFileName.toString.startsWith("."))
      .map(p => Files.readAllLines(p).size).sum
  }

  test("replaying the same micro-batch rewrites identical bytes, no duplicates") {
    val dir = Files.createTempDirectory("eo-sink-").toString
    val sink = new ExactlyOnceFileSink(dir, "metrics")
    val df = records(50).coalesce(2)
    RelayPipeline.deliver(df, sink, batchId = 7L)
    val first = snapshot(dir)
    assert(first.nonEmpty && first.keySet.forall(_.contains("batch=7")))

    RelayPipeline.deliver(df, sink, batchId = 7L) // the replay
    assert(snapshot(dir) === first,
      "replay must overwrite the same paths with the same bytes")

    // a DIFFERENT batch id is a different partition directory, not a merge
    RelayPipeline.deliver(df, sink, batchId = 8L)
    val both = snapshot(dir)
    assert(both.size === first.size * 2)
    assert(both.filter(_._1.contains("batch=7")) === first)
  }

  test("a half-delivered previous attempt self-heals on replay") {
    val dir = Files.createTempDirectory("eo-heal-").toString
    val sink = new ExactlyOnceFileSink(dir, "metrics")
    // orphan chunk from a crashed attempt that wrote more chunks than the
    // replay will: chunk 0's cleanup must remove it
    val batchDir = Paths.get(dir, "metrics", "batch=3")
    Files.createDirectories(batchDir)
    Files.write(batchDir.resolve("p00000-c00041.jsonl"), "stale\n".getBytes)

    RelayPipeline.deliver(records(10).coalesce(1), sink, batchId = 3L)
    val files = dataFiles(dir)
    assert(files === Set(Paths.get("metrics", "batch=3", "p00000-c00000.jsonl").toString),
      s"stale chunk must be cleared, got $files")
  }

  test("a replay with FEWER partitions clears the wider attempt's orphans") {
    // ADVICE r09: the per-partition chunk-0 self-heal only reaches the
    // partitions the replay re-runs. If the prior attempt wrote p0..p3 and
    // the replay (changed cpu count / source splits) writes only p0..p1,
    // p2/p3's files would survive and downstream batch=* readers would see
    // duplicates. beginBatch's whole-directory clear closes that hole.
    val dir = Files.createTempDirectory("eo-width-").toString
    val sink = new ExactlyOnceFileSink(dir, "metrics")
    val df = records(40)
    RelayPipeline.deliver(df.repartition(4), sink, batchId = 5L)
    assert(dataFiles(dir).map(Paths.get(_).getFileName.toString) ===
      (0 until 4).map(p => f"p$p%05d-c00000.jsonl").toSet)

    RelayPipeline.deliver(df.repartition(2), sink, batchId = 5L) // narrower replay
    val after = dataFiles(dir).map(Paths.get(_).getFileName.toString)
    assert(after === Set("p00000-c00000.jsonl", "p00001-c00000.jsonl"),
      s"orphans from the 4-partition attempt must not survive, got $after")
    // ...and the wider attempt's keys sidecars were cleared with them
    assert(snapshot(dir).keySet.map(Paths.get(_).getFileName.toString) ===
      after ++ after.map("." + _ + ".keys"))

    // total payload is conserved across the re-partitioned replay
    assert(dataLines(Paths.get(dir, "metrics", "batch=5")) === 40)
  }

  test("chunk limits produce deterministically numbered sibling files") {
    val dir = Files.createTempDirectory("eo-chunks-").toString
    val sink = new ExactlyOnceFileSink(dir, "metrics")
    RelayPipeline.deliver(records(600).coalesce(1), sink, batchId = 0L)
    val names = dataFiles(dir).map(Paths.get(_).getFileName.toString)
    assert(names === Set("p00000-c00000.jsonl", "p00000-c00001.jsonl"),
      "600 entries through the 500-entry chunker = chunks c0 (500) + c1 (100)")
    assert(dataLines(Paths.get(dir, "metrics", "batch=0")) === 600)
  }

  test("firehose delivery leaves keys sidecars that hold only null") {
    val dir = Files.createTempDirectory("eo-firehose-").toString
    val sink = new ExactlyOnceFileSink(dir, "metrics")
    RelayPipeline.deliver(records(50).coalesce(2), sink, firehose = true, batchId = 3L)
    import scala.jdk.CollectionConverters._
    val sidecars = Files.list(Paths.get(dir, "metrics", "batch=3")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".keys")).toSeq
    assert(sidecars.nonEmpty)
    val keys = sidecars.flatMap(p => Files.readAllLines(p).asScala)
    assert(keys.size === 50 && keys.forall(_ == "null"), keys.distinct)
  }

  test("the coordinate-free send path is refused, not silently duplicated") {
    val sink = new ExactlyOnceFileSink("/tmp/unused", "metrics")
    intercept[UnsupportedOperationException](
      sink.send(Seq(SinkEntry(None, "x\n".getBytes))))
  }

  test("keys sidecar escapes control characters — one JSON value per line " +
      "even for keys containing newlines (ADVICE r19)") {
    import graft.streaming.KinesisFileSink
    val dir = Files.createTempDirectory("eo-keys-esc-")
    val f = dir.resolve("x.keys").toFile
    KinesisFileSink.writeKeys(f, Seq(
      SinkEntry(Some("line1\nline2"), Array[Byte]()),
      SinkEntry(Some("tab\there, quote\" and back\\slash"), Array[Byte]()),
      SinkEntry(None, Array[Byte]())))
    val lines = Files.readAllLines(dir.resolve("x.keys"))
    assert(lines.size === 3,
      "a raw newline inside a key must not break entry-order line correspondence")
    assert(lines.get(0) === "\"line1\\u000aline2\"")
    assert(lines.get(1) === "\"tab\\u0009here, quote\\\" and back\\\\slash\"")
    assert(lines.get(2) === "null")
  }

  test("at-most-once drops the WHOLE batch on a sidecar failure — no " +
      "orphan data file (review catch: the data chunk committed before " +
      "writeKeys, so a sidecar error half-DELIVERED a batch the log " +
      "recorded as dropped)") {
    import graft.streaming.KinesisFileSink
    val dir = Files.createTempDirectory("amo-torn-").toString
    val boom = new KinesisFileSink(dir, "s",
      keysWriter = (_, _) => throw new java.io.IOException("disk full"))
    boom.send(Seq(SinkEntry(Some("k"), "x\n".getBytes)))   // must NOT throw
    val left = Option(new java.io.File(dir, "s").listFiles()).toSeq.flatten
    assert(left.isEmpty,
      s"a failed send must leave nothing behind, found: ${left.mkString(", ")}")
    // same when the sidecar was already created before the failure
    val late = new KinesisFileSink(dir, "s", keysWriter = (f, _) => {
      new java.io.FileOutputStream(f).close()
      throw new java.io.IOException("disk full after create")
    })
    late.send(Seq(SinkEntry(Some("k"), "x\n".getBytes)))
    val left2 = Option(new java.io.File(dir, "s").listFiles()).toSeq.flatten
    assert(left2.isEmpty,
      s"a failed send must retract the created sidecar too, found: ${left2.mkString(", ")}")
    // and the happy path still writes the pair
    new KinesisFileSink(dir, "s").send(Seq(SinkEntry(Some("k"), "x\n".getBytes)))
    val names = new java.io.File(dir, "s").listFiles().map(_.getName).toSeq
    assert(names.count(_.endsWith(".jsonl")) === 1)
    assert(names.count(n => n.startsWith(".") && n.endsWith(".keys")) === 1)
  }

  test("keys sidecar I/O errors PROPAGATE (ADVICE r19: the PrintStream " +
      "encoder swallowed them, committing data chunks with lost sidecars)") {
    import graft.streaming.KinesisFileSink
    val boom = new java.io.Writer {
      def write(cbuf: Array[Char], off: Int, len: Int): Unit =
        throw new java.io.IOException("disk error")
      def flush(): Unit = ()
      def close(): Unit = ()
    }
    intercept[java.io.IOException](KinesisFileSink.writeKeysTo(boom,
      Seq(SinkEntry(Some("k"), Array[Byte]()))))
  }
}
