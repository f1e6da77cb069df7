package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.sources.{Prompb, RemoteWrite}
import graft.sources.Prompb.{Sample, TimeSeries}
import graft.streaming.{LocalFirstCheckpointFileManager, RecordSink, RelayPipeline, SinkEntry, StreamSession}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Records, per drain, the context classloader of every task that sends a
  * chunk. Tasks run in this JVM (`local[4]`), so the log is a static. */
final class LoaderRecordingSink(drain: Int) extends RecordSink {
  def send(batch: Seq[SinkEntry]): Unit =
    LoaderRecordingSink.seen.add(drain -> Thread.currentThread.getContextClassLoader)
}

object LoaderRecordingSink {
  val seen = new ConcurrentLinkedQueue[(Int, ClassLoader)]()
}

/** [[StreamSession.prepare]]: restarted drains share one task classloader,
  * so `CodeGenerator`'s cache (keyed by classloader and source) hits and a
  * warm drain compiles nothing; explicit session settings are kept. */
class StreamSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("restarted relay drains run on one task classloader and a warm drain compiles nothing") {
    val session = spark.newSession()
    val in = Files.createTempDirectory("graft-ss-in-").toString
    val ckpt = Files.createTempDirectory("graft-ss-ckpt-").toString
    // four bodies per drain, so each drain plans several input partitions
    def writeBodies(drain: Int): Unit = (0 until 4).foreach { b =>
      val i = drain * 4 + b
      val tmp = Paths.get(in, f".$i%08d.bin.tmp")
      Files.write(tmp, org.xerial.snappy.Snappy.compress(Prompb.encode(
        (0 until 50).map(s => TimeSeries(Map("__name__" -> s"m$s", "job" -> "api"),
          Seq(Sample(i.toDouble, (i + 1) * 1000L)))))))
      Files.move(tmp, Paths.get(in, f"$i%08d.bin"))
    }
    def drain(n: Int): Long = {
      writeBodies(n)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q = RelayPipeline.start(session, RemoteWrite.bodyDsv2Stream(session, in),
        new LoaderRecordingSink(n), trigger = Trigger.AvailableNow(),
        checkpointDir = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }

    LoaderRecordingSink.seen.clear()
    (1 to 2).foreach(drain)
    val compiles3 = drain(3)
    val seen = LoaderRecordingSink.seen.asScala.toSeq
    LoaderRecordingSink.seen.clear()
    (1 to 3).foreach(n => assert(seen.exists(_._1 == n), s"drain $n sent nothing"))
    val loaders = seen.filter(_._1 >= 2).map(_._2).distinct
    assert(loaders.size == 1,
      s"drains 2 and 3 ran on ${loaders.size} task classloaders: ${loaders.mkString(", ")}")
    assert(compiles3 == 0L, s"drain 3 compiled $compiles3 classes")
  }

  test("prepare sets Spark's two keys on a fresh session, and keeps what a session set") {
    val Isolation = StreamSession.ArtifactIsolationKey
    val Manager = LocalFirstCheckpointFileManager.ConfKey

    val fresh = spark.newSession()
    StreamSession.prepare(fresh)
    assert(fresh.conf.get(Isolation) == "false")
    assert(fresh.conf.get(Manager) == classOf[LocalFirstCheckpointFileManager].getName)

    // `true` is Spark's default, so only `getAll` shows it was set
    val explicit = spark.newSession()
    explicit.conf.set(Isolation, "true")
    explicit.conf.set(Manager, "some.other.Manager")
    StreamSession.prepare(explicit)
    assert(explicit.conf.get(Isolation) == "true")
    assert(explicit.conf.get(Manager) == "some.other.Manager")
  }
}
