package graft

import java.nio.file.{Files, Paths}
import graft.sources.{Prompb, RemoteWrite}
import graft.sources.Prompb.{Sample, TimeSeries}
import graft.streaming.{CollectingSink, RelayPipeline}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Restart semantics (ADVICE r1 fix): with a checkpoint dir, a restarted
  * relay resumes after the last committed batch instead of re-delivering
  * the whole input directory.
  */
class CheckpointRestartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeBody(dir: String, name: String, metric: String): Unit =
    Files.write(Paths.get(dir, name),
      org.xerial.snappy.Snappy.compress(Prompb.encode(Seq(
        TimeSeries(Map("__name__" -> metric), Seq(Sample(1.0, 1000L)))))))

  test("restart with checkpoint delivers each body exactly once") {
    val in = Files.createTempDirectory("graft-ckpt-in").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val sink = new CollectingSink

    writeBody(in, "b1", "m1")
    writeBody(in, "b2", "m2")
    val q1 = RelayPipeline.start(spark, RemoteWrite.bodyDsv2Stream(spark, in),
      sink, trigger = Trigger.AvailableNow(), checkpointDir = Some(ckpt))
    q1.processAllAvailable(); q1.stop()
    assert(sink.allLines.size == 2)

    // New file arrives; restart from the same checkpoint.
    writeBody(in, "b3", "m3")
    val q2 = RelayPipeline.start(spark, RemoteWrite.bodyDsv2Stream(spark, in),
      sink, trigger = Trigger.AvailableNow(), checkpointDir = Some(ckpt))
    q2.processAllAvailable(); q2.stop()

    val lines = sink.allLines
    assert(lines.size == 3, s"b1/b2 must NOT be re-delivered; got ${lines.size} lines")
    assert(Seq("m1", "m2", "m3").forall(m => lines.count(_.contains(s""""name":"$m"""")) == 1))
  }
}
