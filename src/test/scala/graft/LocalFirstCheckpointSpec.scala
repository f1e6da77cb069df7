package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.{Prompb, RemoteWrite}
import graft.sources.Prompb.{Sample, TimeSeries}
import graft.streaming.{ExactlyOnceFileSink, LocalFirstCheckpointFileManager, RelayMain, RelayPipeline}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** A FileContext-capable scheme other than `file`: lets the dispatch test
  * see which manager a non-local path gets without a remote file system. */
class MockSchemeFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem(), conf, "mockfs", false)

/** [[LocalFirstCheckpointFileManager]]: local checkpoints go through the
  * fork-free FileSystem-based manager, other schemes keep Spark's default,
  * and checkpoints written under the default resume under it. */
class LocalFirstCheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Key = LocalFirstCheckpointFileManager.ConfKey

  test("checkpoint manager dispatches by path: local paths to the FileSystem-based " +
      "manager, another scheme to Spark's default") {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.mockfs.impl", classOf[MockSchemeFs].getName)
    val defaults = new Configuration(conf)
    conf.set(Key, classOf[LocalFirstCheckpointFileManager].getName)
    val dir = Files.createTempDirectory("graft-cfm-").toString
    for (local <- Seq(dir, s"file://$dir")) withClue(s"$local: ") {
      val m = CheckpointFileManager.create(new Path(local), conf)
      assert(m.isInstanceOf[LocalFirstCheckpointFileManager])
      assert(m.asInstanceOf[LocalFirstCheckpointFileManager].delegate
        .isInstanceOf[FileSystemBasedCheckpointFileManager])
    }
    val other = new Path("mockfs:///ckpt")
    val m = CheckpointFileManager.create(other, conf)
      .asInstanceOf[LocalFirstCheckpointFileManager].delegate
    assert(m.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(m.getClass == CheckpointFileManager.create(other, defaults).getClass)
  }

  test("upgrade: relay and rate checkpoints written under Spark's default manager " +
      "resume under this one, exactly once and with totals continuing") {
    val stateKey = "spark.sql.streaming.stateStore.providerClass"
    val prevState = spark.conf.getOption(stateKey)
    spark.conf.set(stateKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = Files.createTempDirectory("graft-cfm-in-").toString
      val sinkDir = Files.createTempDirectory("graft-cfm-sink-").toString
      val relayCkpt = Files.createTempDirectory("graft-cfm-relay-ckpt-").toString
      val rateCkpt = Files.createTempDirectory("graft-cfm-rate-ckpt-").toString
      val rateOut = Files.createTempDirectory("graft-cfm-rate-").toString + "/analytics-rate"
      val sink = new ExactlyOnceFileSink(sinkDir, "relay")

      // body i carries one counter sample at (i + 1) s; the value resets
      // at body 6, the first body of the second wave
      def writeBodies(from: Int, until: Int): Unit = (from until until).foreach { i =>
        val value = if (i < 6) 10.0 + i else i - 3.0
        val tmp = Paths.get(in, f".$i%08d.bin.tmp")
        Files.write(tmp, org.xerial.snappy.Snappy.compress(Prompb.encode(Seq(
          TimeSeries(Map("__name__" -> "reqs", "job" -> "api"),
            Seq(Sample(value, (i + 1) * 1000L)))))))
        Files.move(tmp, Paths.get(in, f"$i%08d.bin"))
      }
      def drain(): Unit = {
        val q = RelayPipeline.start(spark, RemoteWrite.bodyDsv2Stream(spark, in), sink,
          trigger = Trigger.AvailableNow(), checkpointDir = Some(relayCkpt))
        try q.processAllAvailable() finally q.stop()
        val a = RelayMain.startAnalytics(spark, RemoteWrite.bodyDsv2Stream(spark, in),
          "rate", outDir = rateOut, checkpointDir = rateCkpt, trigger = Trigger.AvailableNow())
        try a.processAllAvailable() finally a.stop()
      }

      spark.conf.set(Key, classOf[FileContextBasedCheckpointFileManager].getName)
      try {
        writeBodies(0, 6)
        drain()
        // StreamSession.prepare keeps a manager the session already names
        assert(spark.conf.get(Key) == classOf[FileContextBasedCheckpointFileManager].getName)
      } finally spark.conf.unset(Key)

      // with the key unset, the start sites' StreamSession.prepare sets it
      writeBodies(6, 12)
      drain()
      assert(spark.conf.get(Key) == classOf[LocalFirstCheckpointFileManager].getName)

      val Time = """"time":(\d+)""".r
      val times = Files.walk(Paths.get(sinkDir)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
        .flatMap(p => Files.readAllLines(p).asScala)
        .flatMap(l => Time.findFirstMatchIn(l).map(_.group(1).toLong))
        .toVector
      assert(times.sorted == (1 to 12).map(_ * 1000L), "each body exactly once")

      val rows = spark.read.schema(StructType.fromDDL(
          "name STRING, user_id BIGINT, n_samples BIGINT, n_resets BIGINT, " +
            "n_late BIGINT, total_increase DOUBLE, rate_per_sec DOUBLE"))
        .json(rateOut).collect()
      assert(rows.length == 2, "one update row per drain, no replays")
      val last = rows.maxBy(_.getAs[Long]("n_samples"))
      assert(last.getAs[Long]("n_samples") == 12L)
      assert(last.getAs[Long]("n_resets") == 1L)
      assert(last.getAs[Long]("n_late") == 0L)
      // 10 → 15 in the first wave, then 3 after the reset and 3 → 8
      assert(last.getAs[Double]("total_increase") == 13.0)
    } finally prevState match {
      case Some(v) => spark.conf.set(stateKey, v)
      case None => spark.conf.unset(stateKey)
    }
  }
}
