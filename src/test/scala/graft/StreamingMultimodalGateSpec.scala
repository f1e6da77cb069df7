package graft

import java.nio.file.Files

import graft.operators.Multimodal
import graft.streaming.{GateLoop, GateTable, StreamingMultimodalGate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.StreamingMultimodalGate]] — q208's continuous twin:
  * per-batch byte-SimHash classification against an on-storage sketch
  * table, batch-q208 parity on real + planted near-dup payloads, and the
  * restart-without-rescan contract. */
class StreamingMultimodalGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def collectStatuses(buf: scala.collection.mutable.Map[Long, String])
                             (classified: DataFrame, batchId: Long): Unit = {
    val rows = classified.collect()
    buf.synchronized { rows.foreach(r => buf(r.getLong(0)) = r.getString(1)) }
  }

  private def table(): GateTable = GateTable(StreamingMultimodalGate.descriptor,
    Files.createTempDirectory("graft-mmsigs-").toString)

  private def blobs(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
  }

  test("one streamed batch matches batch q208's pair rule on real + planted payloads") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    // planted rows guarantee all three statuses cross the split: 9000 is an
    // exact copy of seed doc 10, 9001 a tail-edited near-dup of it, 9002 fresh
    val seedTen = Tables(spark, sf, "documents")
      .filter(col("doc_id") === 10).select(col("text"))
      .collect().head.getString(0)
    val planted = blobs(Seq(
      (9000L, seedTen),
      (9001L, seedTen + " tail"),
      (9002L, "a genuinely fresh payload never seen in any corpus o'er")))
    val seed = docs.filter(col("doc_id") < 400)
    val streamed = docs.filter(col("doc_id") >= 400).unionAll(planted)
    val all = seed.unionAll(streamed)

    // independent expectation via the oracle-checked batch q208 path:
    // near iff some cross-split pair verifies at ≤12; exact iff md5 seen
    val crossNear = Multimodal.byteSimhashPairs(all)
      .filter(col("a") < 400 && (col("b") >= 400))
      .select(col("b")).distinct().collect().map(_.getLong(0)).toSet
    val seedMd5 = seed.select(md5(col("payload"))).collect().map(_.getString(0)).toSet
    val expected = streamed.select(col("doc_id"), md5(col("payload")).as("m"))
      .collect().map { r =>
        val id = r.getLong(0)
        id -> (if (seedMd5(r.getString(1))) "exact_dup"
               else if (crossNear(id)) "near_dup" else "new")
      }.toMap
    assert(expected(9000L) == "exact_dup" && expected(9001L) == "near_dup"
      && expected(9002L) == "new")
    assert(expected.count(_._2 == "near_dup") >= 1)

    val t = table()
    t.seed(seed)
    val got = scala.collection.mutable.Map[Long, String]()
    val stream = MemoryStream[(Long, Array[Byte])]
    stream.addData(streamed.collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).toSeq: _*)
    val q = t.start(stream.toDS().toDF("doc_id", "payload"),
      collectStatuses(got), trigger = Trigger.AvailableNow())
    q.awaitTermination(120000)
    assert(got.toMap === expected,
      s"drift from batch rule: ${(got.toMap.toSet -- expected.toSet).take(5)}")
  }

  test("restart without rescan: sketch table survives, processed batches don't replay") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-mmsrc-").toString
    val t = table()
    val sigDir = t.sigDir
    val ckpt = Files.createTempDirectory("graft-mmckpt-").toString

    val base = "the quick brown fox jumps over the lazy dog payload body"
    t.seed(blobs(Seq((0L, base))))

    def blobStream = spark.readStream
      .schema("doc_id LONG, payload BINARY").parquet(srcDir)
    def writeBatch(rows: (Long, String)*): Unit =
      blobs(rows).write.mode("append").parquet(srcDir)

    // run 1: an exact dup of the seed, a near-dup (tail edit), a fresh blob
    writeBatch((1L, base), (2L, base + " x"),
      (3L, "completely different bytes with no shared windows at all here"))
    val got1 = scala.collection.mutable.Map[Long, String]()
    val q1 = t.start(blobStream,
      collectStatuses(got1), checkpointDir = Some(ckpt),
      trigger = Trigger.AvailableNow())
    q1.awaitTermination(120000)
    assert(got1.toMap === Map(1L -> "exact_dup", 2L -> "near_dup", 3L -> "new"))

    // run 2 from the same checkpoint: only the new file reads; doc 4 dups a
    // RUN-1 accept — the state came from the table, not memory
    writeBatch(
      (4L, "completely different bytes with no shared windows at all here"),
      (5L, "yet another payload with its own fully distinct byte content"))
    val got2 = scala.collection.mutable.Map[Long, String]()
    val q2 = t.start(blobStream,
      collectStatuses(got2), checkpointDir = Some(ckpt),
      trigger = Trigger.AvailableNow())
    q2.awaitTermination(120000)
    assert(got2.keySet === Set(4L, 5L)) // docs 1-3 not re-delivered
    assert(got2.toMap === Map(4L -> "exact_dup", 5L -> "new"))

    // table holds the seed + the two accepts, each signature once
    // (partition overwrite keeps appends idempotent)
    val sigs = spark.read.schema(StreamingMultimodalGate.SigSchema)
      .parquet(sigDir).select("kind", "sig", "simhash")
    val nSigs = sigs.count() // pinned: sigs' plan holds the PRE-compaction file index
    assert(nSigs == sigs.distinct().count())
    assert(sigs.filter(col("kind") === "h").count() == 3) // docs 0, 3, 5

    // compaction: fold the batch partitions into ONE seed file —
    // classification against the table must be unchanged
    val probe = blobs(Seq((100L, base), (101L, base + " x"),
      (102L, "an entirely new probe payload unlike anything stored here")))
    def classifyProbe() = t.classifyNow(probe)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val before = classifyProbe()
    assert(before === Map(100L -> "exact_dup", 101L -> "near_dup", 102L -> "new"))
    val foldedN = t.compact(spark)
    assert(foldedN >= 2, s"expected >=2 batch partitions folded, got $foldedN")
    assert(classifyProbe() === before, "compaction changed classification")
    // layout: only batch=-1 remains, probe-bucket sub-partitioned, with a
    // BOUNDED file count (≤1 per pb dir here — tiny seed, huge target size)
    val dirs = new java.io.File(sigDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(dirs.toSeq === Seq("batch=-1"), dirs.toSeq.toString)
    val pbDirs = new java.io.File(s"$sigDir/batch=-1").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("pb="))
    assert(pbDirs.nonEmpty && pbDirs.length <= GateLoop.NumBuckets)
    pbDirs.foreach(d => assert(
      d.listFiles().count(_.getName.endsWith(".parquet")) == 1,
      s"${d.getName} not folded to one bounded file"))
    // rows stay distinct; rerun is a no-op
    val after = spark.read.schema(StreamingMultimodalGate.SigSchema)
      .parquet(sigDir).select("kind", "sig", "simhash")
    assert(after.count() == after.distinct().count() && after.count() == nSigs)
    assert(t.compact(spark) == 0)
  }
}
