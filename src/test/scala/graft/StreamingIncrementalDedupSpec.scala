package graft

import java.nio.file.Files

import graft.operators.Dedup
import graft.streaming.{GateTable, StreamingDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.StreamingDedup]] — q79's incremental dedup as a
  * first-class continuous entry point: classification against (and
  * checkpoint-shaped appends to) an on-storage signature table. */
class StreamingIncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def table(): GateTable = GateTable(StreamingDedup.descriptor,
    Files.createTempDirectory("graft-sigs-").toString)

  private def collectStatuses(buf: scala.collection.mutable.Map[Long, String])
                             (classified: DataFrame, batchId: Long): Unit = {
    val rows = classified.collect()
    buf.synchronized { rows.foreach(r => buf(r.getLong(0)) = r.getString(1)) }
  }

  test("one streamed batch classifies exactly like batch q79 on the same corpus") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = Tables(spark, sf, "documents")
    val t = table()

    // same split as the q79 oracle query: corpus = doc_id < 400, new ≥ 400
    t.seed(docs.filter(col("doc_id") < 400))
    val expected = Dedup.incrementalDedup(docs, col("doc_id") >= 400)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val got = scala.collection.mutable.Map[Long, String]()
    val stream = MemoryStream[(Long, String)]
    stream.addData(docs.filter(col("doc_id") >= 400)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
    val q = t.start(stream.toDS().toDF("doc_id", "text"),
      collectStatuses(got), trigger = Trigger.AvailableNow())
    q.awaitTermination(120000)

    assert(got.toMap === expected) // all new docs classified in one batch ⇒
    // identical corpus snapshot per doc, so parity must be exact
    // (sf0.001 plants near-dups across the 400 split but no exact dups;
    // the exact_dup path is covered by the restart test below)
    assert(expected.nonEmpty && expected.values.exists(_ == "near_dup"))
  }

  test("restart without rescan: table state survives, processed batches don't replay") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-docsrc-").toString
    val t = table()
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString

    t.seed(Seq((0L, "seed corpus document body")).toDF("doc_id", "text"))

    def docStream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(srcDir)

    // run 1: two accepted docs, one exact dup of the seed
    Seq((1L, "seed corpus document body"), (2L, "first fresh document"),
      (3L, "second fresh document"))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    val got1 = scala.collection.mutable.Map[Long, String]()
    val q1 = t.start(docStream, collectStatuses(got1),
      checkpointDir = Some(ckpt), trigger = Trigger.AvailableNow())
    q1.awaitTermination(120000)
    assert(got1.toMap === Map(1L -> "exact_dup", 2L -> "new", 3L -> "new"))

    // run 2 from the same checkpoint: only the new file is read (no rescan),
    // and doc 4 dups a RUN-1 accept — proof the classifier state came from
    // the on-storage table, not anything in-memory
    Seq((4L, "first fresh document"), (5L, "genuinely new third document"))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    val got2 = scala.collection.mutable.Map[Long, String]()
    val q2 = t.start(docStream, collectStatuses(got2),
      checkpointDir = Some(ckpt), trigger = Trigger.AvailableNow())
    q2.awaitTermination(120000)
    assert(got2.keySet === Set(4L, 5L)) // docs 1-3 not re-delivered
    assert(got2.toMap === Map(4L -> "exact_dup", 5L -> "new"))

    // the table holds exactly the seed + the three accepted docs' signatures,
    // each once (batch=<id> partition overwrite keeps appends idempotent)
    val sigs = spark.read.parquet(t.sigDir).select("kind", "sig")
    assert(sigs.count() == sigs.distinct().count())
    assert(sigs.filter(col("kind") === "h").count() == 4) // docs 0, 2, 3, 5
  }
}
