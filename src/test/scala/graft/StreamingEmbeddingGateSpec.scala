package graft

import java.nio.file.Files

import graft.operators.Similarity
import graft.streaming.{GateDescriptor, GateTable, StreamingEmbeddingGate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.StreamingEmbeddingGate]] — q216's continuous twin:
  * batch-rule parity on the real embeddings table (with q216's planted
  * twins), restart-without-rescan, and signature-table compaction reuse. */
class StreamingEmbeddingGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def collectStatuses(buf: scala.collection.mutable.Map[Long, String])
                             (classified: DataFrame, batchId: Long): Unit = {
    val rows = classified.collect()
    buf.synchronized { rows.foreach(r => buf(r.getLong(0)) = r.getString(1)) }
  }

  private def table(desc: GateDescriptor = StreamingEmbeddingGate.descriptor): GateTable =
    GateTable(desc, Files.createTempDirectory("graft-embsigs-").toString)

  private def vecsDF(rows: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("one streamed batch classifies exactly like batch q216 (twins included)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val expected = Similarity.embeddingGate(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(expected.values.toSet == Set("exact_dup", "near_dup", "new"))

    val base = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val mx = base.agg(max(col("vec_id"))).head().getLong(0)
    val twins = base.filter(col("vec_id") === 5)
      .select(lit(mx + 1).as("vec_id"), col("embedding"))
      .unionAll(base.filter(col("vec_id") === 7)
        .select(lit(mx + 2).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0)).as("embedding")))
    val t = table()
    t.seed(base.filter(col("vec_id") < 400))

    val got = scala.collection.mutable.Map[Long, String]()
    val stream = MemoryStream[(Long, Seq[Double])]
    stream.addData(base.filter(col("vec_id") >= 400).unionAll(twins).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq: _*)
    val q = t.start(stream.toDS().toDF("vec_id", "embedding"),
      collectStatuses(got), trigger = Trigger.AvailableNow())
    q.awaitTermination(120000)
    assert(got.toMap === expected,
      s"drift from batch rule: ${(got.toMap.toSet -- expected.toSet).take(5)}")
  }

  test("restart without rescan; compaction reuse keeps classification identical") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-embsrc-").toString
    val t = table()
    val ckpt = Files.createTempDirectory("graft-embckpt-").toString

    val v = Seq.tabulate(64)(i => (i % 7 + 1).toDouble)     // the seed vector
    val near = v.map(_ * 2.0)                               // cosine 1.0, not byte-equal
    val fresh = Seq.tabulate(64)(i => if (i % 2 == 0) 1.0 else -1.0) // ~orthogonal
    t.seed(vecsDF(Seq((0L, v))))

    def vecStream = spark.readStream
      .schema("vec_id LONG, embedding ARRAY<DOUBLE>").parquet(srcDir)
    def writeBatch(rows: (Long, Seq[Double])*): Unit =
      vecsDF(rows).write.mode("append").parquet(srcDir)

    writeBatch((1L, v), (2L, near), (3L, fresh))
    val got1 = scala.collection.mutable.Map[Long, String]()
    val q1 = t.start(vecStream,
      collectStatuses(got1), checkpointDir = Some(ckpt),
      trigger = Trigger.AvailableNow())
    q1.awaitTermination(120000)
    assert(got1.toMap === Map(1L -> "exact_dup", 2L -> "near_dup", 3L -> "new"))

    // run 2: vec 4 byte-dups a RUN-1 accept — state came from the table
    writeBatch((4L, fresh), (5L, Seq.tabulate(64)(i => ((i * 13) % 11 - 5).toDouble)))
    val got2 = scala.collection.mutable.Map[Long, String]()
    val q2 = t.start(vecStream,
      collectStatuses(got2), checkpointDir = Some(ckpt),
      trigger = Trigger.AvailableNow())
    q2.awaitTermination(120000)
    assert(got2.keySet === Set(4L, 5L)) // vecs 1-3 not re-delivered
    assert(got2(4L) == "exact_dup")

    // compaction applies unchanged to the vector table
    val probe = vecsDF(Seq((100L, v), (101L, near), (102L, fresh.map(_ * 3.0))))
    def classifyProbe() = t.classifyNow(probe)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val before = classifyProbe()
    assert(before(100L) == "exact_dup" && before(101L) == "near_dup"
      && before(102L) == "near_dup") // x3 scaling of an accepted vector: cos 1
    assert(t.compact(spark) >= 2)
    assert(classifyProbe() === before, "compaction changed classification")
    val dirs = new java.io.File(t.sigDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(dirs.toSeq === Seq("batch=-1"))
  }

  test("a descriptor copy with a tightened tau changes the streamed statuses") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val v = Seq.tabulate(64)(i => (i % 7 + 1).toDouble)
    val close = v.updated(0, v.head + 1.0) // cosine 0.999605 to v, not byte-equal
    val fresh = Seq.tabulate(64)(i => if (i % 2 == 0) 1.0 else -1.0)
    def streamed(desc: GateDescriptor): Map[Long, String] = {
      val t = table(desc)
      t.seed(vecsDF(Seq((0L, v))))
      val got = scala.collection.mutable.Map[Long, String]()
      val stream = MemoryStream[(Long, Seq[Double])]
      stream.addData((1L, close), (2L, fresh), (3L, v))
      t.start(stream.toDS().toDF("vec_id", "embedding"), collectStatuses(got),
        trigger = Trigger.AvailableNow()).awaitTermination(120000)
      got.toMap
    }
    assert(streamed(StreamingEmbeddingGate.descriptor) ===
      Map(1L -> "near_dup", 2L -> "new", 3L -> "exact_dup"))
    val tight = StreamingEmbeddingGate.descriptor.copy(
      classify = StreamingEmbeddingGate.classify(_, _, 0.9999))
    assert(streamed(tight) ===
      Map(1L -> "new", 2L -> "new", 3L -> "exact_dup"))
  }
}
