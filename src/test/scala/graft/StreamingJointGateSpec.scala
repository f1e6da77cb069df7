package graft

import java.nio.file.Files

import graft.operators.Similarity
import graft.streaming.{GateTable, JointTables, StreamingDedup,
  StreamingEmbeddingGate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.StreamingJointGate]] — q221's continuous twin,
  * run on the table pair ([[JointTables.processBatch]]): per micro-batch,
  * (text, embedding) items admit only if BOTH surfaces accept, each
  * surface probing its own signature table under GateLoop's discipline. */
class StreamingJointGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tables(): (GateTable, GateTable) = (
    GateTable(StreamingDedup.descriptor,
      Files.createTempDirectory("graft-joint-text-").toString),
    GateTable(StreamingEmbeddingGate.descriptor,
      Files.createTempDirectory("graft-joint-vec-").toString))

  private def frameSet(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet

  test("one streamed batch composes exactly like batch q221 on the same corpus") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables(spark, sf, "documents")
    val base = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // q221's planted twins, same construction
    val v5 = base.filter(col("vec_id") === 5).head().getSeq[Double](1)
    val v7x2 = base.filter(col("vec_id") === 7).head().getSeq[Double](1).map(_ * 2.0)
    import spark.implicits._
    val planted = Seq((435L, v5), (474L, v7x2)).toDF("vec_id", "embedding")
    val emb2 = base.filter(!col("vec_id").isin(435L, 474L)).unionByName(planted)

    val (textT, vecT) = tables()
    textT.seed(docs.filter(col("doc_id") < 400))
    vecT.seed(emb2.filter(col("vec_id") < 400))
    val items = docs.filter(col("doc_id") >= 400).select(col("doc_id"), col("text"))
      .join(emb2.filter(col("vec_id") >= 400)
        .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
    var got: Set[(Long, String, String, String)] = Set.empty
    JointTables(textT, vecT).processBatch(items, 0L,
      (frame, _) => got = frameSet(frame))
    assert(got === frameSet(Similarity.jointGate(spark, sf)))
    assert(got.exists(_._4 == "near_dup") && got.exists(_._4 == "exact_dup"))
  }

  test("cross-surface state threads through batches, and a replayed batch " +
      "is idempotent on BOTH tables") {
    import spark.implicits._
    def items(rows: (Long, String, Array[Double])*): DataFrame =
      rows.toSeq.toDF("doc_id", "text", "embedding")
    val (textT, vecT) = tables()
    val eA = Array(1.0, 2.0, -1.0, 0.5)
    val eB = Array(-3.0, 0.25, 4.0, 1.0)
    val eC = Array(0.1, -0.2, 0.3, 9.0)
    val eD = Array(5.0, 5.0, -5.0, 0.0)
    textT.seed(Seq((0L, "seed corpus document body")).toDF("doc_id", "text"))
    vecT.seed(Seq((0L, eA)).toDF("vec_id", "embedding"))

    var frames = Map.empty[Long, Set[(Long, String, String, String)]]
    def run(b: DataFrame, id: Long): Unit =
      JointTables(textT, vecT).processBatch(b, id,
        (f, i) => frames += i -> f.collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet)

    // batch 0: item 1 accepted on both surfaces
    run(items((1L, "first fresh document body", eB)), 0L)
    assert(frames(0L) === Set((1L, "new", "new", "new")))
    // batch 1: 2 dups only item 1's EMBEDDING (text fresh) — proves the
    // vec table recorded the batch-0 accept; 3 dups only its TEXT — the
    // text table did too; 4 fully fresh
    run(items((2L, "completely different words here", eB),
      (3L, "first fresh document body", eC),
      (4L, "another genuinely new document", eD)), 1L)
    assert(frames(1L) === Set(
      (2L, "new", "exact_dup", "exact_dup"),
      (3L, "exact_dup", "new", "exact_dup"),
      (4L, "new", "new", "new")))
    // rejected items left NO signatures: a doc repeating 2's text AND
    // 3's embedding is still new on both surfaces
    run(items((5L, "completely different words here", eC)), 2L)
    assert(frames(2L) === Set((5L, "new", "new", "new")))

    // replay batch 2 (at-least-once): same frame, both tables unchanged
    def tableRows(t: GateTable) =
      t.read(spark).collect().map(_.toSeq).toSet
    val (txtRows, vecRows) = (tableRows(textT), tableRows(vecT))
    run(items((5L, "completely different words here", eC)), 2L)
    assert(frames(2L) === Set((5L, "new", "new", "new")))
    assert(tableRows(textT) === txtRows && tableRows(vecT) === vecRows)
  }

  test("any descriptor pair composes — text + multimodal (both keyed " +
      "doc_id), the pair the hardcoded doc_id/vec_id renames refused") {
    import spark.implicits._
    val textT = GateTable(StreamingDedup.descriptor,
      Files.createTempDirectory("graft-joint-text2-").toString)
    val mmT = GateTable(graft.streaming.StreamingMultimodalGate.descriptor,
      Files.createTempDirectory("graft-joint-mm-").toString)
    def blob(s: String): Array[Byte] =
      Array.tabulate[Byte](256)(i => ((s.hashCode + i * 131) & 0xff).toByte)
    def items(rows: (Long, String, Array[Byte])*): DataFrame =
      rows.toSeq.toDF("doc_id", "text", "payload")
    textT.seed(Seq((0L, "seed corpus document body")).toDF("doc_id", "text"))
    mmT.seed(Seq((0L, blob("seed-blob"))).toDF("doc_id", "payload"))

    var frames = Map.empty[Long, Set[(Long, String, String, String)]]
    def run(b: DataFrame, id: Long): Unit =
      JointTables(textT, mmT).processBatch(b, id,
        (f, i) => frames += i -> f.collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet)

    run(items((1L, "first fresh document body", blob("fresh-1"))), 0L)
    assert(frames(0L) === Set((1L, "new", "new", "new")))
    // each surface's batch-0 accept is probed independently in batch 1
    run(items((2L, "first fresh document body", blob("fresh-2")),
      (3L, "other words entirely here", blob("fresh-1"))), 1L)
    assert(frames(1L) === Set(
      (2L, "exact_dup", "new", "exact_dup"),
      (3L, "new", "exact_dup", "exact_dup")))
  }
}
