package graft

import java.nio.file.Files

import graft.streaming.{GateTable, StreamingDedup}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.GateLoop]]'s replay contract, driven through
  * [[graft.streaming.GateTable.processBatch]] (the r17 review catch):
  * foreachBatch is at-least-once, and a batch that crashed after its
  * signature append is re-executed with the SAME batchId. Because the
  * classification snapshot excludes the batch's own partition, the
  * replay must reproduce the original statuses and rewrite the identical
  * partition — the failure mode being guarded is the batch reading its
  * OWN signatures, flipping its accepts to exact_dup, and erasing them.
  * Plus the r18 fresh-checkpoint guard (ADVICE r17): a batchId BELOW the
  * table's max means a new checkpoint was attached to an old sigDir —
  * processing would exclude-then-overwrite historical partitions. */
class GateLoopReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def table(prefix: String): GateTable = GateTable(
    StreamingDedup.descriptor, Files.createTempDirectory(prefix).toString)

  private def attempt(batch: org.apache.spark.sql.DataFrame, id: Long,
                      t: GateTable)(
                      onDeliver: Map[Long, String] => Unit): Unit =
    t.processBatch(batch, id, (c, _) => onDeliver(
      c.collect().map(r => r.getLong(0) -> r.getString(1)).toMap))

  test("a replayed uncommitted batch reproduces its statuses and keeps its signatures") {
    import spark.implicits._
    val t = table("graft-replay-sigs-")
    t.seed(Seq((0L, "seed corpus document body")).toDF("doc_id", "text"))
    val batch = Seq((1L, "seed corpus document body"), (2L, "a genuinely fresh doc"))
      .toDF("doc_id", "text")

    var delivered: Map[Long, String] = Map.empty

    def storedHashes(): Long = t.read(spark)
      .filter(col("kind") === "h").count()

    attempt(batch, 7L, t)(delivered = _) // "crashed after append": partition written
    val first = delivered
    assert(first === Map(1L -> "exact_dup", 2L -> "new"))
    assert(storedHashes() == 2L) // seed doc 0 + accepted doc 2

    attempt(batch, 7L, t)(delivered = _) // replay, same batchId — must NOT see its own partition
    assert(delivered === first,
      "replay drifted: the batch classified against its own signatures")
    assert(storedHashes() == 2L,
      "replay erased the batch's accepted signatures (empty overwrite)")
  }

  test("a batchId below the table's max is rejected (fresh checkpoint on an old sigDir)") {
    import spark.implicits._
    val t = table("graft-guard-sigs-")
    t.seed(Seq((0L, "seed corpus document body")).toDF("doc_id", "text"))
    val batch = Seq((1L, "some ingest document")).toDF("doc_id", "text")

    attempt(batch, 5L, t)(_ => ()) // table's max batch is now 5
    val e = intercept[IllegalArgumentException] {
      attempt(batch, 0L, t)(_ => ()) // a NEW checkpoint restarts at 0
    }
    assert(e.getMessage.contains("LATER checkpoint"), e.getMessage)

    // replay of the max batch itself stays legal (the at-least-once case)
    attempt(batch, 5L, t)(_ => ())

    // after compaction (history folded into batch=-1) a fresh checkpoint
    // is the DOCUMENTED re-attach path: batch 0 must be accepted again
    t.compact(spark)
    attempt(batch, 0L, t)(_ => ())
  }
}
