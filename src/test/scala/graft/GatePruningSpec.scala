package graft

import java.nio.file.Files

import graft.streaming.{GateLoop, GateTable, StreamingDedup}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.streaming.GateLoop]]'s probe-bucket pruning (VERDICT r17 #2):
  * signature rows land hive-partitioned `batch=<id>/pb=<b>/`, and a
  * micro-batch's classification snapshot must OPEN only the partitions
  * its own probe keys hash to — the q185 file-listing discipline. At
  * 100 TB this is the difference between re-reading the whole seed every
  * 10-second batch and reading the handful of buckets the batch probes. */
class GatePruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a micro-batch snapshot opens only the probe buckets' partitions, " +
      "and pruned classification equals the full-table answer") {
    val sf = "/root/testdata/sf0.001"
    val docs = Tables(spark, sf, "documents")
    val t = GateTable(StreamingDedup.descriptor,
      Files.createTempDirectory("graft-prune-sigs-").toString)
    t.seed(docs.filter(col("doc_id") < 400))
    val sigDir = t.sigDir
    def probeBuckets(b: org.apache.spark.sql.DataFrame): Seq[Int] =
      t.desc.signatureRows(b, t.buckets)
        .select(col("pb")).distinct().collect().map(_.getInt(0)).toSeq

    // the seed must fan out over many buckets or the proof is degenerate
    val totalPbDirs = new java.io.File(s"$sigDir/batch=-1").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("pb="))
    assert(totalPbDirs > 4, s"degenerate seed: only $totalPbDirs pb dirs")

    // one-doc batch: its probe keys are 1 sha + ≤2 bands → ≤3 buckets
    val batch = docs.filter(col("doc_id") === 450)
    val probePbs = probeBuckets(batch)
    assert(probePbs.nonEmpty && probePbs.size <= 3)

    val snap = GateLoop.snapshot(spark, sigDir, StreamingDedup.SigSchema,
      excludeBatchId = 0L, probePbs = probePbs)
    val scans = snap.queryExecution.sparkPlan.collectLeaves().collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in the snapshot")
    val opened = scans.map(_.selectedPartitions.partitionCount).max
    assert(opened <= probePbs.size,
      s"snapshot opened $opened partitions for ${probePbs.size} probe buckets " +
        s"(seed holds $totalPbDirs)")
    assert(opened < totalPbDirs, "pruning opened the whole seed")
    val plan = snap.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters:") && plan.contains("pb"),
      s"no pb partition filter:\n$plan")

    // soundness: the pruned snapshot classifies EXACTLY like the full table
    val full = GateLoop.snapshot(spark, sigDir, StreamingDedup.SigSchema,
      excludeBatchId = 0L, probePbs = 0 until GateLoop.NumBuckets)
    val incoming = docs.filter(col("doc_id") >= 400)
    val incomingPbs = probeBuckets(incoming)
    val pruned = GateLoop.snapshot(spark, sigDir, StreamingDedup.SigSchema,
      excludeBatchId = 0L, probePbs = incomingPbs)
    def classified(s: org.apache.spark.sql.DataFrame) =
      t.desc.classify(incoming, s).collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val a = classified(pruned)
    assert(a == classified(full), "pruned snapshot drifted from full table")
    assert(a.exists(_._2 == "near_dup"), "degenerate: no near_dup at this SF")
  }

  test("an empty batch probes nothing: the snapshot is empty without a scan error") {
    import spark.implicits._
    val t = GateTable(StreamingDedup.descriptor,
      Files.createTempDirectory("graft-prune-empty-").toString)
    t.seed(Seq((0L, "seed corpus document body")).toDF("doc_id", "text"))
    val snap = GateLoop.snapshot(spark, t.sigDir, StreamingDedup.SigSchema,
      excludeBatchId = 0L, probePbs = Nil)
    assert(snap.count() == 0)
  }
}
