package graft

import java.nio.file.{Files, Paths}

import graft.streaming.{GateDeliveries, GateLoop, GateTable, StreamingDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The typed gate registry (SURVEY §7.9 r19 #1), bucket-count evolution
  * (#2) and the review-queue sink table (#3): a [[GateTable]] binds one
  * descriptor to one directory, so schema/key/pb misuse across gates is
  * unrepresentable; `SignatureCompaction.resize` rewrites the pb layout
  * under a new fan-out with classification provably unchanged; and
  * [[GateDeliveries]] lands the provenance frame in an exactly-once
  * parquet review queue. */
class GateRegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import scala.jdk.CollectionConverters._

  private def textTable(): GateTable = GateTable(StreamingDedup.descriptor,
    Files.createTempDirectory("graft-registry-").toString)

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def statuses(frame: DataFrame): Map[Long, String] =
    frame.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  private def pbDirs(sigDir: String): Seq[Int] = {
    val w = Files.walk(Paths.get(sigDir))
    val all = try w.iterator().asScala.toList finally w.close()
    all.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("pb="))
      .map(_.getFileName.toString.stripPrefix("pb=").toInt).distinct.sorted
  }

  test("a pending compaction/resize work dir refuses the gate until the " +
      "swap finishes (the scaladoc's re-run remediation, enforced)") {
    val t = textTable()
    t.seed(docs(0L -> "the original seed corpus document"))
    t.processBatch(docs(1L -> "alpha bravo charlie delta"), 0L, (_, _) => ())
    // simulate a hard crash mid-swap: the work dir survives (the success
    // and exception paths both rmTree it — only a killed JVM leaves it)
    val leftover = Paths.get(t.sigDir).resolve(".graft-sig-compact-crash")
    Files.createDirectory(leftover)
    val e = intercept[IllegalArgumentException] {
      t.processBatch(docs(2L -> "some further document"), 1L, (_, _) => ())
    }
    assert(e.getMessage.contains("unfinished compaction/resize swap"))
    // the documented remediation: re-run compact — its startup sweep
    // clears the leftover and the gate resumes
    t.compact(spark)
    var got = Map.empty[Long, String]
    t.processBatch(docs(2L -> "alpha bravo charlie delta"), 1L,
      (f, _) => got = statuses(f))
    assert(got === Map(2L -> "exact_dup")) // batch-0 state survived it all
  }

  test("resize rewrites the pb layout under the new fan-out with " +
      "classification unchanged, and the gate continues at the new count") {
    val t = textTable()
    t.seed(docs(0L -> "the original seed corpus document"))
    var out: Map[Long, String] = Map.empty
    def run(b: DataFrame, id: Long): Map[Long, String] = {
      t.processBatch(b, id, (c, _) => out = statuses(c)); out
    }
    assert(run(docs(1L -> "the original seed corpus document",
      2L -> "alpha bravo charlie delta"), 0L) ===
      Map(1L -> "exact_dup", 2L -> "new"))
    assert(run(docs(3L -> "echo foxtrot golf hotel"), 1L) ===
      Map(3L -> "new"))

    val probeDocs = docs(100L -> "alpha bravo charlie delta",
      101L -> "echo foxtrot golf hotel",
      102L -> "a never seen probe document")
    val before = t.classifyNow(probeDocs).collect().toSet

    // shrink 16 -> 4: every batch dir folds, layout fits the new range
    assert(t.resize(spark, targetBuckets = 4) === 2)
    assert(t.buckets === 4)
    assert(pbDirs(t.sigDir).forall(b => b >= 0 && b < 4))
    assert(new java.io.File(t.sigDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSeq === Seq("batch=-1"))
    assert(t.classifyNow(probeDocs).collect().toSet === before,
      "resize changed classification")

    // the typed loop continues, deriving pb at the RESIZED count: a doc
    // accepted post-resize must be findable by the next batch's probe
    assert(run(docs(4L -> "india juliet kilo lima"), 0L) ===
      Map(4L -> "new")) // fresh checkpoint legal: max batch is -1
    assert(run(docs(5L -> "india juliet kilo lima",
      6L -> "alpha bravo charlie delta"), 1L) ===
      Map(5L -> "exact_dup", 6L -> "exact_dup"))
    assert(pbDirs(t.sigDir).forall(b => b >= 0 && b < 4))

    // grow 4 -> 32: same answers again
    t.resize(spark, targetBuckets = 32)
    assert(t.buckets === 32)
    val after32 = t.classifyNow(probeDocs).collect().toSet
    assert(after32.map(r => (r.getLong(0), r.getString(1))) ===
      Set(100L -> "exact_dup", 101L -> "exact_dup", 102L -> "new"))
  }

  test("snapshots stay probe-pruned after a resize: a one-doc batch opens " +
      "at most its own buckets of the 8-bucket layout") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables(spark, sf, "documents")
    val t = textTable()
    t.seed(corpus.filter(col("doc_id") < 400))
    t.resize(spark, targetBuckets = 8)
    val batch = corpus.filter(col("doc_id") === 450)
    val probePbs = t.desc.signatureRows(batch, t.buckets)
      .select(col("pb")).distinct().collect().map(_.getInt(0)).toSeq
    assert(probePbs.nonEmpty && probePbs.forall(b => b >= 0 && b < 8))
    val snap = GateLoop.snapshot(spark, t.sigDir, t.desc.sigSchema,
      excludeBatchId = 0L, probePbs = probePbs)
    val opened = snap.queryExecution.sparkPlan.collectLeaves().collect {
      case f: FileSourceScanExec => f.selectedPartitions.partitionCount
    }.max
    assert(opened <= probePbs.size,
      s"opened $opened partitions for ${probePbs.size} probe buckets")
    // soundness at the new fan-out: pruned == full
    val incoming = corpus.filter(col("doc_id") >= 400)
    val inPbs = t.desc.signatureRows(incoming, t.buckets)
      .select(col("pb")).distinct().collect().map(_.getInt(0)).toSeq
    val pruned = t.desc.classify(incoming, GateLoop.snapshot(
      spark, t.sigDir, t.desc.sigSchema, 0L, inPbs)).collect().toSet
    val full = t.classifyNow(incoming).collect().toSet
    assert(pruned === full, "pruned snapshot drifted after resize")
  }

  test("a table without the bucket marker (written before the marker " +
      "existed) still runs at the default fan-out") {
    val t = textTable()
    t.seed(docs(0L -> "the original seed corpus document"))
    Files.delete(Paths.get(t.sigDir, GateLoop.BucketsMeta))
    assert(t.buckets === GateLoop.NumBuckets)
    var got = Map.empty[Long, String]
    t.processBatch(docs(1L -> "the original seed corpus document",
      2L -> "alpha bravo charlie delta"), 0L, (f, _) => got = statuses(f))
    assert(got === Map(1L -> "exact_dup", 2L -> "new"))
    // the batch's signatures landed at the default hash: the next probe
    // finds them
    t.processBatch(docs(3L -> "alpha bravo charlie delta"), 1L,
      (f, _) => got = statuses(f))
    assert(got === Map(3L -> "exact_dup"))
    assert(pbDirs(t.sigDir).forall(b => b >= 0 && b < GateLoop.NumBuckets))
  }

  test("seeding over live batch partitions is refused (re-pinning the " +
      "fan-out would mis-hash their probes)") {
    val t = textTable()
    t.seed(docs(0L -> "the original seed corpus document"))
    t.processBatch(docs(1L -> "alpha bravo charlie delta"), 0L, (_, _) => ())
    val e = intercept[IllegalArgumentException] {
      t.seed(docs(9L -> "a replacement corpus"))
    }
    assert(e.getMessage.contains("live batch partitions"))
    // folding history satisfies the first guard, but a re-seed REPLACES
    // batch=-1 wholesale — folded accepted-batch state included — so it
    // still demands an explicit replace = true (advice r18 catch: the
    // old message's "fold them" path silently discarded what the fold
    // had just archived)
    t.foldHistory(spark, keepLast = 0)
    val e2 = intercept[IllegalArgumentException] {
      t.seed(docs(9L -> "a replacement corpus"))
    }
    assert(e2.getMessage.contains("replace = true"))
    // the folded batch-0 signature is still probed — nothing was lost
    assert(statuses(t.classifyNow(docs(10L -> "alpha bravo charlie delta")))
      === Map(10L -> "exact_dup"))
    t.seed(docs(9L -> "a replacement corpus"), replace = true)
    assert(statuses(t.classifyNow(docs(10L -> "a replacement corpus")))
      === Map(10L -> "exact_dup"))
    // ...and the confirmed replacement really did drop the folded state
    assert(statuses(t.classifyNow(docs(11L -> "alpha bravo charlie delta")))
      === Map(11L -> "new"))
  }

  test("a joint-status review queue folds under its own partition column, " +
      "and a WRONG prefix refuses loudly instead of deleting unmoved data") {
    import spark.implicits._
    val qDir = Files.createTempDirectory("graft-joint-queue-").toString
    val sink = GateDeliveries.sink(qDir, statusCol = "joint_status")
    def frame(rows: (Long, String, String, String)*) =
      rows.toSeq.toDF("doc_id", "text_status", "emb_status", "joint_status")
    sink(frame((1L, "new", "new", "new"),
      (2L, "exact_dup", "new", "exact_dup")), 0L)
    sink(frame((3L, "new", "near_dup", "near_dup")), 1L)
    def rows() = GateDeliveries.readJoint(spark, qDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    val before = rows()
    assert(before.map(r => (r._1, r._4)) ===
      Set(1L -> "new", 2L -> "exact_dup", 3L -> "near_dup"))

    // the single-surface default prefix matches nothing in this layout:
    // the fold must ABORT before deleting anything
    val e = intercept[IllegalArgumentException] {
      GateDeliveries.foldHistory(spark, qDir, keepLast = 1)
    }
    assert(e.getMessage.contains("Refusing to delete"))
    assert(rows() === before, "refused fold still lost rows")

    // the right column folds batch 0 into the archive, rows preserved
    assert(GateDeliveries.foldHistory(spark, qDir, keepLast = 1,
      statusCol = "joint_status") === Seq(0L))
    assert(rows().map(r => (r._1, r._2, r._3, r._4)) ===
      before.map(r => (r._1, r._2, r._3, r._4)))
    assert(rows().map(_._5) === Set(-1L, 1L))
    // the health readout over the archived joint queue
    assert(GateDeliveries.batchMix(
      GateDeliveries.readJoint(spark, qDir), statusCol = "joint_status")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ===
      Set((-1L, "new", 1L), (-1L, "exact_dup", 1L), (1L, "near_dup", 1L)))
  }

  test("q219's unrolled batch chain is bit-identical to an actual two-batch " +
      "GateLoop run on the same splits") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables(spark, sf, "documents")
    val t = textTable()
    t.seed(corpus.filter(col("doc_id") < 400))
    var frames = List.empty[(Long, org.apache.spark.sql.Row)]
    def deliver(c: org.apache.spark.sql.DataFrame, id: Long): Unit =
      frames ++= c.collect().map(id -> _)
    t.processBatch(corpus.filter(col("doc_id") >= 400 && col("doc_id") < 475),
      0L, deliver)
    t.processBatch(corpus.filter(col("doc_id") >= 475), 1L, deliver)
    val streamed = frames.map { case (id, r) => (r.getLong(0), r.getString(1),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1.0 else r.getDouble(3), id) }.toSet
    val batch = graft.operators.Dedup.gateBatchChain(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3), r.getLong(4))).toSet
    assert(streamed === batch)
    // the chain's point: a batch-1 doc matched to a batch-0 ACCEPT
    assert(batch.exists(r => r._5 == 1L && r._3 >= 400L),
      "degenerate fixture: no cross-batch match — the split must straddle " +
        "a planted near-dup pair with both members >= 400")
  }

  test("the typed gate streams end-to-end on a RESIZED table: deliveries " +
      "land in the review queue across a restart, and queue foldHistory " +
      "archives old batches row-preservingly") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = Files.createTempDirectory("graft-e2e-src-").toString
    val ckpt = Files.createTempDirectory("graft-e2e-ckpt-").toString
    val qDir = Files.createTempDirectory("graft-e2e-queue-").toString
    val t = textTable()
    t.seed(docs(0L -> "seed corpus document body"))
    t.resize(spark, 8) // the real loop must run at the pinned non-default fan-out
    def src = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    def append(rows: (Long, String)*): Unit =
      docs(rows: _*).coalesce(1).write.mode("append").parquet(srcDir)

    append(1L -> "seed corpus document body", 2L -> "first fresh document")
    append(3L -> "first fresh document", 4L -> "second fresh document")
    t.start(src, GateDeliveries.sink(qDir), Some(ckpt), Trigger.AvailableNow())
      .awaitTermination(120000)
    // restart from the checkpoint: doc 5 dups a run-1 accept
    append(5L -> "second fresh document", 6L -> "another brand new document")
    t.start(src, GateDeliveries.sink(qDir), Some(ckpt), Trigger.AvailableNow())
      .awaitTermination(120000)

    def tbl() = GateDeliveries.read(spark, qDir, t.desc)
    def frame() = tbl().collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    val expected = Set((1L, "exact_dup", 0L), (2L, "new", -1L),
      (3L, "exact_dup", 2L), (4L, "new", -1L),
      (5L, "exact_dup", 4L), (6L, "new", -1L))
    assert(frame() === expected)
    val batchesBefore = tbl().select(col("batch")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(batchesBefore === Seq(0L, 1L, 2L))
    val summaryBefore = GateDeliveries.reviewSummary(tbl())
      .collect().map(_.toSeq).toSet

    assert(GateDeliveries.foldHistory(spark, qDir, keepLast = 1)
      === Seq(0L, 1L))
    assert(frame() === expected, "queue fold lost or changed rows")
    assert(tbl().select(col("batch")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(-1L, 2L))
    assert(GateDeliveries.reviewSummary(tbl())
      .collect().map(_.toSeq).toSet === summaryBefore)
    assert(GateDeliveries.foldHistory(spark, qDir, keepLast = 1) === Nil)
  }

  test("the delivery sink is an exactly-once review queue: a replayed " +
      "batch rewrites identical rows, reads partition-prune by status, " +
      "and the summary matches q218's rule") {
    val t = textTable()
    t.seed(docs(0L -> "the original seed corpus document",
      1L -> "alpha bravo charlie delta echo"))
    val qDir = Files.createTempDirectory("graft-review-queue-").toString
    val sink = GateDeliveries.sink(qDir)
    val b0 = docs(10L -> "the original seed corpus document",
      11L -> "a never seen probe document body")
    val expected = t.classifyNow(b0).collect().toSet
    t.processBatch(b0, 0L, sink)
    t.processBatch(docs(12L -> "a never seen probe document body"), 1L, sink)

    def table() = GateDeliveries.read(spark, qDir, t.desc)
    val rows = table().collect().toSet
    assert(rows.size === 3)
    assert(rows.filter(_.getLong(4) == 0L)
      .map(r => org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), r.get(3)))
      === expected.map(r => org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), r.get(3))))

    // at-least-once replay: re-delivering batch 0 must not double rows
    // (GateLoop localCheckpoints statuses, so a replay re-sends the
    // ORIGINAL frame — modeled here by re-sinking the expected rows)
    val frameSchema = t.classifyNow(b0).schema
    sink(spark.createDataFrame(
      spark.sparkContext.parallelize(expected.toSeq), frameSchema), 0L)
    assert(table().collect().toSet === rows, "replay double-appended")

    // a status filter prunes to that partition's dirs
    val near = table().filter(col("status") === "exact_dup")
    val plan = near.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters:") && plan.contains("status"),
      s"status filter did not reach the partition scan:\n$plan")

    // the operational readout over the SINK TABLE = the q218 rule over
    // the frames (reviewSummary is the shared rule)
    // the gate-health readout over the sink table: batch 0 = 1 exact +
    // 1 new, batch 1 = 1 exact — shares per batch
    assert(GateDeliveries.batchMix(table()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet ===
      Set((0L, "exact_dup", 1L, 0.5), (0L, "new", 1L, 0.5),
        (1L, "exact_dup", 1L, 1.0)))

    val fromSink = GateDeliveries.reviewSummary(table())
      .collect().map(_.toSeq).toSet
    val direct = GateDeliveries.reviewSummary(
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          (expected + org.apache.spark.sql.Row(12L, "exact_dup", 11L, 1.0)).toSeq),
        frameSchema))
      .collect().map(_.toSeq).toSet
    assert(fromSink === direct)
  }
}
