package graft

import java.nio.file.Files

import graft.streaming.{GateTable, StreamingDedup}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The full gate LIFECYCLE at table level (round-18 candidate #1): a
  * seed, a sequence of micro-batches, a metadata-only history fold, a
  * full compact, and a fresh-checkpoint re-attach — asserting at every
  * step that classification is a pure function of the table's ROWS, not
  * of its partition layout. */
class GateLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def run(batch: org.apache.spark.sql.DataFrame, id: Long,
                  t: GateTable): Map[Long, String] = {
    var out: Map[Long, String] = Map.empty
    t.processBatch(batch, id,
      (c, _) => out = c.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    out
  }

  test("seed -> 3 micro-batches -> history fold -> compact -> re-attach: " +
      "state accumulates across batches and survives every layout change") {
    import spark.implicits._
    val t = GateTable(StreamingDedup.descriptor,
      Files.createTempDirectory("graft-lifecycle-").toString)
    t.seed(Seq((0L, "the original seed corpus document")).toDF("doc_id", "text"))

    // batch 0: one seed dup, one accept
    val b0 = run(Seq((1L, "the original seed corpus document"),
      (2L, "alpha bravo charlie delta")).toDF("doc_id", "text"), 0L, t)
    assert(b0 === Map(1L -> "exact_dup", 2L -> "new"))
    // batch 1: dups a BATCH-0 accept (state came from the table), one accept
    val b1 = run(Seq((3L, "alpha bravo charlie delta"),
      (4L, "echo foxtrot golf hotel")).toDF("doc_id", "text"), 1L, t)
    assert(b1 === Map(3L -> "exact_dup", 4L -> "new"))
    // batch 2: dups the batch-1 accept
    val b2 = run(Seq((5L, "echo foxtrot golf hotel"),
      (6L, "india juliet kilo lima")).toDF("doc_id", "text"), 2L, t)
    assert(b2 === Map(5L -> "exact_dup", 6L -> "new"))

    def dirs() = new java.io.File(t.sigDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).sorted.toSeq
    def probe() = t.classifyNow(
      Seq((100L, "alpha bravo charlie delta"),
        (101L, "india juliet kilo lima"),
        (102L, "a never seen probe document")).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(dirs() === Seq("batch=-1", "batch=0", "batch=1", "batch=2"))
    val before = probe()
    assert(before.map(t => t._1 -> t._2).toMap ===
      Map(100L -> "exact_dup", 101L -> "exact_dup", 102L -> "new"))

    // history fold (metadata-only): batches 0,1 move into the seed
    assert(t.foldHistory(spark, keepLast = 1)
      === Seq(0L, 1L))
    assert(dirs() === Seq("batch=-1", "batch=2"))
    assert(probe() === before, "history fold changed classification")
    // provenance survives the move: src rides in the rows, not the layout
    assert(t.foldHistory(spark, keepLast = 1)
      === Nil) // idempotence witness

    // the gate continues against the folded table (guard: 3 >= max 2)
    val b3 = run(Seq((7L, "india juliet kilo lima"),
      (8L, "mike november oscar papa")).toDF("doc_id", "text"), 3L, t)
    assert(b3 === Map(7L -> "exact_dup", 8L -> "new"))

    // full compact (rewrite): one seed, bounded files, same answers
    assert(t.compact(spark) >= 1)
    assert(dirs() === Seq("batch=-1"))
    val after = probe()
    assert(after.map(t => t._1 -> t._2).toMap ===
      Map(100L -> "exact_dup", 101L -> "exact_dup", 102L -> "new"))

    // fresh checkpoint re-attach is legal after a full fold (max = -1)
    val b0b = run(Seq((9L, "mike november oscar papa"),
      (10L, "quebec romeo sierra tango")).toDF("doc_id", "text"), 0L, t)
    assert(b0b === Map(9L -> "exact_dup", 10L -> "new"))
  }
}
