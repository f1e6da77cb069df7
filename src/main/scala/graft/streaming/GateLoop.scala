package graft.streaming

import graft.Tfs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** THE signature-gate micro-batch discipline, in one place. The three
  * ingest gates ([[StreamingDedup]] text, [[StreamingMultimodalGate]]
  * opaque bytes, [[StreamingEmbeddingGate]] vectors) differ only in
  * their [[GateDescriptor]]: signature schema, signature derivation and
  * classify rule. Every gate runs through a [[GateTable]] (one table)
  * or [[JointTables]] (the joint gate's pair), both of which apply the
  * halves below per table; the tricky parts live here once:
  *
  *   - the classification snapshot EXCLUDES the current batch's own
  *     `batch=<batchId>` partition (r17 review catch): foreachBatch is
  *     at-least-once, and a replayed batch that crashed after its
  *     signature append would otherwise read its OWN signatures —
  *     every accepted doc flips to `exact_dup`, `accepted` goes empty,
  *     and mode-overwrite ERASES the partition. With the exclusion a
  *     replay recomputes against exactly the pre-batch table, emits the
  *     original statuses, and rewrites the identical partition —
  *     exactly-once state under at-least-once execution;
  *   - the snapshot is PROBE-BUCKET PRUNED (VERDICT r17 #2): signature
  *     rows carry `pb` = [[pbOf]] of their join key at the table's
  *     pinned fan-out and land hive-partitioned `batch=<id>/pb=<b>/`, so
  *     each micro-batch reads only the partitions its own probe keys
  *     hash to — the seed can be petabytes; a batch opens its buckets.
  *     Pruning is sound because every probe is an EQUI-join on the key
  *     `pb` hashes: a matching row necessarily lives in a probed bucket;
  *   - statuses are fixed (eager localCheckpoint) BEFORE the signature
  *     append lands, so the two consumers (append, deliver) never
  *     recompute;
  *   - accepted (`new`) rows' signatures overwrite `batch=<batchId>`;
  *   - a FRESH CHECKPOINT against an existing signature table is
  *     rejected (ADVICE r17): batchIds would restart at 0 and each
  *     batch N would exclude-then-overwrite the HISTORICAL batch=N
  *     partition, silently erasing prior signatures. `sigDir` and
  *     `checkpointDir` must stay paired; to re-attach a fresh
  *     checkpoint, run [[GateTable.compact]] first (folding history
  *     into `batch=-1`, which is never excluded or overwritten).
  *
  * Deliveries carry the gate family's shared PROVENANCE frame
  * (VERDICT r17 #3): `(key, status, matched_seed, score)` — the review
  * queue learns "duplicate of WHAT" without a batch re-join. `deliver`
  * remains at-least-once; the signature table is exactly-once.
  *
  * [[SignatureCompaction]]'s single-writer contract composes:
  * compaction requires a CLEANLY-STOPPED gate (no uncommitted batch),
  * so no replay can ever see its own rows folded into `batch=-1`. */
object GateLoop {

  /** DEFAULT probe-bucket fan-out of a gate's signature table. A table's
    * ACTUAL fan-out is pinned at seed time and recorded in its
    * [[BucketsMeta]] marker; it evolves only through
    * [[GateTable.resize]]'s `targetBuckets` rewrite (a live
    * resize would split every key's rows across two layouts and silently
    * un-prune matches). Bounded so the per-batch pruning set collects at
    * most this many ints onto the driver. */
  val NumBuckets = 16

  /** The table-root marker recording the pb fan-out (`_`-prefixed so
    * Spark's file listing ignores it). Absent on pre-r18 tables, which
    * were all written at [[NumBuckets]]. */
  val BucketsMeta = "_gate_buckets"

  /** The ONE probe-bucket formula — signature writers, probe readers and
    * the compaction rewrite must agree bit-for-bit or pruning silently
    * loses matches. */
  def pbOf(buckets: Int, keyCols: Seq[Column]): Column =
    pmod(xxhash64(keyCols: _*), lit(buckets)).cast("int")

  /** The table's pinned bucket count ([[BucketsMeta]]; [[NumBuckets]]
    * when the marker is absent — every pre-marker table was written at
    * the default). */
  def readBuckets(sigDir: String): Int = {
    val fs = Tfs.of(sigDir)
    val p = Tfs.child(sigDir, BucketsMeta)
    if (fs.exists(p)) fs.readUtf8(p).trim.toInt else NumBuckets
  }

  /** The table's `batch=<id>` partition ids, seed (-1) included; a
    * missing table directory reads as empty. THE canonical parse of the
    * batch-partition layout — shared by the pair wrapper's alignment
    * guard and the seed guards (review catch: the idiom had grown four
    * copies with drifting existence checks). */
  def batchIds(sigDir: String): Seq[Long] = {
    Tfs.of(sigDir).list(sigDir)
      .map(_.name)
      .filter(_.startsWith("batch="))
      .flatMap(_.stripPrefix("batch=").toLongOption)
  }

  /** Pin the table's bucket count (seed time, or compaction resize). */
  def writeBuckets(sigDir: String, buckets: Int): Unit = {
    require(buckets > 0, s"bucket count must be positive, got $buckets")
    val fs = Tfs.of(sigDir)
    fs.mkdirs(sigDir)
    fs.writeUtf8(Tfs.child(sigDir, BucketsMeta), buckets.toString)
  }

  /** The classification snapshot: the signature table minus the batch's
    * own partition (replay exclusion), pruned to the probe buckets.
    * Exposed so the pruning contract is directly testable — the file
    * scan's selectedPartitions must stay within `probePbs`. */
  def snapshot(spark: SparkSession, sigDir: String, sigSchema: String,
               excludeBatchId: Long, probePbs: Seq[Int]): DataFrame = {
    val pbPred =
      if (probePbs.isEmpty) lit(false)
      else col("pb").isin(probePbs.map(Int.box): _*)
    spark.read.schema(s"$sigSchema, pb INT, batch BIGINT").parquet(sigDir)
      .filter(col("batch") =!= excludeBatchId && pbPred)
      .drop("batch", "pb")
  }

  /** The read half of one micro-batch against one table: the fresh-
    * checkpoint guard + the replay-excluded snapshot, pruned to the
    * buckets `batch`'s probe keys hash to at `buckets` (the table's
    * pinned fan-out, read once per batch by the caller). */
  private[streaming] def guardedSnapshot(t: GateTable, batch: DataFrame,
                                         batchId: Long, buckets: Int): DataFrame = {
    val entries = Tfs.of(t.sigDir).list(t.sigDir).map(_.name)
    // mid-swap guard (the resize scaladoc's "re-run before restarting
    // the gate" remediation ENFORCED): a pending `.graft-sig-compact-*`
    // work dir means a compact/resize crashed mid-swap (or is running
    // right now, which the single-writer contract forbids). The table
    // IS still readable on either side of the crash, but batches run
    // against it would interleave with the finishing re-run's moves —
    // refuse until the swap completes.
    val pending = entries.filter(_.startsWith(".graft-sig-compact-"))
    require(pending.isEmpty,
      s"${t.sigDir} holds an unfinished compaction/resize swap " +
        s"(${pending.mkString(", ")}): re-run GateTable.compact " +
        "or .resize to finish the swap (its startup sweep clears the " +
        "pending work dir) before running the gate.")
    val maxBatch = entries
      .filter(_.startsWith("batch="))
      .flatMap(_.stripPrefix("batch=").toLongOption)
      .maxOption.getOrElse(-1L)
    require(batchId >= maxBatch,
      s"batch $batchId arrived below the table's max batch $maxBatch: " +
        s"${t.sigDir} was written by a LATER checkpoint — a fresh checkpoint " +
        "would exclude-then-overwrite historical partitions and erase " +
        "their signatures. Keep sigDir and checkpointDir paired, or run " +
        "GateTable.compact before attaching a new checkpoint.")
    val probePbs = t.desc.signatureRows(batch, buckets).select(col("pb"))
      .distinct().collect().map(_.getInt(0)).toSeq // bounded by the fan-out
    snapshot(batch.sparkSession, t.sigDir, t.desc.sigSchema, batchId, probePbs)
  }

  /** The write half: the accepted rows' signatures overwrite the
    * batch's own partition — exactly-once under at-least-once replay. */
  private[streaming] def appendSignatures(t: GateTable, accepted: DataFrame,
                                          batchId: Long, buckets: Int): Unit =
    t.desc.signatureRows(accepted, buckets).write.mode("overwrite")
      .partitionBy("pb").parquet(s"${t.sigDir}/batch=$batchId")

  /** Start a gate's continuous loop: `body` runs once per micro-batch
    * under `foreachBatch`, checkpointed at `checkpointDir`, on a session
    * prepared by [[StreamSession.prepare]]. Shared by [[GateTable.start]]
    * and [[JointTables.start]]. */
  private[streaming] def launch(stream: DataFrame, checkpointDir: Option[String],
                                trigger: Trigger)(
                                body: (DataFrame, Long) => Unit): StreamingQuery = {
    require(stream.isStreaming,
      "stream must be a streaming DataFrame; run processBatch on a static one")
    val w = stream.writeStream.outputMode("append").trigger(trigger)
      .foreachBatch(body)
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    StreamSession.prepare(stream.sparkSession)
    w.start()
  }
}
