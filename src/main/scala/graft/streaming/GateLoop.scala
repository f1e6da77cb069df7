package graft.streaming

import graft.Tfs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** THE signature-gate micro-batch discipline, in one place — the three
  * ingest gates ([[StreamingDedup]] text, [[StreamingMultimodalGate]]
  * opaque bytes, [[StreamingEmbeddingGate]] vectors) differ only in
  * their signature schema, signature derivation, and classify rule;
  * the tricky parts are identical and live here once:
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
  *     rows carry `pb` = [[pbOf]] of their join key and land
  *     hive-partitioned `batch=<id>/pb=<b>/`, so each micro-batch reads
  *     only the ≤[[NumBuckets]] partitions its own probe keys hash to —
  *     the seed can be petabytes; a batch opens its buckets. Pruning is
  *     sound because every probe is an EQUI-join on the key `pb` hashes:
  *     a matching row necessarily lives in a probed bucket;
  *   - statuses are fixed (eager localCheckpoint) BEFORE the signature
  *     append lands, so the two consumers below never recompute;
  *   - accepted (`new`) rows' signatures overwrite `batch=<batchId>`;
  *   - a FRESH CHECKPOINT against an existing signature table is
  *     rejected (ADVICE r17): batchIds would restart at 0 and each
  *     batch N would exclude-then-overwrite the HISTORICAL batch=N
  *     partition, silently erasing prior signatures. `sigDir` and
  *     `checkpointDir` must stay paired; to re-attach a fresh
  *     checkpoint, run [[SignatureCompaction.compact]] first (folding
  *     history into `batch=-1`, which is never excluded or overwritten).
  *
  * Deliveries carry the gate family's shared PROVENANCE frame
  * (VERDICT r17 #3): `(key, status, matched_seed, score)` — the review
  * queue learns "duplicate of WHAT" without a batch re-join. `deliver`
  * remains at-least-once; the signature table is exactly-once.
  *
  * [[SignatureCompaction.compact]]'s single-writer contract composes:
  * compaction requires a CLEANLY-STOPPED gate (no uncommitted batch),
  * so no replay can ever see its own rows folded into `batch=-1`. */
object GateLoop {

  /** DEFAULT probe-bucket fan-out of a gate's signature table. A table's
    * ACTUAL fan-out is pinned at seed time and recorded in its
    * [[BucketsMeta]] marker; it evolves only through
    * [[SignatureCompaction.compact]]'s `targetBuckets` rewrite (a live
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

  /** [[pbOf]] at the default fan-out (the pre-resize gate surface). */
  def pbOf(keyCols: Column*): Column = pbOf(NumBuckets, keyCols)

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

  /** One micro-batch. Exposed (not just the lambda) so the replay and
    * pruning contracts are directly unit-testable. `sigSchema` is the
    * DATA schema; the `batch`/`pb` partition columns are appended for
    * the exclusion/pruning filters and dropped before `classify` sees
    * the snapshot. `signatureRows` must emit the data columns plus
    * `pb` ([[pbOf]] of the row's join key) — at the DEFAULT fan-out:
    * this string-typed entry predates bucket evolution, so it guards
    * against a resized table (whose pb layout its fixed-[[NumBuckets]]
    * closure would mis-hash); gates on a resized table go through
    * [[GateTable]], whose descriptor derives pb at the table's pinned
    * count. */
  def processBatch(batch: DataFrame, batchId: Long, sigDir: String,
                   sigSchema: String, keyCol: String,
                   classify: (DataFrame, DataFrame) => DataFrame,
                   signatureRows: DataFrame => DataFrame,
                   deliver: (DataFrame, Long) => Unit): Unit = {
    val buckets = readBuckets(sigDir)
    require(buckets == NumBuckets,
      s"$sigDir is pinned at $buckets probe buckets but this entry point " +
        s"derives pb at the default $NumBuckets — use the GateTable API " +
        "(whose descriptor recomputes pb at the table's pinned count) " +
        "for tables resized by SignatureCompaction.")
    runBatch(batch, batchId, sigDir, sigSchema, keyCol,
      classify, signatureRows, deliver)
  }

  /** The micro-batch discipline proper — `signatureRows` is already
    * bound to the table's pinned bucket count by the caller (the legacy
    * [[processBatch]] guard above, or [[GateTable.processBatch]]'s
    * descriptor binding). */
  private[streaming] def runBatch(batch: DataFrame, batchId: Long,
                   sigDir: String, sigSchema: String, keyCol: String,
                   classify: (DataFrame, DataFrame) => DataFrame,
                   signatureRows: DataFrame => DataFrame,
                   deliver: (DataFrame, Long) => Unit): Unit = {
    val sigs = guardedSnapshot(batch, batchId, sigDir, sigSchema, signatureRows)
    val classified = classify(batch, sigs).localCheckpoint(true)
    val accepted = batch.join(
      classified.filter(col("status") === "new").select(col(keyCol)),
      Seq(keyCol), "left_semi")
    appendSignatures(accepted, batchId, sigDir, signatureRows)
    deliver(classified, batchId)
  }

  /** The read half of one micro-batch against one table: the fresh-
    * checkpoint guard + the replay-excluded, probe-pruned snapshot.
    * Factored out so composite gates (the joint gate probing TWO
    * tables in one batch) reuse the exact discipline per table. */
  private[streaming] def guardedSnapshot(batch: DataFrame, batchId: Long,
                   sigDir: String, sigSchema: String,
                   signatureRows: DataFrame => DataFrame): DataFrame = {
    val entries = Tfs.of(sigDir).list(sigDir).map(_.name)
    // mid-swap guard (the resize scaladoc's "re-run before restarting
    // the gate" remediation ENFORCED): a pending `.graft-sig-compact-*`
    // work dir means a compact/resize crashed mid-swap (or is running
    // right now, which the single-writer contract forbids). The table
    // IS still readable on either side of the crash, but batches run
    // against it would interleave with the finishing re-run's moves —
    // refuse until the swap completes.
    val pending = entries.filter(_.startsWith(".graft-sig-compact-"))
    require(pending.isEmpty,
      s"$sigDir holds an unfinished compaction/resize swap " +
        s"(${pending.mkString(", ")}): re-run SignatureCompaction.compact " +
        "or .resize to finish the swap (its startup sweep clears the " +
        "pending work dir) before running the gate.")
    val maxBatch = entries
      .filter(_.startsWith("batch="))
      .flatMap(_.stripPrefix("batch=").toLongOption)
      .maxOption.getOrElse(-1L)
    require(batchId >= maxBatch,
      s"batch $batchId arrived below the table's max batch $maxBatch: " +
        s"$sigDir was written by a LATER checkpoint — a fresh checkpoint " +
        "would exclude-then-overwrite historical partitions and erase " +
        "their signatures. Keep sigDir and checkpointDir paired, or run " +
        "SignatureCompaction.compact before attaching a new checkpoint.")
    val probePbs = signatureRows(batch).select(col("pb"))
      .distinct().collect().map(_.getInt(0)).toSeq // bounded by the fan-out
    snapshot(batch.sparkSession, sigDir, sigSchema, batchId, probePbs)
  }

  /** The write half: the accepted rows' signatures overwrite the
    * batch's own partition — exactly-once under at-least-once replay. */
  private[streaming] def appendSignatures(accepted: DataFrame, batchId: Long,
                   sigDir: String,
                   signatureRows: DataFrame => DataFrame): Unit =
    signatureRows(accepted).write.mode("overwrite")
      .partitionBy("pb").parquet(s"$sigDir/batch=$batchId")

  def start(stream: DataFrame, sigDir: String,
            sigSchema: String, keyCol: String,
            classify: (DataFrame, DataFrame) => DataFrame,
            signatureRows: DataFrame => DataFrame,
            deliver: (DataFrame, Long) => Unit,
            checkpointDir: Option[String],
            trigger: Trigger): StreamingQuery = {
    require(stream.isStreaming,
      "stream must be a streaming DataFrame; use the gate's classify() for batch")
    val w: DataStreamWriter[org.apache.spark.sql.Row] =
      stream.writeStream.outputMode("append")
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          processBatch(batch, batchId, sigDir, sigSchema, keyCol,
            classify, signatureRows, deliver)
        }
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    StreamSession.prepare(stream.sparkSession)
    w.start()
  }
}
