package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The typed identity of ONE ingest gate (SURVEY §7.9 r19 #1): its
  * signature DATA schema, batch key column, the signature columns the
  * probe-bucket hash covers, the signature-row derivation and the
  * classify rule — bundled so a signature table can only ever be read,
  * probed, compacted or resized with the SAME contract that wrote it.
  * The three shipped descriptors live on their gates:
  * [[StreamingDedup.descriptor]] (text), [[StreamingMultimodalGate
  * .descriptor]] (opaque bytes), [[StreamingEmbeddingGate.descriptor]]
  * (vectors). A caller tuning a gate's verify threshold binds a copy,
  * e.g. `StreamingEmbeddingGate.descriptor.copy(classify =
  * StreamingEmbeddingGate.classify(_, _, 0.99))`.
  *
  * `pbKeyCols` names the SIGNATURE columns hashed into `pb` — the one
  * fact bucket-count evolution needs: [[SignatureCompaction]]'s resize
  * rewrites `pb = GateLoop.pbOf(targetBuckets, pbKeyCols)` from the
  * folded rows themselves, no re-derivation from raw batches. Writers
  * ([[signatureRows]]) and the resize share the formula through
  * [[GateLoop.pbOf]], so they agree bit-for-bit by construction.
  *
  * @param name        diagnostic label (error messages, delivery audit)
  * @param sigSchema   signature DATA schema DDL — the `pb`/`batch`
  *                    partition columns are [[GateLoop]]'s, never listed
  * @param keyCol      the incoming batch's key column (`doc_id`/`vec_id`)
  * @param pbKeyCols   signature columns hashed into the probe bucket
  * @param payloadCols the batch PAYLOAD columns `dataRows`/`classify`
  *                    consume besides `keyCol` (`text`, `embedding`,
  *                    `payload`) — what a multi-surface composer
  *                    ([[JointTables]]) needs to carve each
  *                    surface's slice out of one shared item frame
  * @param dataRows    batch → signature DATA rows (everything but `pb`)
  * @param classify    (batch, signature snapshot) → the gate family's
  *                    provenance frame `(keyCol, status, matched_seed,
  *                    score)` */
final case class GateDescriptor(
    name: String,
    sigSchema: String,
    keyCol: String,
    pbKeyCols: Seq[String],
    payloadCols: Seq[String],
    dataRows: DataFrame => DataFrame,
    classify: (DataFrame, DataFrame) => DataFrame) {

  /** This surface's slice of a shared multi-surface item frame: the
    * item id column renamed to this gate's `keyCol`, plus exactly the
    * payload columns its rules consume. */
  def sliceOf(items: DataFrame, itemKey: String): DataFrame =
    items.select(col(itemKey).as(keyCol) +: payloadCols.map(col): _*)

  /** Signature rows at a table's pinned fan-out: the data rows plus
    * `pb` — THE one writer-side pb derivation. */
  def signatureRows(batch: DataFrame, buckets: Int): DataFrame =
    dataRows(batch).withColumn("pb",
      GateLoop.pbOf(buckets, pbKeyCols.map(col)))
}

/** A descriptor bound to its on-storage table — the typed handle every
  * gate operation goes through: seeding, the streaming loop, snapshot
  * reads, compaction and bucket-count evolution all take the ONE
  * (descriptor, directory) pair, so schema/key/pb misuse across gates
  * is unrepresentable rather than a runtime surprise. The table's
  * probe-bucket fan-out is pinned at [[seed]] time in the
  * [[GateLoop.BucketsMeta]] marker and honored everywhere — a gate
  * resumed after a [[resize]] derives probes and new signatures at the
  * RESIZED count automatically. A table without the marker (written
  * before it existed) reads at [[GateLoop.NumBuckets]]. */
final case class GateTable(desc: GateDescriptor, sigDir: String) {

  /** The table's pinned probe-bucket fan-out. */
  def buckets: Int = GateLoop.readBuckets(sigDir)

  /** Materialize the corpus seed under `batch=-1` and pin the table's
    * fan-out. The one-time choice: more buckets = finer micro-batch
    * pruning but more driver-side probe ints and smaller files; evolve
    * it later with [[resize]] as the seed grows.
    *
    * Seeding REPLACES the whole table: `batch=-1` is overwritten
    * wholesale, so any previously folded history ([[foldHistory]] /
    * [[SignatureCompaction]] archive everything INTO `batch=-1`) is
    * discarded with it. Two guards make that explicit (review catches):
    *   - refused while live `batch=<id>` partitions exist — re-pinning
    *     the fan-out would leave them laid out under the OLD hash and
    *     silently un-prune their matches; [[resize]] the whole table to
    *     keep its state, or fold-then-re-seed ONLY to start over;
    *   - once `batch=-1` exists, a re-seed requires `replace = true` —
    *     an operator who just folded live batches in to satisfy the
    *     first guard must confirm they mean to drop that folded state
    *     too, not merely "unblock the seed". */
  def seed(corpus: DataFrame, buckets: Int = GateLoop.NumBuckets,
           replace: Boolean = false): Unit = {
    requireSeedable(replace)
    GateLoop.writeBuckets(sigDir, buckets)
    desc.signatureRows(corpus, buckets).write.mode("overwrite")
      .partitionBy("pb").parquet(s"$sigDir/batch=-1")
  }

  /** [[seed]]'s guards alone, no write — exposed so a PAIR seed
    * ([[JointTables.seed]]) validates BOTH tables before EITHER
    * destructive overwrite (review catch: sequential validate-and-write
    * let the first table's seed be destroyed before the second table's
    * guard refused, leaving a silently divergent pair). */
  def requireSeedable(replace: Boolean = false): Unit = {
    val parts = GateLoop.batchIds(sigDir)
    val live = parts.filter(_ >= 0L)
    require(live.isEmpty,
      s"$sigDir already holds live batch partitions (${live.sorted.mkString(",")}) " +
        "pinned at the CURRENT fan-out; re-seeding would re-pin the bucket " +
        "marker under them and mis-hash every later probe. To KEEP the " +
        "table's state, resize the whole table instead; to START OVER, " +
        "fold them (SignatureCompaction) and re-seed with replace = true " +
        "— a re-seed REPLACES batch=-1 wholesale, folded history included.")
    require(replace || !parts.contains(-1L),
      s"$sigDir is already seeded (batch=-1 exists, possibly holding " +
        "folded accepted-batch history); seed() REPLACES the entire " +
        "table. Pass replace = true to confirm discarding it.")
  }

  /** The full signature table (data columns only — `batch`/`pb`
    * dropped), schema-applied so an empty table still reads. */
  def read(spark: SparkSession): DataFrame =
    GateLoop.snapshot(spark, sigDir, desc.sigSchema,
      excludeBatchId = Long.MinValue, probePbs = 0 until buckets)

  /** One-shot batch classification against the CURRENT table (every
    * bucket, no replay exclusion) → the provenance frame. The batch
    * twin of one micro-batch; nothing is written. */
  def classifyNow(batch: DataFrame): DataFrame =
    desc.classify(batch, read(batch.sparkSession))

  /** One micro-batch under [[GateLoop]]'s discipline (replay-safe
    * exactly-once signature append, probe-bucket pruned snapshot),
    * with pb derived at the table's pinned fan-out. Exposed so the
    * replay and pruning contracts are directly unit-testable. */
  def processBatch(batch: DataFrame, batchId: Long,
                   deliver: (DataFrame, Long) => Unit): Unit = {
    val b = buckets
    val sigs = GateLoop.guardedSnapshot(this, batch, batchId, b)
    val classified = desc.classify(batch, sigs).localCheckpoint(true)
    val accepted = batch.join(
      classified.filter(col("status") === "new").select(col(desc.keyCol)),
      Seq(desc.keyCol), "left_semi")
    GateLoop.appendSignatures(this, accepted, batchId, b)
    deliver(classified, batchId)
  }

  /** Start the continuous gate: [[processBatch]] per micro-batch. It
    * re-reads the pinned fan-out each micro-batch, so a gate RESTARTED
    * after an offline [[resize]] picks the new count up automatically —
    * but the resize itself requires the query STOPPED,
    * [[SignatureCompaction]]'s single-writer contract: a trigger firing
    * mid-swap would read a half-moved table. `deliver` receives each
    * batch's provenance frame, at-least-once. */
  def start(stream: DataFrame, deliver: (DataFrame, Long) => Unit,
            checkpointDir: Option[String] = None,
            trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    GateLoop.launch(stream, checkpointDir, trigger)(processBatch(_, _, deliver))

  /** [[SignatureCompaction.compact]] with this table's contract. */
  def compact(spark: SparkSession,
              targetFileBytes: Long = 128L << 20): Int =
    SignatureCompaction.compact(spark, sigDir, desc.sigSchema, targetFileBytes)

  /** Bucket-count evolution (SURVEY §7.9 r19 #2):
    * [[SignatureCompaction.resize]] — the full fold-and-rewrite under a
    * new pb fan-out. */
  def resize(spark: SparkSession, targetBuckets: Int,
             targetFileBytes: Long = 128L << 20): Int =
    SignatureCompaction.resize(spark, this, targetBuckets, targetFileBytes)

  /** [[SignatureCompaction.foldHistory]] on this table. */
  def foldHistory(spark: SparkSession, keepLast: Int): Seq[Long] =
    SignatureCompaction.foldHistory(spark, sigDir, keepLast)
}
