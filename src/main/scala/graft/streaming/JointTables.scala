package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The [[StreamingJointGate]]'s table PAIR: the joint gate's loop
  * ([[processBatch]], [[start]]) and ONE maintenance unit (SURVEY §7.9
  * third-refresh candidate #1). The joint gate appends the
  * SAME `batch=<id>` to both tables, so the pair's invariant is
  * batch-set alignment — and every pair-level maintenance operation
  * (compact / history fold / resize / re-seed) must run inside one
  * stopped-gate single-writer window ON BOTH tables, or the pair's
  * exactly-once-under-replay argument breaks:
  *
  * a crash between the two appends legitimately leaves table A holding
  * `batch=N` that table B lacks — the gate's restart REPLAYS N onto
  * both and the pair reconverges. But a maintenance op run in that
  * half-written state folds/compacts N into A's seed PERMANENTLY while
  * B never saw it; the replay then classifies against A's enriched
  * snapshot, accepts a DIFFERENT set than A's folded state embodies,
  * and the two tables disagree forever. Hence every operation here
  * first [[requireAligned]]s: refused with the restart-the-gate
  * remediation whenever the live batch sets differ, and sequenced over
  * both tables only when they don't. Running a per-table op directly
  * (`text.compact(...)`) cannot check this — which is exactly why the
  * pair wrapper exists. */
final case class JointTables(text: GateTable, vec: GateTable) {

  private def liveBatches(t: GateTable): Set[Long] =
    GateLoop.batchIds(t.sigDir).filter(_ >= 0L).toSet

  /** Guard every pair op crosses, distinguishing the two misalignment
    * states (review catch — the original refused both identically, and
    * its gate-replay remediation can never repair the second kind,
    * wedging the pair permanently):
    *
    *   - **crash between the two APPENDS** — the sets differ in exactly
    *     the newest batch id, present on one side only. The gate's own
    *     replay reconverges it; maintenance is REFUSED with that
    *     remediation (a fold/compact here would archive the half-written
    *     batch on one side permanently, and the replay would then
    *     classify against the enriched snapshot and accept a different
    *     set than the folded side embodies).
    *   - **crash between the two per-table MAINTENANCE ops** — OLDER
    *     batches differ (one side already folded/compacted/resized
    *     them). No replay can re-create folded dirs; the re-run of the
    *     SAME pair op is the remediation, and it converges because every
    *     per-table op is idempotent — the completed side no-ops, the
    *     lagging side catches up. Allowed to proceed.
    *
    * The boundary between the two (ADVICE r19): the guard keys on whether
    * the NEWEST live id is part of the drift at all — not on whether it is
    * the WHOLE drift — because the compound state (older maintenance drift
    * PLUS an append crash at the newest id) and the half-completed pair
    * COMPACT (which folds the newest id away on the finished side) are
    * indistinguishable by batch sets, and proceeding in the former folds a
    * half-appended batch permanently. Both therefore refuse; a
    * half-compacted pair re-admits maintenance once the next joint batch
    * lands on both sides (re-aligning the newest id). */
  def requireAligned(): Unit = {
    val (lt, lv) = (liveBatches(text), liveBatches(vec))
    if (lt == lv) return
    val diff = (lt union lv) diff (lt intersect lv)
    val newest = (lt union lv).max
    // ADVICE r19: refuse whenever the NEWEST batch is part of the drift,
    // not only when it is the WHOLE drift — in the compound state (older
    // batches drifted by a half-completed pair maintenance op PLUS a crash
    // between the gate's two appends at the newest id) the newest batch
    // still needs a gate replay before any fold/compact may touch it;
    // `diff == Set(newest)` let that state through and folded the
    // half-appended batch into one side permanently.
    require(!diff.contains(newest),
      s"joint pair is batch-misaligned at the NEWEST batch $newest: text " +
        s"table ${text.sigDir} holds ${lt.toSeq.sorted.mkString("[", ",", "]")}, " +
        s"vector table ${vec.sigDir} holds ${lv.toSeq.sorted.mkString("[", ",", "]")} " +
        "— a crash between the pair's two appends leaves this state, and " +
        "ONLY a gate replay reconverges it. Restart the joint gate from " +
        "its checkpoint (the incomplete batch replays onto both tables), " +
        "stop it cleanly, then retry the maintenance operation.")
    // older-batch drift = a half-completed pair maintenance op: proceed —
    // re-running the same op on both tables converges them.
  }

  /** Seed BOTH surfaces from one multi-surface item frame — each
    * table's slice carved by its own descriptor
    * ([[GateDescriptor.sliceOf]]), fan-outs pinned per table. Same
    * replace discipline as [[GateTable.seed]]; BOTH tables' guards are
    * validated before EITHER destructive overwrite (review catch:
    * sequential validate-and-write destroyed the text seed before the
    * vector guard refused, silently diverging the pair). */
  def seed(items: DataFrame, itemKey: String = "doc_id",
           textBuckets: Int = GateLoop.NumBuckets,
           vecBuckets: Int = GateLoop.NumBuckets,
           replace: Boolean = false): Unit = {
    text.requireSeedable(replace)
    vec.requireSeedable(replace)
    text.seed(text.desc.sliceOf(items, itemKey), textBuckets, replace)
    vec.seed(vec.desc.sliceOf(items, itemKey), vecBuckets, replace)
  }

  /** [[GateTable.compact]] on both tables in one window.
    * @return (text, vector) batch partitions folded away. */
  def compact(spark: SparkSession,
              targetFileBytes: Long = 128L << 20): (Int, Int) = {
    requireAligned()
    (text.compact(spark, targetFileBytes), vec.compact(spark, targetFileBytes))
  }

  /** [[GateTable.foldHistory]] on both tables with ONE `keepLast` — the
    * pair keeps the same replayable tail on both sides by construction.
    * @return (text, vector) folded batch ids (equal when aligned). */
  def foldHistory(spark: SparkSession, keepLast: Int): (Seq[Long], Seq[Long]) = {
    requireAligned()
    (text.foldHistory(spark, keepLast), vec.foldHistory(spark, keepLast))
  }

  /** Bucket-count evolution for the PAIR: both tables resize inside one
    * stopped-gate window (each to its own target — the surfaces' probe
    * fan-outs are independent), never one without the other: a partial
    * resize tears the pair's single-writer window in half, and the
    * per-table call cannot see the other table to refuse it.
    * @return (text, vector) batch partitions folded by each rewrite. */
  def resize(spark: SparkSession, textBuckets: Int, vecBuckets: Int,
             targetFileBytes: Long = 128L << 20): (Int, Int) = {
    requireAligned()
    (text.resize(spark, textBuckets, targetFileBytes),
      vec.resize(spark, vecBuckets, targetFileBytes))
  }

  /** One micro-batch of multi-surface items (the joint gate,
    * [[StreamingJointGate]]): `itemKey` names the batch's shared id
    * column, and each surface's slice (id renamed to that gate's
    * `keyCol`, plus its declared `payloadCols`) is carved by
    * [[GateDescriptor.sliceOf]] — the descriptor, not this composer,
    * says which columns its rules consume. Each table gets
    * [[GateLoop]]'s guarded snapshot at its own pinned fan-out; only
    * items whose composed `joint_status` is `new` append signatures,
    * to both tables. Exposed for direct unit testing, like
    * [[GateTable.processBatch]]. */
  def processBatch(batch: DataFrame, batchId: Long,
                   deliver: (DataFrame, Long) => Unit,
                   itemKey: String = "doc_id"): Unit = {
    val (textB, vecB) = (text.buckets, vec.buckets)
    val docs = text.desc.sliceOf(batch, itemKey)
    val vecs = vec.desc.sliceOf(batch, itemKey)
    val textSigs = GateLoop.guardedSnapshot(text, docs, batchId, textB)
    val vecSigs = GateLoop.guardedSnapshot(vec, vecs, batchId, vecB)
    val joint = StreamingJointGate.compose(text.desc.classify(docs, textSigs),
      vec.desc.classify(vecs, vecSigs),
      text.desc.keyCol, vec.desc.keyCol, itemKey).localCheckpoint(true)
    val acceptedIds = joint.filter(col("joint_status") === "new")
      .select(itemKey)
    def accepted(t: GateTable, slice: DataFrame): DataFrame =
      slice.join(acceptedIds.select(col(itemKey).as(t.desc.keyCol)),
        Seq(t.desc.keyCol), "left_semi")
    GateLoop.appendSignatures(text, accepted(text, docs), batchId, textB)
    GateLoop.appendSignatures(vec, accepted(vec, vecs), batchId, vecB)
    deliver(joint, batchId)
  }

  /** Start the continuous joint gate: [[processBatch]] per micro-batch.
    * `deliver` receives each batch's composed frame `(doc_id,
    * text_status, emb_status, joint_status)` (at-least-once; both
    * signature tables exactly-once) — `GateDeliveries.sink(dir,
    * statusCol = "joint_status")` lands it in a review queue partitioned
    * by the composed status. */
  def start(items: DataFrame, deliver: (DataFrame, Long) => Unit,
            checkpointDir: Option[String] = None,
            trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
            itemKey: String = "doc_id"): StreamingQuery =
    GateLoop.launch(items, checkpointDir, trigger)(
      processBatch(_, _, deliver, itemKey))
}
