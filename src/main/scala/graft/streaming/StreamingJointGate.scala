package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Streaming JOINT cross-surface gate — q221's continuous twin: a
  * multimodal corpus item is `(doc_id, text, embedding)` with ONE id,
  * and each micro-batch admits an item only if EVERY surface accepts.
  * Both surfaces run their own gate's rule against their own signature
  * table ([[StreamingDedup.descriptor]] text, [[StreamingEmbeddingGate
  * .descriptor]] vectors) and `joint_status` composes the strongest
  * signal (exact > near > new) — the reject reason the review queue
  * files the item under.
  *
  * The micro-batch discipline is [[GateLoop]]'s applied PER TABLE
  * (guard + replay-excluded probe-pruned snapshot, then a
  * partition-overwrite append), with ONE admit decision in the middle:
  *   - accepted = `joint_status = new` — an item rejected by EITHER
  *     surface records NO signatures on either table (the item is
  *     rejected as a whole; its clean surface is not corpus);
  *   - both appends overwrite their table's own `batch=<id>` partition,
  *     so a replay — even one that crashed BETWEEN the two appends —
  *     recomputes the identical joint frame from both pre-batch
  *     snapshots and rewrites both partitions: the PAIR of tables is
  *     exactly-once under at-least-once execution, no cross-table
  *     transaction needed;
  *   - each table keeps its own pinned probe-bucket fan-out (they may
  *     differ; each snapshot prunes under its own).
  *
  * The two single-surface gates and this joint gate can NOT share one
  * signature table pair concurrently (single-writer per table, as
  * everywhere in the family). */
object StreamingJointGate {

  /** The worst-of composition — ONE rule, two consumers (batch q221
    * delegates here): inner-join the two per-surface provenance frames
    * on the item id and take the strongest status. Each frame is keyed
    * by its OWN gate's key column (review catch: hardcoding
    * `doc_id`/`vec_id` here made any other descriptor pair fail with
    * an unresolved-column error, not the "unrepresentable" the typed
    * registry promises) — pass each surface's `desc.keyCol`; the output
    * id column is `outKey`. Output status columns keep the shipped
    * first-surface/second-surface names `text_status`/`emb_status`
    * regardless of descriptor (one delivery schema across consumers —
    * q221's oracle and the `GateDeliveries` review-queue layout). */
  def compose(textFrame: DataFrame, vecFrame: DataFrame,
              textKey: String = "doc_id", vecKey: String = "vec_id",
              outKey: String = "doc_id"): DataFrame =
    textFrame.select(col(textKey).as(outKey), col("status").as("text_status"))
      .join(vecFrame.select(col(vecKey).as(outKey),
        col("status").as("emb_status")), Seq(outKey))
      .select(col(outKey), col("text_status"), col("emb_status"),
        when(col("text_status") === "exact_dup" ||
          col("emb_status") === "exact_dup", "exact_dup")
          .when(col("text_status") === "near_dup" ||
            col("emb_status") === "near_dup", "near_dup")
          .otherwise("new").as("joint_status"))

  /** One micro-batch of multi-surface items against ANY two-table pair:
    * `itemKey` names the batch's shared id column, and each surface's
    * slice (id renamed to that gate's `keyCol`, plus its declared
    * `payloadCols`) is carved by [[GateDescriptor.sliceOf]] — the
    * descriptor, not this composer, says which columns its rules
    * consume. Exposed for direct unit testing, like
    * [[GateTable.processBatch]]. */
  def processBatch(batch: DataFrame, batchId: Long,
                   textTable: GateTable, vecTable: GateTable,
                   deliver: (DataFrame, Long) => Unit,
                   itemKey: String = "doc_id"): Unit = {
    val textKey = textTable.desc.keyCol
    val vecKey = vecTable.desc.keyCol
    val docsB = textTable.desc.sliceOf(batch, itemKey)
    val vecsB = vecTable.desc.sliceOf(batch, itemKey)
    val textRows: DataFrame => DataFrame =
      textTable.desc.signatureRows(_, textTable.buckets)
    val vecRows: DataFrame => DataFrame =
      vecTable.desc.signatureRows(_, vecTable.buckets)
    val textSigs = GateLoop.guardedSnapshot(docsB, batchId,
      textTable.sigDir, textTable.desc.sigSchema, textRows)
    val vecSigs = GateLoop.guardedSnapshot(vecsB, batchId,
      vecTable.sigDir, vecTable.desc.sigSchema, vecRows)
    val joint = compose(textTable.desc.classify(docsB, textSigs),
      vecTable.desc.classify(vecsB, vecSigs),
      textKey, vecKey, itemKey).localCheckpoint(true)
    val acceptedIds = joint.filter(col("joint_status") === "new")
      .select(itemKey)
    GateLoop.appendSignatures(
      docsB.join(acceptedIds.select(col(itemKey).as(textKey)),
        Seq(textKey), "left_semi"),
      batchId, textTable.sigDir, textRows)
    GateLoop.appendSignatures(
      vecsB.join(acceptedIds.select(col(itemKey).as(vecKey)),
        Seq(vecKey), "left_semi"),
      batchId, vecTable.sigDir, vecRows)
    deliver(joint, batchId)
  }

  /** Start the continuous joint gate. `deliver` receives each batch's
    * composed frame `(doc_id, text_status, emb_status, joint_status)`
    * (at-least-once; both signature tables exactly-once as above) —
    * `GateDeliveries.sink(dir, statusCol = "joint_status")` lands it in
    * a review queue partitioned by the composed status. */
  def start(items: DataFrame, textTable: GateTable, vecTable: GateTable,
            deliver: (DataFrame, Long) => Unit,
            checkpointDir: Option[String] = None,
            trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
            itemKey: String = "doc_id"): StreamingQuery = {
    require(items.isStreaming,
      "items must be a streaming DataFrame; use processBatch for batch")
    val w: DataStreamWriter[org.apache.spark.sql.Row] =
      items.writeStream.outputMode("append")
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          processBatch(batch, batchId, textTable, vecTable, deliver, itemKey)
        }
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    StreamSession.prepare(items.sparkSession)
    w.start()
  }
}
