package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming JOINT cross-surface gate — q221's continuous twin: a
  * multimodal corpus item is `(doc_id, text, embedding)` with ONE id,
  * and each micro-batch admits an item only if EVERY surface accepts.
  * Both surfaces run their own gate's rule against their own signature
  * table ([[StreamingDedup.descriptor]] text, [[StreamingEmbeddingGate
  * .descriptor]] vectors) and `joint_status` composes the strongest
  * signal (exact > near > new) — the reject reason the review queue
  * files the item under.
  *
  * The loop runs on the table pair, [[JointTables.processBatch]] /
  * [[JointTables.start]]; this object holds the composition rule both
  * the loop and batch q221 share. The micro-batch discipline is
  * [[GateLoop]]'s applied PER TABLE (guard + replay-excluded
  * probe-pruned snapshot, then a partition-overwrite append), with ONE
  * admit decision in the middle:
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
}
