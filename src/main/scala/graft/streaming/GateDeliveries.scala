package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The gates' review-queue SINK TABLE (SURVEY §7.9 r19 #3 — closing the
  * operational loop the provenance frame exists for): every micro-batch's
  * delivery frame `(key, status, matched_seed, score)` lands in a parquet
  * table partitioned `batch=<id>/status=<s>/`, so the downstream review
  * consumers partition-prune to exactly their slice — a near-dup triage
  * UI opens only `status=near_dup` dirs, a backfill audits one batch dir.
  *
  * `deliver` itself is only at-least-once (GateLoop's contract), but this
  * sink upgrades the TABLE to exactly-once by the same move that protects
  * the signature table: each batch OVERWRITES its own `batch=<id>`
  * partition, so a replayed batch rewrites identical rows instead of
  * double-appending. (GateLoop fixes statuses via localCheckpoint before
  * delivery, so the replayed frame is the original frame.)
  *
  * One frame, every gate: the key column's NAME differs (`doc_id` /
  * `vec_id`), which [[read]] takes from the gate's descriptor so a
  * mis-schema'd read is unrepresentable. */
object GateDeliveries {

  /** A `deliver` callback writing each batch's frame into the
    * review-queue table at `deliveryDir` — pass to `GateTable.start` /
    * `JointTables.start`. `statusCol` names the partition column for
    * frames whose status lives elsewhere (the joint gate's
    * `joint_status`). */
  def sink(deliveryDir: String,
           statusCol: String = "status"): (DataFrame, Long) => Unit =
    (frame, batchId) =>
      frame.write.mode("overwrite").partitionBy(statusCol)
        .parquet(s"$deliveryDir/batch=$batchId")

  /** The full review-queue table: `(key, status, matched_seed, score,
    * batch)` — schema from the gate's descriptor (an empty or partially
    * written table still reads). Filters on `status`/`batch` prune to
    * partition dirs. */
  def read(spark: SparkSession, deliveryDir: String,
           desc: GateDescriptor): DataFrame =
    spark.read
      .schema(s"${desc.keyCol} BIGINT, matched_seed BIGINT, " +
        "score DOUBLE, status STRING, batch BIGINT")
      .parquet(deliveryDir)
      .select(col(desc.keyCol), col("status"), col("matched_seed"),
        col("score"), col("batch"))

  /** The JOINT gate's review queue (`sink(dir, statusCol =
    * "joint_status")` — [[StreamingJointGate]]'s composed frame, whose
    * shape differs from the single-surface descriptors'): `(doc_id,
    * text_status, emb_status, joint_status, batch)`. The single-surface
    * [[read]] applied to a joint queue would schema-mismatch into
    * all-null columns — use the read that matches the sink. */
  def readJoint(spark: SparkSession, deliveryDir: String): DataFrame =
    spark.read
      .schema("doc_id BIGINT, text_status STRING, emb_status STRING, " +
        "joint_status STRING, batch BIGINT")
      .parquet(deliveryDir)
      .select(col("doc_id"), col("text_status"), col("emb_status"),
        col("joint_status"), col("batch"))

  /** Windowed retention for the review queue — the delivery-side twin of
    * [[SignatureCompaction.foldHistory]]: the sink appends one
    * `batch=<id>` dir per micro-batch forever (the same small-files
    * growth the signature tables have), so fold every batch older than
    * the newest `keepLast` into the `batch=-1` archive by RENAMING its
    * files into the matching `status=<s>` sub-dirs. Deliveries are plain
    * appends — no distinctness to preserve — so a pure move is trivially
    * row-preserving, keeps the status partition pruning intact, and is
    * O(moved files) metadata work. Folded rows read back with
    * `batch = -1` (per-batch attribution traded for file count, like the
    * signature fold). Single-writer contract: run while the gate is
    * CLEANLY stopped — a replay of a FOLDED batch id would re-create its
    * dir beside the archived rows and double them, but replays only ever
    * touch the newest (uncommitted) batch, which `keepLast >= 1`
    * preserves. Crash-safe by move semantics; a re-run folds the
    * remainder. @return folded batch ids, ascending. */
  def foldHistory(spark: SparkSession, deliveryDir: String, keepLast: Int,
                  statusCol: String = "status"): Seq[Long] = {
    require(keepLast >= 1,
      s"keepLast must be >= 1 (the newest batch may still replay), got $keepLast")
    // the shared move discipline; statusCol must match the [[sink]] the
    // queue was written with (a joint queue is `joint_status`) — a wrong
    // prefix ABORTS before deleting anything (the helper's leftover guard)
    SignatureCompaction.foldBatchPartitions(spark, deliveryDir, keepLast,
      subPrefix = s"$statusCol=")
  }

  /** The gate-health readout (q222's rule — ONE rule, two consumers:
    * the oracle-checked batch twin runs it over an in-plan frame union,
    * operations runs it over [[read]]'s sink table): per (batch,
    * status) — deliveries and their share of the batch. A drifting
    * share (exact_dup share spiking across batches) is the "ingest is
    * re-sending the corpus" alarm. One (batch, status) partial agg plus
    * a per-batch total joined back broadcast — the readout reduces to
    * ≤(batches × 3) rows before anything joins. */
  def batchMix(deliveries: DataFrame,
               statusCol: String = "status"): DataFrame = {
    val per = deliveries
      .groupBy(col("batch"), col(statusCol).as("status"))
      .agg(count(lit(1)).as("n_docs"))
    // the per-batch total rides a window over the ALREADY-REDUCED
    // ≤(batches × statuses) frame instead of a per⋈tot join-back
    // (opt r20): the join form referenced `per` twice, which forced
    // every caller to checkpoint the input chain (the §6.13 rule) just
    // to keep the upstream from evaluating twice — single-pass, the
    // readout now references its input ONCE and needs no caller pin.
    // Identical integer sum over identical rows ⇒ identical shares.
    val overBatch = org.apache.spark.sql.expressions.Window
      .partitionBy(col("batch"))
    per
      .withColumn("n_batch", sum(col("n_docs")).over(overBatch))
      .select(col("batch"), col("status"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_batch"), 6).as("share"))
  }

  /** The queue-side DRIFT readout (q224's rule — one rule, two
    * consumers: the oracle-checked batch twin runs it over the q219
    * chain, operations over [[read]]'s sink table): per consecutive
    * batch pair, the Jensen-Shannon divergence between the two batches'
    * delivery COMPOSITION — the distribution over `status:matched_seed`
    * keys (or status alone with `seedCol = None`, the joint queue's
    * shape). q222's share table shows the mix; this folds each pair's
    * shift into ONE scalar an alerting threshold can sit on — rising
    * jsd = the ingest's composition is moving (new dominant seeds, a
    * status flip), the "what we're admitting changed" alarm.
    *
    * Exactness discipline is q199's verbatim: with integer counts a, b
    * and pair totals A, B, each key's log term is ONE identical double
    * expression quantized to micro-nat BIGINTs and weighted by the
    * INTEGER count, so both KL sums are order-independent integer sums —
    * the only terminal doubles are two divisions and the average. A key
    * absent from one side contributes ln 2 to the present side only.
    * Each delivery row feeds two (pair, side) contributions, so the
    * whole readout is one union + two uniform-key aggregates — boundary
    * pairs (nothing before the first batch, nothing after the last)
    * drop via the A > 0 AND B > 0 filter, never a driver-side range. */
  def mixDrift(deliveries: DataFrame, statusCol: String = "status",
               seedCol: Option[String] = Some("matched_seed")): DataFrame = {
    val k = seedCol match {
      case Some(sc) => concat_ws(":", col(statusCol),
        coalesce(col(sc).cast("string"), lit("-")))
      case None => col(statusCol).cast("string")
    }
    // batch -1 is the retention fold's ARCHIVE, not a batch: scoring it
    // as one would pair it against batch 0 with the sum of all folded
    // batches' deliveries (review catch, shared with mixAnomaly)
    // each delivery feeds its two (pair, side) contributions via ONE
    // in-row explode instead of a self-union (opt r20): the union form
    // referenced `keyed` twice — the very duplication that forced every
    // caller to checkpoint the input chain; identical contribution
    // multiset, one reference, no caller pin needed
    val contrib = deliveries.filter(col("batch") >= 0)
      .select(explode(array(
          struct((col("batch") + 1).as("batch"), lit(true).as("in_a")),
          struct(col("batch").as("batch"), lit(false).as("in_a")))).as("e"),
        k.as("k"))
      .select(col("e.batch").as("batch"), col("e.in_a").as("in_a"), col("k"))
    val cnt = contrib.groupBy(col("batch"), col("k"))
      .agg(sum(when(col("in_a"), 1L).otherwise(0L)).as("a"),
        sum(when(col("in_a"), 0L).otherwise(1L)).as("b"))
    // pair totals ride a window over the reduced ≤(pairs × keys) frame
    // instead of a cnt⋈tot join-back — same integer sums, same
    // boundary-pair filter, one reference (see batchMix)
    val overBatch = org.apache.spark.sql.expressions.Window
      .partitionBy(col("batch"))
    cnt
      .withColumn("atot", sum(col("a")).over(overBatch))
      .withColumn("btot", sum(col("b")).over(overBatch))
      .withColumn("n_keys", count(lit(1)).over(overBatch))
      .filter(col("atot") > 0 && col("btot") > 0)
      .withColumn("klp_q", when(col("a") > 0, col("a") * expr(
        "cast(round(ln(2.0 / (1.0 + (cast(b as double) / a) * " +
          "(cast(atot as double) / btot))) * 1000000) as bigint)"))
        .otherwise(0L))
      .withColumn("klq_q", when(col("b") > 0, col("b") * expr(
        "cast(round(ln(2.0 / (1.0 + (cast(a as double) / b) * " +
          "(cast(btot as double) / atot))) * 1000000) as bigint)"))
        .otherwise(0L))
      .groupBy(col("batch"))
      .agg(min(col("n_keys")).as("n_keys"),
        min(col("atot")).as("n_prev"), min(col("btot")).as("n_cur"),
        sum(col("klp_q")).as("sp"), sum(col("klq_q")).as("sq"))
      .select(col("batch"), col("n_keys"), col("n_prev"), col("n_cur"),
        (round((col("sp").cast("double") / 1e6 / col("n_prev")
          + col("sq").cast("double") / 1e6 / col("n_cur")) / 2, 6)
          + lit(0.0)).as("jsd"))
  }

  /** The queue-side ANOMALY flag (q225's rule — q131's robust
    * median/MAD detector pointed at the queue's batch axis; one rule,
    * two consumers: the oracle-checked chain twin pins the arithmetic,
    * operations runs it over [[read]]'s sink table where the batch
    * history is long enough for the flag to mean something): per
    * (status, batch) delivery counts, flag the batches whose count is
    * an Iglewicz–Hoaglin modified-z outlier within its status series
    * (|0.6745·(c−med)/MAD| > 3.5) — "batch 17 delivered 60 exact_dups
    * against a median of 2" is the re-sent-corpus alarm as ONE boolean.
    * Median-based so the anomalous batches can't poison the baseline;
    * zero-MAD (over half the batches identical) falls back to flagging
    * any c ≠ median. Scale: the queue reduces to ≤(batches × statuses)
    * rows before the two exact-median passes — both medians and the
    * join-backs run on that tiny aggregate, broadcast. */
  def mixAnomaly(deliveries: DataFrame,
                 statusCol: String = "status"): DataFrame = {
    // batch -1 is the retention fold's ARCHIVE (the sum of every folded
    // batch): scored as a batch it is a standing spurious is_anomaly row
    // and skews the median/MAD baseline on short histories (review
    // catch) — the alert runs over the LIVE batch axis only
    val per = deliveries.filter(col("batch") >= 0)
      .groupBy(col(statusCol).as("status"), col("batch"))
      .agg(count(lit(1)).as("n_docs"))
    // both exact-median passes ride windows over the ALREADY-REDUCED
    // ≤(batches × statuses) frame instead of two groupBy⋈join-backs
    // (opt r20): the join form referenced `per` three times, forcing
    // callers to checkpoint the input chain; identical percentiles over
    // identical partitions ⇒ identical flags, one reference, no pin
    val overStatus = org.apache.spark.sql.expressions.Window
      .partitionBy(col("status"))
    per
      .withColumn("med", expr("percentile(n_docs, 0.5)").over(overStatus))
      .withColumn("mad",
        expr("percentile(abs(n_docs - med), 0.5)").over(overStatus))
      .withColumn("robust_z", when(col("mad") > 0,
        round(lit(0.6745) * (col("n_docs") - col("med")) / col("mad"), 4)
          + lit(0.0)))
      .withColumn("is_anomaly",
        when(col("mad") > 0, abs(col("robust_z")) > 3.5)
          .otherwise(col("n_docs") =!= col("med")))
      .select(col("batch"), col("status"), col("n_docs"),
        round(col("med"), 4).as("median_n"), round(col("mad"), 4).as("mad_n"),
        col("robust_z"), col("is_anomaly"))
  }

  /** The review queue's operational readout (q218's rule): per status —
    * deliveries, distinct matched seeds, and the heaviest seed (most
    * deliveries, ties to the lowest id) with its count. The heaviest
    * seed is the "one document poisoning the ingest" alarm. One pass:
    * a (status, seed) partial agg, then a per-status max(struct)
    * arg-max — never a sort. */
  def reviewSummary(deliveries: DataFrame): DataFrame =
    reviewSummaryBy(deliveries, Seq("status"))

  /** [[reviewSummary]] under ARBITRARY grouping — q226's drill-down
    * rides the batch axis (`Seq("batch", "status")`): when q225 flags a
    * (status, batch) as anomalous, this names the seeds that drove it —
    * "batch 17's 60 exact_dups are 58× seed 104" turns the alarm into
    * the document to go look at. Same one-pass discipline at any
    * grouping: a (group, seed) partial agg, then a per-group max(struct)
    * arg-max — never a sort. */
  def reviewSummaryBy(deliveries: DataFrame,
                      groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    // ONE pass, ONE reference (opt r20): the totals and the arg-max fold
    // into a single aggregate over perSeed — `max(when(seed IS NOT NULL,
    // struct(n, -seed)))` ignores the null-seed row exactly as the old
    // filter + left-outer join-back did (a group with no seeds gets a
    // null struct, hence null top_seed/top_seed_n). The two-branch form
    // referenced perSeed twice, which forced every caller to pin its
    // input (q218 once recomputed the whole classify frame per branch);
    // single-pass, no caller pin is needed and the readout is one
    // aggregation chain at any scale.
    val perSeed = deliveries
      .groupBy(g :+ col("matched_seed"): _*)
      .agg(count(lit(1)).as("n"))
    perSeed.groupBy(g: _*)
      .agg(sum(col("n")).as("n_docs"),
        count(when(col("matched_seed").isNotNull, lit(1))).as("n_seeds"),
        max(when(col("matched_seed").isNotNull,
          struct(col("n"), (-col("matched_seed")).as("nseed")))).as("b"))
      .select(g :+ col("n_docs") :+ col("n_seeds")
        :+ (-col("b.nseed")).as("top_seed") :+ col("b.n").as("top_seed_n"): _*)
  }
}
