package graft.streaming

import graft.operators.Dedup

/** Streaming incremental corpus dedup — q79's classifier promoted to a
  * first-class continuous entry point (the reference's own run-forever loop
  * shape, `/root/reference/kinesis.go:99-151`, applied to corpus ingest).
  *
  * Each micro-batch of incoming docs (`doc_id BIGINT, text STRING`, any
  * extra columns pass through) is classified against a SIGNATURE TABLE ON
  * STORAGE as `exact_dup` (content sha-256 seen), `near_dup` (shares a
  * minhash LSH band — [[Dedup.bandRows]], the exact keys batch q79 uses),
  * or `new`; then the accepted (`new`) docs' signatures are appended back.
  * The classify rule (and the oracle-checked batch twin q217) lives in
  * [[Dedup.gateClassifyProvenance]] — one rule, two consumers — and each
  * delivery carries the gate family's shared PROVENANCE frame
  * `(doc_id, status, matched_seed, score)`: matched_seed = the seed doc
  * that first recorded the matching key, score = 1.0 for exact (the one
  * matching sha key) or the shared-band count for near.
  *
  * State lives in the parquet table, NOT the state store:
  *   - it survives restarts and is shared/queryable by other jobs;
  *   - it grows on cheap storage — "everything ever seen" needs nothing
  *     bounded, where watermarked in-memory dedup
  *     ([[graft.operators.StreamingBatch]] q33) bounds state by TIME;
  *   - at 100 TB the table is the same pre-materialized signature store the
  *     batch pipeline writes; streaming and nightly jobs dedup against one
  *     source of truth.
  *
  * The micro-batch discipline — exactly-once signature appends under
  * at-least-once foreachBatch (own-partition exclusion + `batch=<id>`
  * overwrite), probe-bucket pruned snapshots (`pb=<b>` sub-partitions:
  * a batch opens only its own keys' buckets however large the seed), the
  * fresh-checkpoint guard — is [[GateLoop]]'s, shared verbatim by all
  * three gates. A restarted query resumes from the source checkpoint —
  * already-processed batches are NOT re-read (restart-without-rescan).
  *
  * Ordering within a batch: all docs classify against the table as of the
  * batch START (a batch-internal duplicate pair is both `new`, exactly like
  * batch q79 classifying one day's docs against yesterday's corpus); the
  * NEXT batch sees both rows' signatures. Callers wanting batch-internal
  * uniqueness pick min doc_id per hash downstream.
  */
object StreamingDedup {

  /** Signature table DATA schema (the `pb`/`batch` partition columns are
    * [[GateLoop]]'s) — pinned so empty seeds/partitions read. */
  val SigSchema = "kind STRING, sig STRING, src BIGINT"

  /** The text gate's typed identity (SURVEY §7.9 r19 #1) — bind it to a
    * directory with `GateTable(StreamingDedup.descriptor, sigDir)`, then
    * `seed` the corpus and `start` the loop. Signature rows
    * ([[Dedup.gateSignatureData]]): one `("h", sha256)` row per doc plus
    * one `("band", key)` row per LSH band, each with its first-seen
    * owner `src`; one unified table keeps the exact and near checks in
    * one scan/join. */
  val descriptor: GateDescriptor = GateDescriptor(
    name = "text",
    sigSchema = SigSchema,
    keyCol = "doc_id",
    pbKeyCols = Seq("kind", "sig"),
    payloadCols = Seq("text"),
    dataRows = Dedup.gateSignatureData,
    classify = Dedup.gateClassifyProvenance)
}
