package graft.streaming

import graft.operators.Multimodal

/** Streaming multimodal ingest gate — q208's continuous twin (VERDICT r16
  * #4): each micro-batch of opaque payloads (`doc_id BIGINT, payload
  * BINARY`, extra columns pass through) is classified against a SIGNATURE
  * TABLE ON STORAGE as `exact_dup` (payload md5 seen), `near_dup` (shares
  * a high-16-bit SimHash band with a seen sketch AND verifies at
  * `bit_count(xor) ≤ maxHamming` — exactly batch q208's candidate+verify
  * rule on the [[Multimodal.byteSimhashSketch]] 60-bit byte sketch), or
  * `new`; accepted (`new`) payloads' signatures append back. Image/audio
  * payloads get the same exact/near/new gate text ingest already has
  * ([[StreamingDedup]]), WITHOUT decoding.
  *
  * The state discipline is [[StreamingDedup]]'s verbatim — state is the
  * parquet signature table, not the state store, because "everything ever
  * seen" wants unbounded cheap storage shared with the nightly batch jobs:
  *   - appends are CHECKPOINT-SHAPED: each batch overwrites its own
  *     `batch=<batchId>` partition, so an at-least-once foreachBatch replay
  *     cannot double-append — the table is exactly-once;
  *   - a restarted query resumes from the source checkpoint: processed
  *     batches are NOT re-read (restart-without-rescan) and their
  *     signatures are already on storage;
  *   - docs classify against the table as of batch START (batch-internal
  *     near-pairs are both `new`, exactly like q208 run over one ingest
  *     day) — the NEXT batch sees their signatures.
  *
  * Signature rows carry (kind, sig, simhash): one `("h", md5_hex, null)`
  * per payload and one `("sh", band, sketch)` per sketchable payload
  * (≥ 8 bytes — shorter blobs still exact-dedup by md5 but have no near
  * check, q208's own filter). The near probe is an EQUI-join on the band
  * (the q52 discipline — never all-pairs) followed by the Hamming verify;
  * per batch it costs the batch sketch scan plus a join whose build side
  * is the band-distinct signature table. */
object StreamingMultimodalGate {

  /** Signature table DATA schema (the `pb`/`batch` partition columns are
    * [[GateLoop]]'s) — pinned so empty seeds/partitions read. `src` is
    * the provenance owner (VERDICT r17 #3). */
  val SigSchema = "kind STRING, sig STRING, simhash BIGINT, src BIGINT"

  /** The multimodal gate's typed identity (SURVEY §7.9 r19 #1) — the
    * probe bucket hashes (kind, sig) only, never the sketch: the near
    * probe joins on the band alone. `classify` at the default
    * `maxHamming` of 12; a caller tuning the verify threshold binds its
    * own `descriptor.copy(classify = Multimodal.gateClassify(_, _, h))`. */
  val descriptor: GateDescriptor = GateDescriptor(
    name = "multimodal",
    sigSchema = SigSchema,
    keyCol = "doc_id",
    pbKeyCols = Seq("kind", "sig"),
    payloadCols = Seq("payload"),
    dataRows = Multimodal.gateSignatureData,
    classify = Multimodal.gateClassify(_, _, 12))
}
