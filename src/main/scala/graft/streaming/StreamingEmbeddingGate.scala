package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming embedding ingest gate — q216's continuous twin, completing
  * the gate family's streaming surface (text: [[StreamingDedup]], opaque
  * bytes: [[StreamingMultimodalGate]], vectors: THIS): each micro-batch
  * of embeddings (`vec_id BIGINT, embedding ARRAY<numeric>`) classifies
  * against a SIGNATURE TABLE ON STORAGE as `exact_dup` (byte-identical
  * vector — a [[Similarity.vecDigest]] equi-join with an array-equality
  * verify: the 16-byte digest is the shuffle/join key, never the
  * 512-byte vector — VERDICT r17 #1), `near_dup` (shares a hyperplane
  * bucket — q61's ONE bucket formula via [[Similarity.bucketed]] — and
  * verifies at cosine ≥ τ), or `new`; accepted vectors' signatures
  * append back. Deliveries carry the gate family's shared provenance
  * frame `(vec_id, status, matched_seed, score)` — q216's columns:
  * matched_seed = the first-seen owner of the matched signature (exact)
  * or the (cos desc, owner asc) arg-max verified candidate (near);
  * score = cosine similarity, 1.0 for exact by definition.
  *
  * State discipline is [[GateLoop]]'s verbatim: signatures are parquet
  * (`batch=<id>` partition overwrite → exactly-once under at-least-once
  * replay; `pb=<b>` probe-bucket sub-partitions → a micro-batch opens
  * only its own buckets; restart resumes from the source checkpoint
  * without rescan; batch-internal near-pairs are both `new`). Signature
  * rows carry (dig, bucket, nrm, emb, src) — the vector itself travels,
  * because the near probe needs the full dot product (q216's
  * exact-verify rule, unlike the SimHash gate whose 60-bit sketch
  * suffices), and the digest keeps the EXACT probe's join key 16 bytes
  * with the array equality demoted to a collision verify inside the
  * aggregate. At 100 TB the emb column is the same width the corpus
  * already stores; the bucket column keeps the near probe an equi-join.
  * [[GateTable.compact]] applies unchanged (`SigSchema` below). */
object StreamingEmbeddingGate {

  /** Signature table DATA schema (the `pb`/`batch` partition columns are
    * [[GateLoop]]'s). */
  val SigSchema =
    "dig STRING, bucket BIGINT, nrm DOUBLE, emb ARRAY<DOUBLE>, src BIGINT"

  /** The embedding gate's typed identity (SURVEY §7.9 r19 #1) — `pb`
    * hashes the HYPERPLANE bucket, sound for both probes because
    * byte-identical vectors share it, so the exact probe's digest lookup
    * always lands in the probed partitions too. `classify` at the
    * default τ; a caller tuning the verify threshold binds its own
    * `descriptor.copy(classify = classify(_, _, tau))`. */
  val descriptor: GateDescriptor = GateDescriptor(
    name = "embedding",
    sigSchema = SigSchema,
    keyCol = "vec_id",
    pbKeyCols = Seq("bucket"),
    payloadCols = Seq("embedding"),
    dataRows = signatureData,
    classify = classify(_, _, 0.999))

  private def sketch(vecs: DataFrame): DataFrame =
    Similarity.bucketed(vecs, Similarity.DedupPlanes)
      .select(col("vec_id"), Similarity.vecDigest(col("emb")).as("dig"),
        col("bucket").cast("long").as("bucket"), col("nrm"), col("emb"))

  /** Signature DATA rows for a (static) vector batch: one row per
    * distinct vector, `src` = the lowest vec_id that first recorded it
    * (the provenance owner). [[GateDescriptor.signatureRows]] adds `pb`
    * over the HYPERPLANE bucket at the table's pinned fan-out. */
  def signatureData(vecs: DataFrame): DataFrame =
    sketch(vecs)
      .groupBy(col("dig"), col("bucket"), col("nrm"), col("emb"))
      .agg(min(col("vec_id")).as("src"))

  /** Classify `newVecs` against a signature snapshot → the shared
    * provenance frame `(vec_id, status, matched_seed, score)`.
    * Precedence exact > near — q216's rule verbatim, including the
    * digest-collision verify INSIDE the aggregate (a post-join equality
    * filter would be merged back into the join keys, re-keying on the
    * raw array). */
  def classify(newVecs: DataFrame, sigs: DataFrame,
               tau: Double = 0.999): DataFrame = {
    val n = sketch(newVecs)
    val exact = n.select(col("vec_id"), col("dig"), col("emb"))
      .join(sigs.select(col("dig"), col("emb").as("es"), col("src")),
        Seq("dig"))
      .groupBy(col("vec_id"))
      .agg(min(when(col("emb") === col("es"), col("src"))).as("exact_seed"))
      .filter(col("exact_seed").isNotNull)
    val near = n
      .join(sigs.select(col("bucket"), col("nrm").as("ns"),
          col("emb").as("es"), col("src")),
        Seq("bucket"))
      .withColumn("cos_sim",
        round(Similarity.dot(col("emb"), col("es")) / (col("nrm") * col("ns")), 6))
      .filter(col("cos_sim") >= tau)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos_sim"), (-col("src")).as("nsrc"))).as("best"))
      .select(col("vec_id"), (-col("best.nsrc")).as("near_seed"),
        col("best.cos_sim").as("near_sim"))
    newVecs.select(col("vec_id"))
      .join(exact, Seq("vec_id"), "left_outer")
      .join(near, Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        when(col("exact_seed").isNotNull, "exact_dup")
          .when(col("near_seed").isNotNull, "near_dup")
          .otherwise("new").as("status"),
        when(col("exact_seed").isNotNull, col("exact_seed"))
          .otherwise(col("near_seed")).as("matched_seed"),
        when(col("exact_seed").isNotNull, lit(1.0))
          .otherwise(col("near_sim")).as("score"))
  }
}
