package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Opaque payload carried as a binary column + typed metadata. */
final case class Blob(doc_id: Long, payload: Array[Byte], source: String, n_chars: Long)

/** Extracted features for one payload. */
final case class BlobFeatures(doc_id: Long, n_bytes: Int, header_hex: String, width: Int)

/** Multimodal-column plumbing (BASELINE north-star): image/audio/video are
  * opaque `binary` columns with typed metadata; decode / feature-extract
  * runs batch-wise over partitions.
  *
  * No media libraries exist in this container (SURVEY env notes), so the
  * DECODER IS A STUB — a deterministic fake (byte length + header bytes +
  * a metadata-derived "width") standing in where a real image/audio decode
  * would run. What IS real and tested is the Spark-side plumbing this
  * pipeline needs at 100 TB:
  *   - schema: `binary` payload + typed metadata columns, a typed
  *     `Dataset[Blob]` boundary;
  *   - partition-batch execution: `mapPartitions` processes each partition
  *     as one iterator (the JVM analogue of `mapInPandas` batch shape), so
  *     a real decoder would amortize model/codec init once per partition,
  *     not per row;
  *   - narrow plan: decode is per-row, no shuffle; output is columnar and
  *     oracle-checkable because the fake is deterministic.
  */
object Multimodal extends QueryModule {

  def features(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blobs = Tables(spark, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        col("source"), col("n_chars"))
      .as[Blob]
    blobs.mapPartitions { it =>
      // STUB decode: a real implementation opens a codec ONCE here, then
      // decodes each payload; this fake derives features deterministically.
      it.map { b =>
        val header = b.payload.take(4).map("%02x".format(_)).mkString
        BlobFeatures(b.doc_id, b.payload.length, header, (b.n_chars % 256).toInt)
      }
    }.toDF()
      .orderBy(col("doc_id"))
  }

  /** The same feature extraction as [[features]] in pure built-in
    * expressions (VERDICT r02 next-round item 7) — the shape to prefer
    * whenever the "decode" is expressible without a codec: every column
    * stays inside WholeStageCodegen (verified by PlanRegressionSpec), the
    * scan prunes to the referenced columns, and there is no iterator
    * boundary at all. q51's `mapPartitions` remains the documented pattern
    * for codec-init-once decoding; this is the fast path for everything
    * else. Adds a payload digest (md5) — the content-addressing step a real
    * media pipeline runs before decode to dedup storage. */
  def featuresExpr(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text").cast("binary").as("payload"), col("n_chars"))
      .select(
        col("doc_id"),
        length(col("payload")).as("n_bytes"),
        lower(hex(substring(col("payload"), 1, 4))).as("header_hex"),
        md5(col("payload")).as("payload_md5"),
        (col("n_chars") % 256).cast("int").as("width"))
      .orderBy(col("doc_id"))

  /** Frame sampling over opaque payloads — the third multimodal verb
    * (decode q51, feature-extract q59, frame-sample here): take a fixed
    * 16-byte "frame" every 64 bytes of payload, one output row per
    * sampled frame. On real video this is the every-Nth-keyframe sampler
    * feeding a vision encoder; the Spark shape is what matters — a
    * generator (posexplode) over per-row slice arithmetic, rows ∝ frames
    * not payload bytes, all inside codegen, no shuffle before the
    * presentation sort. */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .filter(length(col("payload")) >= 16)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, int(floor((length(payload)-16)/64))), i -> substring(payload, i*64+1, 16))"))
          .as(Seq("frame_idx", "frame")))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        lower(hex(col("frame"))).as("frame_hex"))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** q208 — MULTIMODAL NEAR-DUP pairs by byte-level SimHash (q43's rule on
    * BYTES, not tokens): opaque payloads can't be tokenized, so the
    * shingles are fixed-width 8-byte windows at 4-byte stride over the
    * payload (taken on the hex encoding — 16 hex chars per shingle, 8-char
    * stride), each hashed to the repo-wide 60-bit md5 value; the sketch is
    * the standard ±1 bit-vote SimHash. Dedup for image/audio/video
    * payloads WITHOUT decoding — byte-identical regions vote the same
    * bits, so re-encoded-header / trimmed-tail variants land within a few
    * bits of Hamming distance. Candidate generation bands on the high 16
    * bits (equi-join, the q52 discipline — never all-pairs), verify is
    * `bit_count(xor) ≤ 12`.
    *
    * The sketch is the NATIVE codegen'd [[graft.functions.ByteSimHash64]]
    * expression — one compiled pass per row, a reused window buffer, no
    * explode, no shuffle before the band join. (The first cut spelled the
    * sketch as built-in HOFs; interpreted-lambda cost made the 32× probe
    * time out at ~2.4 B lambda evaluations — the native expression is the
    * preference-order (b) fix, value-identical to the SQL derivation
    * because each window is hashed as its lowercase hex string.) The
    * payload here is the documents text cast to binary — the container's
    * standing stand-in for real media bytes (q51's stub contract). */
  def byteSimhashSketch(blobs: DataFrame): DataFrame =
    blobs
      .filter(col("payload").isNotNull && length(col("payload")) >= 8)
      .withColumn("simhash",
        graft.functions.TextExpressions.byteSimhash64(col("payload"), 60))
      .select(col("doc_id"), col("simhash"))

  def byteSimhashPairs(blobs: DataFrame, maxHamming: Int = 12): DataFrame = {
    // the sketch self-joins (both band sides): checkpoint the 2-long/doc
    // frame so the payload scan runs ONCE however large the corpus
    val sh = byteSimhashSketch(blobs)
      .withColumn("band", shiftright(col("simhash"), 44))
      .localCheckpoint()
    val l = sh.select(col("doc_id").as("a"), col("simhash").as("ha"), col("band"))
    val r = sh.select(col("doc_id").as("b"), col("simhash").as("hb"), col("band"))
    l.join(r, Seq("band")).filter(col("a") < col("b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
      .orderBy(col("hamming"), col("a"), col("b"))
  }

  def byteSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    byteSimhashPairs(Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload")))

  /** Signature DATA rows for a blob batch — the multimodal ingest
    * gate's on-storage state ([[graft.streaming.StreamingMultimodalGate]]'s
    * descriptor binds it; one rule, two consumers): one
    * `("h", md5_hex, null)` row per payload and one `("sh", band, sketch)`
    * row per sketchable payload (≥ 8 bytes — shorter blobs still
    * exact-dedup by md5 but have no near check, q208's own filter). Each
    * row carries `src` = the lowest doc_id that first recorded the key
    * (the provenance owner, VERDICT r17 #3). The gate table adds the `pb`
    * probe bucket over (kind, sig) at its pinned fan-out (VERDICT r17 #2
    * — pb deliberately EXCLUDES the sketch: the near probe joins on the
    * band alone). */
  def gateSignatureData(blobs: DataFrame): DataFrame = {
    val sk = byteSimhashSketch(blobs)
      .select(lit("sh").as("kind"),
        shiftright(col("simhash"), 44).cast("string").as("sig"),
        col("simhash"), col("doc_id").as("src"))
    blobs.filter(col("payload").isNotNull)
      .select(lit("h").as("kind"), md5(col("payload")).as("sig"),
        lit(null).cast("long").as("simhash"), col("doc_id").as("src"))
      .union(sk)
      .groupBy(col("kind"), col("sig"), col("simhash"))
      .agg(min(col("src")).as("src"))
  }

  /** Classify `newBlobs` against a signature snapshot → the gate family's
    * shared delivery frame `(doc_id, status, matched_seed, score)`:
    * `exact_dup` (payload md5 seen; matched_seed = the md5 key's owner,
    * score = 0.0 — Hamming distance of identical bytes), `near_dup`
    * (shares a high-16-bit SimHash band AND verifies at `bit_count(xor)
    * ≤ maxHamming` — q208's candidate+verify rule; matched_seed = the
    * (hamming, owner)-minimal verified candidate via one min(struct)
    * arg-min, q214's rule; score = that Hamming distance), else `new`
    * (null provenance). Precedence exact > near (an exact dup always
    * also band-matches at Hamming 0). Both probes are distinct-reduced
    * joins driven by the (small) new side. */
  def gateClassify(newBlobs: DataFrame, sigs: DataFrame,
                   maxHamming: Int = 12): DataFrame = {
    val exact = newBlobs
      .filter(col("payload").isNotNull)
      .select(col("doc_id"), md5(col("payload")).as("sig"))
      .join(sigs.filter(col("kind") === "h")
          .groupBy(col("sig")).agg(min(col("src")).as("src")),
        Seq("sig"))
      .groupBy(col("doc_id")).agg(min(col("src")).as("exact_seed"))
    val near = byteSimhashSketch(newBlobs)
      .withColumn("band", shiftright(col("simhash"), 44).cast("string"))
      .join(sigs.filter(col("kind") === "sh")
          .groupBy(col("sig").as("band"), col("simhash").as("sh_seen"))
          .agg(min(col("src")).as("src")),
        Seq("band"))
      .withColumn("hamming",
        bit_count(col("simhash").bitwiseXOR(col("sh_seen"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("doc_id"))
      .agg(min(struct(col("hamming"), col("src"))).as("best"))
      .select(col("doc_id"), col("best.src").as("near_seed"),
        col("best.hamming").as("near_hamming"))
    newBlobs.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left_outer")
      .join(near, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("exact_seed").isNotNull, "exact_dup")
          .when(col("near_seed").isNotNull, "near_dup")
          .otherwise("new").as("status"),
        when(col("exact_seed").isNotNull, col("exact_seed"))
          .otherwise(col("near_seed")).as("matched_seed"),
        when(col("exact_seed").isNotNull, lit(0.0))
          .otherwise(col("near_hamming").cast("double")).as("score"))
  }

  /** q212 — the multimodal ingest gate as a BATCH query (the r17
    * streaming family's rule made oracle-checkable): payloads with
    * doc_id ≥ 400 classify against the doc_id < 400 seed corpus —
    * exactly one StreamingMultimodalGate micro-batch against its seed
    * (the q79 split convention), so the oracle pins the same rule the
    * stream runs. */
  def multimodalGate(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    gateClassify(blobs.filter(col("doc_id") >= 400),
      gateSignatureData(blobs.filter(col("doc_id") < 400)))
      .select(col("doc_id"), col("status")) // q212 is the status readout;
      .orderBy(col("doc_id"))               // provenance is q214's surface
  }

  /** q214 — gate PROVENANCE (q212 answers "is it a dup?", a dedup review
    * also asks "of WHAT?"): per incoming payload, the status plus the
    * matched seed doc and Hamming distance. Exact matches report the
    * LOWEST seed doc_id sharing the md5 (deterministic tie-break) at
    * Hamming 0 (identical bytes by definition — no sketch needed, so
    * sub-shingle payloads get provenance too); near matches report the
    * (hamming, seed_id)-minimal verified candidate — one `min(struct)`
    * aggregate over the band join, never a sort of the candidate set. */
  def multimodalGateProvenance(spark: SparkSession, dir: String,
                               maxHamming: Int = 12): DataFrame = {
    val blobs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val seed = blobs.filter(col("doc_id") < 400)
    val incoming = blobs.filter(col("doc_id") >= 400)
    val exact = incoming.select(col("doc_id"), md5(col("payload")).as("m"))
      .join(seed.select(md5(col("payload")).as("m"), col("doc_id").as("sid"))
        .groupBy(col("m")).agg(min(col("sid")).as("exact_seed")), Seq("m"))
      .select(col("doc_id"), col("exact_seed"))
    val near = byteSimhashSketch(incoming)
      .withColumn("band", shiftright(col("simhash"), 44))
      .join(byteSimhashSketch(seed)
          .select(shiftright(col("simhash"), 44).as("band"),
            col("doc_id").as("sid"), col("simhash").as("sh_seen")),
        Seq("band"))
      .withColumn("hamming",
        bit_count(col("simhash").bitwiseXOR(col("sh_seen"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("doc_id"))
      .agg(min(struct(col("hamming"), col("sid"))).as("best"))
      .select(col("doc_id"), col("best.sid").as("near_seed"),
        col("best.hamming").as("near_hamming"))
    incoming.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left_outer")
      .join(near, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("exact_seed").isNotNull, "exact_dup")
          .when(col("near_seed").isNotNull, "near_dup")
          .otherwise("new").as("status"),
        when(col("exact_seed").isNotNull, col("exact_seed"))
          .otherwise(col("near_seed")).as("matched_seed"),
        when(col("exact_seed").isNotNull, lit(0))
          .otherwise(col("near_hamming")).as("hamming"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, QueryFn] = Map(
    "q51_multimodal_features" -> features _,
    "q59_multimodal_expr" -> featuresExpr _,
    "q67_multimodal_frames" -> frameSample _,
    "q208_multimodal_simhash" -> (byteSimhashPairs(_, _)),
    "q212_multimodal_gate" -> multimodalGate _,
    "q214_multimodal_gate_provenance" -> (multimodalGateProvenance(_, _))
  )

  /** The per-doc 60-bit sketch CTE chain (…→ `shv(doc_id, simhash)`),
    * shared by the q208 pair oracle and the q212 gate oracle. */
  private val shvCtes: String = {
    val bits = (0 until 60)
      .map(j => s"CAST(sum(CASE WHEN ((v >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS b$j")
      .mkString(",\n        ")
    val recompose = (0 until 60)
      .map(j => s"(CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""hx AS (SELECT doc_id, lower(hex(encode(text))) AS hexp FROM documents
       |            WHERE text IS NOT NULL AND octet_length(encode(text)) >= 8),
       |g AS (SELECT doc_id, unnest(list_transform(range(1, length(hexp) - 14, 8),
       |        i -> substring(hexp, i, 16))) AS g FROM hx),
       |tv AS (SELECT doc_id, CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) AS v FROM g),
       |bits AS (SELECT doc_id,
       |        $bits
       |    FROM tv GROUP BY doc_id),
       |shv AS (SELECT doc_id, $recompose AS simhash FROM bits)""".stripMargin
  }

  /** q43's explode-form SimHash oracle on byte shingles (hex windows). */
  private val byteSimhashOracle: String =
    s"""WITH $shvCtes
       |SELECT a.doc_id AS a, b.doc_id AS b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM shv a JOIN shv b
       |  ON (a.simhash >> 44) = (b.simhash >> 44) AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
       |ORDER BY hamming, a, b""".stripMargin

  /** The q212 oracle: md5 membership for exact, the q208 band+verify
    * rule RESTRICTED to (seed, incoming) pairs for near, else new —
    * exactly [[gateClassify]]'s precedence. */
  private val multimodalGateOracle: String =
    s"""WITH $shvCtes,
       |near AS (SELECT DISTINCT b.doc_id FROM shv a JOIN shv b
       |  ON a.doc_id < 400 AND b.doc_id >= 400
       |  AND (a.simhash >> 44) = (b.simhash >> 44)
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 12)
       |SELECT d.doc_id,
       |  CASE WHEN md5(d.text) IN
       |         (SELECT md5(s.text) FROM documents s WHERE s.doc_id < 400)
       |         THEN 'exact_dup'
       |       WHEN d.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
       |       ELSE 'new' END AS status
       |FROM documents d WHERE d.doc_id >= 400 ORDER BY d.doc_id""".stripMargin

  /** The q214 oracle: exact = min seed doc_id per md5; near = the
    * (hamming, seed_id)-first row of the verified band join via a
    * row_number window — the same arg-min [[multimodalGateProvenance]]
    * computes with min(struct). */
  private val multimodalGateProvenanceOracle: String =
    s"""WITH $shvCtes,
       |ex AS (SELECT d.doc_id, min(s.doc_id) AS exact_seed
       |  FROM documents d JOIN documents s
       |    ON s.doc_id < 400 AND d.doc_id >= 400 AND md5(s.text) = md5(d.text)
       |  GROUP BY 1),
       |near AS (SELECT doc_id, sid, hamming FROM (
       |  SELECT b.doc_id, a.doc_id AS sid,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming,
       |         row_number() OVER (PARTITION BY b.doc_id
       |           ORDER BY bit_count(xor(a.simhash, b.simhash)), a.doc_id) AS rn
       |  FROM shv a JOIN shv b
       |    ON a.doc_id < 400 AND b.doc_id >= 400
       |    AND (a.simhash >> 44) = (b.simhash >> 44)
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 12) WHERE rn = 1)
       |SELECT d.doc_id,
       |  CASE WHEN e.exact_seed IS NOT NULL THEN 'exact_dup'
       |       WHEN n.sid IS NOT NULL THEN 'near_dup' ELSE 'new' END AS status,
       |  CASE WHEN e.exact_seed IS NOT NULL THEN e.exact_seed ELSE n.sid END AS matched_seed,
       |  CASE WHEN e.exact_seed IS NOT NULL THEN CAST(0 AS INT) ELSE n.hamming END AS hamming
       |FROM documents d
       |LEFT JOIN ex e ON e.doc_id = d.doc_id
       |LEFT JOIN near n ON n.doc_id = d.doc_id
       |WHERE d.doc_id >= 400 ORDER BY d.doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q208_multimodal_simhash" -> byteSimhashOracle,
    "q212_multimodal_gate" -> multimodalGateOracle,
    "q214_multimodal_gate_provenance" -> multimodalGateProvenanceOracle,
    "q51_multimodal_features" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       lower(hex(encode(substr(text, 1, 4)))) AS header_hex,
        |       CAST(n_chars % 256 AS INT) AS width
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    // md5(text) ≡ Spark's md5(cast(text as binary)): both hash the UTF-8 bytes.
    "q59_multimodal_expr" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       lower(hex(encode(substr(text, 1, 4)))) AS header_hex,
        |       md5(text) AS payload_md5,
        |       CAST(n_chars % 256 AS INT) AS width
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    "q67_multimodal_frames" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         unnest(range(0,
        |           CAST(floor((octet_length(encode(text)) - 16) / 64.0) AS BIGINT) + 1)) AS frame_idx
        |  FROM documents WHERE doc_id < 50 AND octet_length(encode(text)) >= 16)
        |SELECT f.doc_id, f.frame_idx,
        |       lower(hex(encode(substr(d.text, CAST(f.frame_idx*64 + 1 AS INT), 16)))) AS frame_hex
        |FROM f JOIN documents d ON d.doc_id = f.doc_id
        |ORDER BY f.doc_id, f.frame_idx""".stripMargin
  )
}
