package graft

import graft.operators.{Dedup, Multimodal, Similarity}
import graft.streaming.{GateDescriptor, StreamingDedup, StreamingEmbeddingGate,
  StreamingMultimodalGate}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The gate family's SHARED DELIVERY FRAME (VERDICT r17 #3/#6): every
  * signature gate's classify emits `(key, status, matched_seed, score)`
  * — one schema across text, bytes, and vectors, so a review-queue sink
  * consumes any gate without a per-gate adapter and learns "duplicate of
  * WHAT" without a batch re-join. Per-gate score semantics: text = the
  * shared-signature-key count (1.0 for exact — the sha key), bytes =
  * Hamming distance (0.0 for exact), vectors = cosine (1.0 for exact).
  * Parity is asserted against each gate's ORACLE-CHECKED batch twin
  * (q217 / q214 / q216) on real testdata. */
class GateDeliverySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** One batch against a seed's signature rows, under `d`'s rule. */
  private def classify(d: GateDescriptor, batch: org.apache.spark.sql.DataFrame,
                       seed: org.apache.spark.sql.DataFrame) =
    d.classify(batch, d.dataRows(seed))

  private def frameOf(df: org.apache.spark.sql.DataFrame): Seq[(String, Any)] =
    df.schema.fields.map(f => f.name -> f.dataType).toSeq

  test("all three gates deliver one frame: (key, status, matched_seed, score)") {
    import spark.implicits._
    val docs = Seq((500L, "one probe document body here")).toDF("doc_id", "text")
    val blobs = docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
    val vecs = Seq((500L, Seq.tabulate(64)(_.toDouble))).toDF("vec_id", "embedding")

    val text = classify(StreamingDedup.descriptor, docs, docs.limit(0))
    val bytes = classify(StreamingMultimodalGate.descriptor, blobs, blobs.limit(0))
    val emb = classify(StreamingEmbeddingGate.descriptor, vecs, vecs.limit(0))

    val expectedTail = Seq("status" -> StringType,
      "matched_seed" -> LongType, "score" -> DoubleType)
    assert(frameOf(text) === ("doc_id" -> LongType) +: expectedTail)
    assert(frameOf(bytes) === ("doc_id" -> LongType) +: expectedTail)
    assert(frameOf(emb) === ("vec_id" -> LongType) +: expectedTail)
  }

  test("text gate delivery == batch q217, and near provenance is the " +
      "independently-derived (most-shared-bands, lowest-owner) arg-max") {
    val docs = Tables(spark, sf, "documents")
    val seed = docs.filter(col("doc_id") < 400)
    val incoming = docs.filter(col("doc_id") >= 400)
    val delivered = classify(StreamingDedup.descriptor, incoming, seed).collect()
      .map(r => r.getLong(0) -> r).toMap
    val batch = Dedup.dedupGateProvenance(spark, sf).collect()
    assert(batch.nonEmpty && batch.length == delivered.size)
    batch.foreach { b =>
      val d = delivered(b.getLong(0))
      assert(d.getString(1) == b.getString(1) &&
        (d.isNullAt(2) && b.isNullAt(2) || d.getLong(2) == b.getLong(2)) &&
        (d.isNullAt(3) && b.isNullAt(3) || d.getDouble(3) == b.getDouble(3)),
        s"doc ${b.getLong(0)}: stream $d != batch $b")
    }

    // independent recomputation of the near arg-max from the raw band rows
    val owners = Dedup.bandRows(seed).groupBy(col("band"))
      .agg(min(col("doc_id")).as("src")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val incBands = Dedup.bandRows(incoming).select(col("doc_id"), col("band"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val nears = batch.filter(_.getString(1) == "near_dup")
    assert(nears.nonEmpty, "no near_dup rows at this SF — test degenerate")
    nears.foreach { r =>
      val byOwner = incBands.filter(_._1 == r.getLong(0))
        .flatMap(p => owners.get(p._2)).groupBy(identity)
        .map { case (src, hits) => (hits.length, src) }
      val best = byOwner.toSeq.map { case (n, src) => (-n, src) }.min
      assert((r.getLong(2), r.getDouble(3)) == (best._2, -best._1.toDouble),
        s"doc ${r.getLong(0)}: provenance != independent arg-max $best")
    }
    batch.filter(_.getString(1) == "new").foreach(r =>
      assert(r.isNullAt(2) && r.isNullAt(3)))
    batch.filter(_.getString(1) == "exact_dup").foreach(r =>
      assert(r.getLong(2) < 400 && r.getDouble(3) == 1.0))
  }

  test("multimodal gate delivery == batch q214 (independent corpus-side derivation)") {
    val blobs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val delivered = classify(StreamingMultimodalGate.descriptor,
        blobs.filter(col("doc_id") >= 400), blobs.filter(col("doc_id") < 400))
      .collect().map(r => r.getLong(0) -> r).toMap
    // q214 derives provenance from the corpus directly (no signature
    // table) — agreement is a genuine cross-check, not code identity
    val q214 = Multimodal.multimodalGateProvenance(spark, sf).collect()
    assert(q214.nonEmpty && q214.length == delivered.size)
    assert(q214.exists(_.getString(1) == "near_dup"))
    q214.foreach { b =>
      val d = delivered(b.getLong(0))
      assert(d.getString(1) == b.getString(1), s"status drift: $b vs $d")
      if (b.isNullAt(2)) assert(d.isNullAt(2) && d.isNullAt(3), s"$b vs $d")
      else assert(d.getLong(2) == b.getLong(2) &&
        d.getDouble(3) == b.getInt(3).toDouble, s"$b vs $d")
    }
  }

  test("embedding gate delivery == batch q216 (planted twins included)") {
    val base = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val mx = base.agg(max(col("vec_id"))).head().getLong(0)
    val twins = base.filter(col("vec_id") === 5)
      .select(lit(mx + 1).as("vec_id"), col("embedding"))
      .unionAll(base.filter(col("vec_id") === 7)
        .select(lit(mx + 2).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0)).as("embedding")))
    val delivered = classify(StreamingEmbeddingGate.descriptor,
        base.filter(col("vec_id") >= 400).unionAll(twins),
        base.filter(col("vec_id") < 400))
      .collect().map(r => r.getLong(0) -> r).toMap
    val q216 = Similarity.embeddingGate(spark, sf).collect()
    assert(q216.nonEmpty && q216.length == delivered.size)
    assert(q216.exists(_.getString(1) == "exact_dup") &&
      q216.exists(_.getString(1) == "near_dup"))
    q216.foreach { b =>
      val d = delivered(b.getLong(0))
      assert(d.getString(1) == b.getString(1), s"status drift: $b vs $d")
      if (b.isNullAt(2)) assert(d.isNullAt(2) && d.isNullAt(3), s"$b vs $d")
      else assert(d.getLong(2) == b.getLong(2) &&
        d.getDouble(3) == b.getDouble(3), s"$b vs $d")
    }
  }

  test("q227's joint chain twin == the REAL joint pair loop on testdata, " +
      "and batchMix over the joint sink == over the chain frames " +
      "(VERDICT r19 #4: the health rule oracle-checked over joint_status)") {
    import java.nio.file.Files
    import graft.streaming.{GateDeliveries, GateTable, JointTables,
      StreamingDedup, StreamingEmbeddingGate}
    val docs = graft.Tables(spark, sf, "documents")
    val emb2 = Similarity.plantedEmbTable(spark, sf)
    val items = docs.join(
      emb2.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
    val jt = JointTables(
      GateTable(StreamingDedup.descriptor,
        Files.createTempDirectory("graft-jh-text-").toString),
      GateTable(StreamingEmbeddingGate.descriptor,
        Files.createTempDirectory("graft-jh-vec-").toString))
    // per-surface seeds from the FULL tables (the chain's seed sets —
    // jt.seed would seed both surfaces from the docs∩emb slice)
    jt.text.seed(docs.filter(col("doc_id") < 400))
    jt.vec.seed(emb2.filter(col("vec_id") < 400))
    val qDir = Files.createTempDirectory("graft-jh-queue-").toString
    val deliver = GateDeliveries.sink(qDir, statusCol = "joint_status")
    jt.processBatch(items.filter(col("doc_id") >= 400 && col("doc_id") < 475),
      0L, deliver)
    jt.processBatch(items.filter(col("doc_id") >= 475), 1L, deliver)

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "text_status", "emb_status", "joint_status", "batch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    val chain = Similarity.jointBatchChain(spark, sf).localCheckpoint(true)
    assert(rows(chain) === rows(GateDeliveries.readJoint(spark, qDir)),
      "the unrolled chain twin must reproduce the real pair loop exactly")

    def mix(df: org.apache.spark.sql.DataFrame) = GateDeliveries
      .batchMix(df, statusCol = "joint_status")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val overSink = mix(GateDeliveries.readJoint(spark, qDir))
    assert(overSink === mix(chain),
      "one rule, two consumers: mix over the sink == mix over the frames")
    assert(overSink === Similarity.gateHealthJoint(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet)
  }

  test("mixDrift pins the pairwise JSD by hand, drops boundary pairs, " +
      "and reads identically over the sink table (one rule, two consumers)") {
    import spark.implicits._
    import graft.streaming.GateDeliveries
    // batches 0 and 1 identical mixes -> jsd 0; batch 2 disjoint -> ln 2
    def frame(rows: (Long, String, Option[Long], Double)*) =
      rows.toSeq.map(r => (r._1, r._2, r._3.map(Long.box).orNull, r._4))
        .toDF("doc_id", "status", "matched_seed", "score")
        .select(col("doc_id"), col("status"),
          col("matched_seed").cast("long"), col("score"))
    val b0 = frame((1L, "new", None, 0.0), (2L, "new", None, 0.0))
    val b1 = frame((3L, "new", None, 0.0), (4L, "new", None, 0.0))
    val b2 = frame((5L, "exact_dup", Some(7L), 1.0),
      (6L, "near_dup", Some(9L), 2.0))
    val union = b0.withColumn("batch", lit(0L))
      .unionByName(b1.withColumn("batch", lit(1L)))
      .unionByName(b2.withColumn("batch", lit(2L)))
    val got = GateDeliveries.mixDrift(union).orderBy(col("batch"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // pair 1: one shared key, identical -> 0.0; pair 2: 3 disjoint keys,
    // each side's per-key term is ln 2 -> jsd = ln 2 quantized = 0.693147
    assert(got.toSeq === Seq((1L, 1L, 2L, 2L, 0.0),
      (2L, 3L, 2L, 2L, 0.693147)))

    // the sink-table consumer computes the identical readout
    val qDir = java.nio.file.Files.createTempDirectory("graft-drift-q-").toString
    val sink = GateDeliveries.sink(qDir)
    sink(b0, 0L); sink(b1, 1L); sink(b2, 2L)
    val overTable = GateDeliveries.mixDrift(
        GateDeliveries.read(spark, qDir, StreamingDedup.descriptor))
      .orderBy(col("batch"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(overTable.toSeq === got.toSeq)

    // a joint queue drifts on the composed status alone (no seed column)
    val joint = Seq((1L, "new", "new", "new", 0L),
        (2L, "new", "new", "new", 0L),
        (3L, "exact_dup", "new", "exact_dup", 1L),
        (4L, "new", "near_dup", "near_dup", 1L))
      .toDF("doc_id", "text_status", "emb_status", "joint_status", "batch")
    val jd = GateDeliveries.mixDrift(joint, statusCol = "joint_status",
      seedCol = None).collect()
    assert(jd.length === 1 && jd.head.getLong(0) === 1L &&
      jd.head.getDouble(4) === 0.693147)
  }

  test("mixAnomaly fires q131's flag on a real 8-batch history — MAD " +
      "path and zero-MAD fallback — and reads identically over the sink") {
    import spark.implicits._
    import graft.streaming.GateDeliveries
    // per batch 0..7: 'new' counts [1,2,1,3,1,2,1,60] -> med 1.5,
    // MAD 0.5 -> batch 7 z = 0.6745*58.5/0.5 = 78.9 flagged, batch 3
    // z = 2.0235 not; 'exact_dup' counts [2,2,2,2,2,2,2,5] -> MAD 0 ->
    // fallback flags exactly the c != median batch
    val newCounts = Seq(1, 2, 1, 3, 1, 2, 1, 60)
    val dupCounts = Seq(2, 2, 2, 2, 2, 2, 2, 5)
    var id = 0L
    def batchFrame(b: Int) = {
      val rows =
        Seq.fill(newCounts(b))("new").map { s => id += 1; (id, s, None: Option[Long], 0.0) } ++
        Seq.fill(dupCounts(b))("exact_dup").map { s => id += 1; (id, s, Some(7L), 1.0) }
      rows.map(r => (r._1, r._2, r._3.map(Long.box).orNull, r._4))
        .toDF("doc_id", "status", "matched_seed", "score")
        .select(col("doc_id"), col("status"),
          col("matched_seed").cast("long"), col("score"))
    }
    val frames = (0 until 8).map(b => batchFrame(b).withColumn("batch", lit(b.toLong)))
    val union = frames.reduce(_ unionByName _)
    val got = GateDeliveries.mixAnomaly(union)
      .orderBy(col("batch"), col("status"))
      .collect().map(r => ((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getBoolean(6)))).toMap
    // the one MAD-path flag and the one fallback flag, nothing else
    assert(got((7L, "new")) === (60L, true))
    assert(got((7L, "exact_dup")) === (5L, true))
    assert(got.count(_._2._2) === 2)
    assert(got((3L, "new")) === (3L, false)) // z = 2.0235, under 3.5
    // z spot-check on the flagged batch
    val z = GateDeliveries.mixAnomaly(union)
      .filter(col("batch") === 7 && col("status") === "new")
      .head().getDouble(5)
    assert(z === 78.9165)

    // sink-table consumer computes the identical frame
    val qDir = java.nio.file.Files.createTempDirectory("graft-anom-q-").toString
    val sink = GateDeliveries.sink(qDir)
    frames.zipWithIndex.foreach { case (f, b) =>
      sink(f.drop("batch"), b.toLong)
    }
    val overTable = GateDeliveries.mixAnomaly(
        GateDeliveries.read(spark, qDir, StreamingDedup.descriptor))
      .orderBy(col("batch"), col("status"))
      .collect().map(r => ((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getBoolean(6)))).toMap
    assert(overTable === got)

    // the retention fold's batch=-1 archive is NOT a batch (review
    // catch): a folded queue — the archive holding the SUM of folded
    // batches — changes neither the anomaly series nor the drift pairs
    val folded = union.unionByName(
      (1 to 500).map(i => (1000L + i, "new", 0.0))
        .toDF("doc_id", "status", "score")
        .select(col("doc_id"), col("status"),
          lit(null).cast("long").as("matched_seed"), col("score"),
          lit(-1L).as("batch")))
    val gotFolded = GateDeliveries.mixAnomaly(folded)
      .orderBy(col("batch"), col("status"))
      .collect().map(r => ((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getBoolean(6)))).toMap
    assert(gotFolded === got)
    assert(GateDeliveries.mixDrift(folded).collect().toSet
      === GateDeliveries.mixDrift(union).collect().toSet)
  }

  test("reviewSummaryBy drills a (batch, status) cell down to its driving " +
      "seeds — hand-pinned arg-max, status-only parity, sink agreement") {
    import spark.implicits._
    import graft.streaming.GateDeliveries
    def frame(rows: (Long, String, Option[Long], Double)*) =
      rows.toSeq.map(r => (r._1, r._2, r._3.map(Long.box).orNull, r._4))
        .toDF("doc_id", "status", "matched_seed", "score")
        .select(col("doc_id"), col("status"),
          col("matched_seed").cast("long"), col("score"))
    // batch 0: near_dups 3× seed 5 + 1× seed 9, one new; batch 1:
    // exact_dups 4× seed 2 (the "one document poisoning the ingest")
    val b0 = frame((1L, "near_dup", Some(5L), 2.0),
      (2L, "near_dup", Some(5L), 1.0), (3L, "near_dup", Some(5L), 3.0),
      (4L, "near_dup", Some(9L), 1.0), (5L, "new", None, 0.0))
    val b1 = frame((6L, "exact_dup", Some(2L), 1.0),
      (7L, "exact_dup", Some(2L), 1.0), (8L, "exact_dup", Some(2L), 1.0),
      (9L, "exact_dup", Some(2L), 1.0))
    val union = b0.withColumn("batch", lit(0L))
      .unionByName(b1.withColumn("batch", lit(1L)))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .orderBy(col("batch"), col("status"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5))).toSeq
    val got = rows(GateDeliveries.reviewSummaryBy(union, Seq("batch", "status")))
    assert(got === Seq(
      (0L, "near_dup", 4L, 2L, 5L, 3L),
      (0L, "new", 1L, 0L, -1L, -1L),
      (1L, "exact_dup", 4L, 1L, 2L, 4L)))
    // the status-only grouping IS q218's reviewSummary
    assert(GateDeliveries.reviewSummaryBy(union, Seq("status")).collect().toSet
      === GateDeliveries.reviewSummary(union).collect().toSet)
    // sink-table consumer computes the identical drill-down
    val qDir = java.nio.file.Files.createTempDirectory("graft-drill-q-").toString
    val sink = GateDeliveries.sink(qDir)
    sink(b0, 0L); sink(b1, 1L)
    assert(rows(GateDeliveries.reviewSummaryBy(
      GateDeliveries.read(spark, qDir, StreamingDedup.descriptor),
      Seq("batch", "status"))) === got)
  }
}
