package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input sweep over the text/dedup and event operator families:
  * empty/whitespace/single-token documents and null/NaN/same-instant
  * events must EVALUATE (no exception, no phantom rows) — the class behind
  * the round-20 boundary defects (q50's phantom 8-grams from `sequence`
  * auto-descend, q112's Int-product wrap, q189's κ divide-by-zero). The
  * oracle gate only exercises generated testdata, which never contains
  * these shapes; this spec pins the boundary surface permanently, plus a
  * few semantic anchors where the degenerate answer is forced (ordered
  * funnel at equal instants, cross-user as-of isolation, same-instant
  * sessionization).
  */
class DegenerateInputSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** empty text, 1-char, whitespace-only, single token, two tokens — all
    * below the 3-token shingle / 8-char gram thresholds somewhere. */
  private lazy val docsDir: String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-degen-docs").toString
    Seq(
      (1L, "", "en", "s", 0L),
      (2L, "x", "en", "s", 1L),
      (3L, "   ", "en", "s", 3L),
      (4L, "solo", "en", "s", 4L),
      (5L, "ab cd", "zh", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  /** null value, NaN value, three users, every user-10/11 event at ONE
    * instant, null props — ts in the fixture nanos convention. */
  private lazy val eventsDir: String = {
    import spark.implicits._
    val t0 = 1767225600L * 1000000000L
    val t1 = t0 + 97200L * 1000000000L
    val d = java.nio.file.Files.createTempDirectory("graft-degen-ev").toString
    Seq(
      (1L, t0, 10L, "view", Option.empty[Double], Some("{}")),
      (2L, t0, 10L, "purchase", Some(5.0), Some("""{"k":1}""")),
      (3L, t0, 11L, "click", Some(0.0), Option.empty[String]),
      (4L, t0, 11L, "click", Some(0.0), Option.empty[String]),
      (5L, t1, 12L, "signup", Some(Double.NaN), Some("""{"k":2}""")),
      (6L, t1, 12L, "view", Some(1.0), Some("{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    d
  }

  private def evaluates(df: org.apache.spark.sql.DataFrame): Long = df.count()

  test("text/dedup family evaluates on sub-threshold documents " +
      "(no sequence auto-descend, no empty-array explosion)") {
    import org.apache.spark.sql.functions.col
    val probes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "langId" -> (() => operators.TextStats.langId(spark, docsDir)),
      "textStats" -> (() => operators.TextStats.textStats(spark, docsDir)),
      "qualityScore" -> (() => operators.TextStats.qualityScore(spark, docsDir)),
      "tokenCount" -> (() => operators.TextStats.tokenCount(spark, docsDir)),
      "minhashSignatures" -> (() => operators.Dedup.minhashSignatures(spark, docsDir)),
      "lshNearDupPairs" -> (() => operators.Dedup.lshNearDupPairs(spark, docsDir)),
      "simhash" -> (() => operators.Dedup.simhash(spark, docsDir)),
      "fingerprint" -> (() => operators.TextStats.fingerprint(spark, docsDir)),
      "filterFunnel" -> (() => operators.TextStats.filterFunnel(spark, docsDir)),
      "dupSpanCoverage" -> (() => operators.Dedup.dupSpanCoverage(spark, docsDir)),
      "dupSpanCut" -> (() => operators.Dedup.dupSpanCut(spark, docsDir)),
      "tokenPmi" -> (() => operators.TextStats.tokenPmi(
        spark.read.parquet(s"$docsDir/documents.parquet"))),
      // the text gate's batch twins: every fixture doc is in the < 400
      // seed, so each incoming batch is empty
      "q217" -> (() => operators.Dedup.dedupGateProvenance(spark, docsDir)),
      "q218" -> (() => operators.Dedup.gateReviewQueue(spark, docsDir)),
      "q219" -> (() => operators.Dedup.gateBatchChain(spark, docsDir)),
      "q222" -> (() => operators.Dedup.gateHealth(spark, docsDir)),
      "q224" -> (() => operators.Dedup.gateMixDrift(spark, docsDir)),
      "q225" -> (() => operators.Dedup.gateMixAnomaly(spark, docsDir)),
      "q226" -> (() => operators.Dedup.gateSeedDrilldown(spark, docsDir)))
    probes.foreach { case (name, f) =>
      withClue(s"$name on degenerate docs: ") { evaluates(f()) }
    }
    // anchors: no pair op may fabricate pairs out of sub-threshold docs
    assert(evaluates(operators.Dedup.lshNearDupPairs(spark, docsDir)) === 0L)
    assert(evaluates(operators.Dedup.ngramJaccardPairsExact(
      spark.read.parquet(s"$docsDir/documents.parquet")
        .select(col("doc_id"), col("text")), 0.5)) === 0L)
    // and the only ≥3-token-free corpus yields zero span-coverage rows
    assert(evaluates(operators.Dedup.dupSpanCoverage(spark, docsDir)) === 0L)
    // an empty incoming batch delivers no provenance rows
    assert(evaluates(operators.Dedup.dedupGateProvenance(spark, docsDir)) === 0L)
  }

  test("event family evaluates on null/NaN values and same-instant " +
      "timelines; ordered-funnel and as-of anchors hold") {
    val probes: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "funnel" -> (() => operators.ProductAnalytics.funnel(spark, eventsDir)),
      "retention" -> (() => operators.ProductAnalytics.retention(spark, eventsDir)),
      "cohortLtv" -> (() => operators.ProductAnalytics.cohortLtv(spark, eventsDir)),
      "sessionStats" -> (() => operators.ProductAnalytics.sessionStats(spark, eventsDir)),
      "concurrentSessions" -> (() => operators.ProductAnalytics.concurrentSessions(spark, eventsDir)),
      "concurrentSessionsSweep" -> (() => operators.ProductAnalytics.concurrentSessionsSweep(spark, eventsDir)),
      "asofJoin" -> (() => operators.Joins.asofJoin(spark, eventsDir)),
      "asofJoinBucketed" -> (() => operators.Joins.asofJoinBucketed(spark, eventsDir)),
      "rangeJoinBucketed" -> (() => operators.Joins.rangeJoinBucketed(spark, eventsDir)),
      "changepointMeanShift" -> (() => operators.WarehouseOps.changepointMeanShift(spark, eventsDir)))
    probes.foreach { case (name, f) =>
      withClue(s"$name on degenerate events: ") { evaluates(f()) }
    }
    // user 10's view and purchase share ONE instant and no click exists:
    // strictly-after step semantics must leave steps 2 and 3 empty
    val steps = operators.ProductAnalytics.funnel(spark, eventsDir)
      .collect().map(r => r.getAs[Int]("step") -> r.getAs[Long]("n_users")).toMap
    assert(steps === Map(1 -> 2L, 2 -> 0L, 3 -> 0L), s"got $steps")
    // clicks (user 11) and purchases (user 10) never share a user: as-of
    // joins must emit nothing rather than a cross-user match
    assert(evaluates(operators.Joins.asofJoin(spark, eventsDir)) === 0L)
    assert(evaluates(operators.Joins.asofJoinBucketed(spark, eventsDir)) === 0L)
    // user 11's two same-instant clicks collapse into ONE session of 2 events
    val s11 = operators.ProductAnalytics.sessionStats(spark, eventsDir)
      .filter("user_id = 11").collect()(0)
    assert(s11.getAs[Long]("n_sessions") === 1L &&
      s11.getAs[Long]("n_events") === 2L, s"got $s11")
  }

  test("q118 pagerank on an empty embeddings table returns the oracle's empty answer") {
    val pr = operators.Similarity.simPagerank(spark, embeddingsDir(Nil))
    assert(pr.columns.toSeq == Seq("vec_id", "in_deg", "pr"))
    assert(pr.collect().isEmpty)
  }

  /** An embeddings table of these rows in one parquet part, like the
    * fixtures' single file (so a read puts all rows in one partition). */
  private def embeddingsDir(rows: Seq[org.apache.spark.sql.Row]): String = {
    import org.apache.spark.sql.types.StructType
    val d = java.nio.file.Files.createTempDirectory("graft-degen-emb").toString
    spark.createDataFrame(rows.asJava,
        StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def pca(dir: String): Seq[(Int, Option[Long], Option[Double])] =
    operators.Similarity.pcaPower(spark, dir).collect().toSeq.map(r =>
      (r.getInt(0), Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Double])))

  // the expected rows below are what SparkEntry.oracleSql("q167_pca_power")
  // returns in DuckDB 1.0.0 on the same tables
  test("q167 on an empty embeddings table returns the oracle's empty answer") {
    import org.apache.spark.sql.Row
    val empty = embeddingsDir(Nil)
    assert(operators.Similarity.pcaPower(spark, empty).columns.toSeq ==
      Seq("dim", "vq", "loading"))
    assert(pca(empty).isEmpty)
    // only null and empty embeddings: no cells either
    assert(pca(embeddingsDir(Seq(Row(1L, null, 0), Row(2L, Seq.empty[Float], 0)))).isEmpty)
  }

  test("q167: a null embedding contributes nothing and a null element counts as 0, " +
      "as unnest does in the oracle") {
    import org.apache.spark.sql.Row
    val want = Seq((1, Some(465565L), Some(0.465565)), (2, Some(885014L), Some(0.885014)))
    assert(pca(embeddingsDir(Seq(
      Row(1L, Seq(1.0f, 2.0f), 0), Row(2L, null, 0), Row(3L, Seq(0.5f, null), 0)))) == want)
    assert(pca(embeddingsDir(Seq(
      Row(1L, Seq(1.0f, 2.0f), 0), Row(3L, Seq(0.5f, 0.0f), 0)))) == want)
  }

  test("q167 on an all-zero corpus returns the oracle's NULL iterate, not an exception") {
    import org.apache.spark.sql.Row
    // t·1e6/sqrt(0) is a division by zero, NULL in the oracle, and a NULL
    // iterate stays NULL through the later iterations
    val zeros = embeddingsDir(Seq(
      Row(1L, Seq(0.0f, 0.0f, 0.0f), 0), Row(2L, Seq(0.0f, 0.0f, 0.0f), 0)))
    assert(pca(zeros) == (1 to 3).map(d => (d, None, None)))
  }

  test("q167: a Gram partial past Long range fails with an ArithmeticException, not a wrap") {
    import org.apache.spark.sql.Row
    // xq = 2·10⁹, so each product 4·10¹⁸ fits a Long but three of them
    // summed in one partition do not; the oracle's BIGINT sq·xq (about
    // 4·10²⁴) overflows there too
    def arithmetic(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException])
    val sumPast = intercept[Exception](pca(embeddingsDir(
      (1L to 3L).map(i => Row(i, Seq(2.0e7f), 0)))))
    assert(arithmetic(sumPast), sumPast)
    // one product past Long range (xq = 4·10⁹) fails the same way
    val productPast = intercept[Exception](pca(embeddingsDir(Seq(Row(1L, Seq(4.0e7f), 0)))))
    assert(arithmetic(productPast), productPast)
  }
}
