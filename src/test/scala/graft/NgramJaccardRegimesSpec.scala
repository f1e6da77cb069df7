package graft

import graft.operators.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** The q60/q88 regime split, pinned (round-8 A/B measurement): the
  * df-capped posting build is exact while document frequencies stay under
  * the cap, and silently loses exactly the MOST-duplicated documents'
  * pairs once they exceed it — the failure observed at the 4×
  * 100×-duplicated corpus (27% of true pairs missed). The PPJoin
  * prefix-filtered variant is exact in both regimes. */
class NgramJaccardRegimesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  // two near-dup families plus an unrelated doc; all dfs tiny
  private def lowDfDocs = {
    import spark.implicits._
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six seven"),
      (4L, "one two three four five six eight"),
      (5L, "totally unrelated content lives here now")
    ).toDF("doc_id", "text")
  }

  test("bounded-df regime: capped and exact algorithms agree") {
    val capped = pairs(Dedup.ngramJaccardPairs(lowDfDocs))
    val exact = pairs(Dedup.ngramJaccardPairsExact(lowDfDocs))
    assert(capped === exact)
    assert(capped.map(p => (p._1, p._2)) === Set((1L, 2L), (3L, 4L)))
  }

  test("registry path (q88's entry): materialized sets + prefix index " +
      "answer identically to the in-memory build, and the second call " +
      "reuses both artifacts (VERDICT r19 #3)") {
    import graft.operators.Materialize
    val dir = "/root/testdata/sf0.001"
    val direct = pairs(Dedup.ngramJaccardPairsExact(
      graft.Tables(spark, dir, "documents")))
    val viaRegistry = pairs(Dedup.ngramJaccardPairsExact(spark, dir))
    assert(viaRegistry === direct)
    // both artifacts are registered under the corpus snapshot key (a
    // registered key answers without running its build)...
    val snap = Materialize.snapshot(s"$dir/documents.parquet")
    def registered(key: String): Unit =
      Materialize.parquetDir(key, "graft-unregistered-")(fail(s"$key is not registered"))
    registered(s"ppjoin-sets:$dir@$snap")
    registered(s"ppjoin-prefix:$dir@$snap:t0.5")
    // ...and the warm re-run answers from them, unchanged
    assert(pairs(Dedup.ngramJaccardPairsExact(spark, dir)) === direct)
  }

  test("over-cap duplication: the cap misses what the exact variant finds") {
    import spark.implicits._
    // five verbatim copies — every shared shingle has df 5; with the cap
    // below that, the capped build generates NO candidates for them
    val dup = (10L to 14L).map(i => (i, "the same boilerplate text repeated everywhere"))
    val docs = (dup ++ Seq((20L, "one distinct document sits alongside them"))).toDF("doc_id", "text")

    val capped = pairs(Dedup.ngramJaccardPairs(docs, maxDf = 3))
    val exact = pairs(Dedup.ngramJaccardPairsExact(docs))
    assert(capped.isEmpty) // the dedup target vanished below the cap
    // exact: all C(5,2)=10 identical pairs at jaccard 1.0
    assert(exact.size == 10 && exact.forall(_._3 == 1.0))
    assert(exact.map(p => (p._1, p._2)) ===
      (for (a <- 10L to 14L; b <- (a + 1) to 14L) yield (a, b)).toSet)
  }

  test("boundary pair whose true J sits in [t-5e-7, t) survives the " +
      "margined prunes (review catch: the prefix length and length filter " +
      "used the raw threshold while verify keeps round(J,6) >= t)") {
    import spark.implicits._
    // A = 2 shingles, B = 3 shingles, A fully contained: true J = 2/3 =
    // 0.666666..., which ROUNDS to 0.666667 — kept by verify at
    // t = 0.666667 even though true J < t. Unmargined, B's prefix length
    // was 3 - ceil(3*t) + 1 = 1 (the df=1 unique shingle only), so the
    // pair was never even generated; margined it is 2 and the shared
    // rarest shingle bridges the candidate join, then the margined length
    // filter keeps it for verify to decide.
    val docs = Seq(
      (1L, "w1 w2 w3 w4"),
      (2L, "w1 w2 w3 w4 w5")
    ).toDF("doc_id", "text")
    val got = pairs(Dedup.ngramJaccardPairsExact(docs, threshold = 0.666667))
    assert(got === Set((1L, 2L, 0.666667)))
  }
}
