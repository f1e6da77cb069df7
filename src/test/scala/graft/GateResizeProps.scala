package graft

import java.nio.file.Files

import graft.streaming.{GateLoop, GateTable, StreamingDedup}
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Randomized soundness of bucket-count evolution (SURVEY §7.9 r19 #2)
  * over adversarial corpora AND arbitrary fan-outs: a resize rewrites
  * every signature row's probe bucket, and the failure mode is the
  * silent one — a key hashed into a bucket the probe never opens means
  * a missed duplicate forever after, invisible to any fixture that
  * happens to hash luckily. So the property drives random corpora
  * (shared shingles, exact dups, band-less short docs, unicode) through
  * random resize chains and asserts classification — probed exactly the
  * way GateLoop probes — is invariant. */
object GateResizeProps extends Properties("GateResize") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8) // each case seeds + resizes twice

  private lazy val spark = TestSpark.spark

  private val word = Gen.oneOf("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "κappa", "λambda", "x")
  private val doc = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, word))
    .map(_.mkString(" "))

  private case class Case(seed: List[String], batch: List[String],
                          buckets1: Int, buckets2: Int)
  private val genCase: Gen[Case] = for {
    nSeed <- Gen.choose(1, 30)
    seed <- Gen.listOfN(nSeed, doc)
    nNew <- Gen.choose(1, 10)
    fresh <- Gen.listOfN(nNew, doc)
    dups <- Gen.someOf(seed)
    b1 <- Gen.choose(1, 40)
    b2 <- Gen.choose(1, 40)
  } yield Case(seed, fresh ++ dups.toList, b1, b2)

  private def df(texts: Seq[String], base: Long) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (base + i, t) }.toDF("doc_id", "text")
  }

  property("a resize chain never changes classification, and the pruned " +
      "probe at each fan-out equals the full table") =
    Prop.forAll(genCase) { c =>
      val t = GateTable(StreamingDedup.descriptor,
        Files.createTempDirectory("graft-resize-prop-").toString)
      t.seed(df(c.seed, 0L))
      // one real micro-batch so the resize folds a batch partition too
      t.processBatch(df(c.batch, 1000L), 0L, (_, _) => ())
      val probeDocs = df(c.seed ++ c.batch, 5000L)
      def probePrunedLikeGateLoop() = {
        val pbs = t.desc.signatureRows(probeDocs, t.buckets)
          .select(col("pb")).distinct().collect().map(_.getInt(0)).toSeq
        t.desc.classify(probeDocs, GateLoop.snapshot(spark,
          t.sigDir, t.desc.sigSchema, Long.MinValue, pbs))
          .collect().map(r => (r.getLong(0), r.getString(1),
            if (r.isNullAt(2)) -1L else r.getLong(2),
            if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
      }
      def probeFull() = t.desc.classify(probeDocs, t.read(spark))
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
      val before = probeFull()
      val okDefault = probePrunedLikeGateLoop() == before
      t.resize(spark, c.buckets1)
      val ok1 = t.buckets == c.buckets1 &&
        probeFull() == before && probePrunedLikeGateLoop() == before
      t.resize(spark, c.buckets2)
      val ok2 = t.buckets == c.buckets2 &&
        probeFull() == before && probePrunedLikeGateLoop() == before
      okDefault && ok1 && ok2
    }
}
