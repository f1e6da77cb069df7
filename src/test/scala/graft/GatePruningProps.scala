package graft

import java.nio.file.Files

import graft.streaming.{GateLoop, GateTable, StreamingDedup}
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Randomized soundness of the gate's two r18 layout mechanisms — the
  * probe-bucket pruned snapshot and the metadata-only history fold — over
  * adversarial corpora (shared shingles, exact dups, short docs that
  * yield no bands, unicode): classification must be a pure function of
  * the table's ROWS, never of which partitions a batch opened or how the
  * files are laid out. A pruning bug here is silent data corruption at
  * scale (a missed bucket means a missed duplicate), so it gets the
  * property-test treatment, not just the fixture specs. */
object GatePruningProps extends Properties("GatePruning") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8) // each case seeds a table + runs 2 classifies

  private lazy val spark = TestSpark.spark

  private val word = Gen.oneOf("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "κappa", "λambda", "x")
  private val doc = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, word))
    .map(_.mkString(" "))

  private case class Case(seed: List[String], batch: List[String])
  private val genCase: Gen[Case] = for {
    nSeed <- Gen.choose(1, 30)
    seed <- Gen.listOfN(nSeed, doc)
    nNew <- Gen.choose(1, 10)
    fresh <- Gen.listOfN(nNew, doc)
    // bias: some batch docs are exact copies of seed docs
    dups <- Gen.someOf(seed)
  } yield Case(seed, fresh ++ dups.toList)

  private def table(prefix: String): GateTable = GateTable(
    StreamingDedup.descriptor, Files.createTempDirectory(prefix).toString)

  private def df(texts: Seq[String], base: Long) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (base + i, t) }.toDF("doc_id", "text")
  }

  property("pruned snapshot classifies exactly like the full table") =
    Prop.forAll(genCase) { c =>
      val t = table("graft-prune-prop-")
      t.seed(df(c.seed, 0L))
      val batch = df(c.batch, 1000L)
      val pbs = t.desc.signatureRows(batch, t.buckets)
        .select(col("pb")).distinct().collect().map(_.getInt(0)).toSeq
      def classified(probePbs: Seq[Int]) = t.desc.classify(batch,
        GateLoop.snapshot(spark, t.sigDir, StreamingDedup.SigSchema, 0L, probePbs))
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
      classified(pbs) == classified(0 until GateLoop.NumBuckets)
    }

  property("history fold + compact never change classification") =
    Prop.forAll(genCase) { c =>
      val t = table("graft-fold-prop-")
      t.seed(df(c.seed, 0L))
      // two micro-batches build real batch partitions
      val halves = c.batch.grouped(math.max(1, (c.batch.size + 1) / 2)).toSeq
      halves.zipWithIndex.foreach { case (h, i) =>
        t.processBatch(df(h, 1000L + 100 * i), i.toLong, (_, _) => ())
      }
      def probe() = t.classifyNow(df(c.seed ++ c.batch, 5000L))
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      val before = probe()
      t.foldHistory(spark, keepLast = 1)
      val afterFold = probe()
      t.compact(spark)
      val afterCompact = probe()
      before == afterFold && before == afterCompact
    }
}
