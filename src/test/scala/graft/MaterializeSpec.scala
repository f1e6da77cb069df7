package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.operators.Materialize
import org.scalatest.funsuite.AnyFunSuite

/** The materialization registry builds each key once per process, also
  * when one key's build requests another key and when callers race. */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a build may request another key that shares its map bin; each key builds once") {
    import spark.implicits._
    // "Aa" and "BB" have the same String.hashCode (2112), and so does any
    // pair of keys that share a suffix after them: the two keys always
    // fall into the same ConcurrentHashMap bin
    val nonce = java.util.UUID.randomUUID()
    val outer = s"Aa-$nonce"
    val inner = s"BB-$nonce"
    assert(outer.hashCode == inner.hashCode)
    val builds = Map(outer -> new AtomicInteger, inner -> new AtomicInteger)
    def innerDir: String = Materialize.parquetDir(inner, "graft-spec-inner-") {
      builds(inner).incrementAndGet()
      Seq(1L, 2L, 3L).toDF("x")
    }
    def outerDir: String = Materialize.parquetDir(outer, "graft-spec-outer-") {
      builds(outer).incrementAndGet()
      spark.read.parquet(innerDir).selectExpr("x * 10 AS x")
    }
    val first = outerDir
    assert(spark.read.parquet(first).as[Long].collect().sorted.toSeq == Seq(10L, 20L, 30L))
    // warm requests answer from the registry
    assert(outerDir == first)
    innerDir
    assert(builds(outer).get == 1 && builds(inner).get == 1)
  }

  test("concurrent requests for one key share a single build") {
    import spark.implicits._
    val key = s"graft-spec-shared-${java.util.UUID.randomUUID()}"
    val builds = new AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val dirs = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = Materialize.parquetDir(key, "graft-spec-shared-") {
            builds.incrementAndGet()
            Thread.sleep(200)
            Seq(1L).toDF("x")
          }
        })
      }.map(_.get())
      assert(dirs.distinct.size == 1 && builds.get == 1)
    } finally pool.shutdown()
  }

  test("a failed build registers nothing; the next request builds again") {
    import spark.implicits._
    val key = s"graft-spec-fails-${java.util.UUID.randomUUID()}"
    intercept[IllegalStateException] {
      Materialize.parquetDir(key, "graft-spec-fails-") {
        throw new IllegalStateException("build failed")
      }
    }
    val dir = Materialize.parquetDir(key, "graft-spec-fails-")(Seq(7L).toDF("x"))
    assert(spark.read.parquet(dir).as[Long].collect().toSeq == Seq(7L))
  }
}
