package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** [[Par.both]], the two-thread fork used by q222's joint chain: a failure
  * surfaces as its own exception and stops the sibling. */
class ParBothSpec extends AnyFunSuite {
  test("both returns both results") {
    assert(Par.both(1 + 1, "b") == ((2, "b")))
  }

  test("a failing side rethrows its own cause and interrupts the blocked sibling") {
    val siblingStarted = new CountDownLatch(1)
    val siblingInterrupted = new CountDownLatch(1)
    val boom = new IllegalStateException("signature build failed")
    val e = intercept[IllegalStateException] {
      Par.both(
        { siblingStarted.await(); throw boom },
        try { siblingStarted.countDown(); Thread.sleep(60000L); "never" }
        catch { case ie: InterruptedException => siblingInterrupted.countDown(); throw ie })
    }
    assert(e eq boom)
    assert(siblingInterrupted.await(10, TimeUnit.SECONDS), "the sibling was left running")
  }
}
