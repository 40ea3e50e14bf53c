package graft.queries

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

/** The cancellation contract of [[DedupQueries.overlapWrites]]: a
  * micro-batch's two writes run on the caller and on one child thread,
  * and an interrupt of the caller (a stopped streaming query interrupts
  * its stream thread) must not leave the child writing unsupervised. */
class OverlapWritesSpec extends AnyFunSuite {

  test("an interrupted caller stops leg b before the interrupt propagates") {
    val bStarted = new CountDownLatch(1)
    @volatile var bStopped = false
    @volatile var thrown: Throwable = null
    @volatile var flagRestored = false
    @volatile var bStoppedAtReturn = false
    val caller = new Thread(() =>
      try DedupQueries.overlapWrites(()) {
        try { bStarted.countDown(); Thread.sleep(120000L) }
        finally bStopped = true
      } catch {
        case e: Throwable =>
          bStoppedAtReturn = bStopped
          thrown = e
          flagRestored = Thread.currentThread().isInterrupted
      }, "overlap-writes-caller")
    caller.start()
    assert(bStarted.await(30, TimeUnit.SECONDS), "leg b never started")
    caller.interrupt()
    caller.join(90000L)
    assert(!caller.isAlive, "overlapWrites hung after the interrupt")
    assert(bStoppedAtReturn, "overlapWrites returned while leg b still ran")
    assert(thrown.isInstanceOf[InterruptedException],
      s"expected the interrupt to propagate, got $thrown")
    assert(flagRestored, "the caller's interrupt flag was not restored")
  }

  test("both legs run and the first failure wins") {
    @volatile var bRan = false
    val e = intercept[IllegalStateException] {
      DedupQueries.overlapWrites(throw new IllegalStateException("a")) {
        bRan = true
      }
    }
    assert(e.getMessage == "a" && bRan)
    val eb = intercept[IllegalArgumentException] {
      DedupQueries.overlapWrites(()) { throw new IllegalArgumentException("b") }
    }
    assert(eb.getMessage == "b")
  }
}
