package graft.queries

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.Concurrently

/** The contracts of [[graft.Concurrently]], the fork-join behind a
  * micro-batch's overlapped writes and the medallion pipeline's
  * per-table fan-out: leg 0 runs on the caller and every other leg on a
  * child thread; every leg finishes before the call returns, the first
  * failure in leg order wins, and an interrupt of the caller (a stopped
  * streaming query interrupts its stream thread) must not leave a child
  * writing unsupervised. */
class OverlapWritesSpec extends AnyFunSuite {

  /** Runs `call` on a fresh caller thread, interrupts it once `started`
    * children have begun, and returns what it threw plus whether its
    * interrupt flag was set afterwards. */
  private def interruptCaller(started: CountDownLatch)(call: => Unit): (Throwable, Boolean) = {
    @volatile var thrown: Throwable = null
    @volatile var flagRestored = false
    val caller = new Thread(() =>
      try call catch {
        case e: Throwable =>
          thrown = e
          flagRestored = Thread.currentThread().isInterrupted
      }, "concurrently-caller")
    caller.start()
    assert(started.await(30, TimeUnit.SECONDS), "a child leg never started")
    caller.interrupt()
    caller.join(90000L)
    assert(!caller.isAlive, "Concurrently hung after the interrupt")
    (thrown, flagRestored)
  }

  test("an interrupted caller stops leg b before the interrupt propagates") {
    val bStarted = new CountDownLatch(1)
    @volatile var bStopped = false
    @volatile var bStoppedAtReturn = false
    val (thrown, flagRestored) = interruptCaller(bStarted) {
      try Concurrently.both(()) {
        try { bStarted.countDown(); Thread.sleep(120000L) }
        finally bStopped = true
      } finally bStoppedAtReturn = bStopped
    }
    assert(bStoppedAtReturn, "Concurrently returned while leg b still ran")
    assert(thrown.isInstanceOf[InterruptedException],
      s"expected the interrupt to propagate, got $thrown")
    assert(flagRestored, "the caller's interrupt flag was not restored")
  }

  test("both legs run and the first failure wins") {
    @volatile var bRan = false
    val e = intercept[IllegalStateException] {
      Concurrently.both(throw new IllegalStateException("a")) {
        bRan = true
      }
    }
    assert(e.getMessage == "a" && bRan)
    val eb = intercept[IllegalArgumentException] {
      Concurrently.both(()) { throw new IllegalArgumentException("b") }
    }
    assert(eb.getMessage == "b")
  }

  test("N legs: every leg runs, results keep leg order, the first failure in leg order wins") {
    val callerThread = Thread.currentThread()
    val ranOn = new Array[Thread](5)
    val results = Concurrently.all((0 until 5).map { i => () =>
      ranOn(i) = Thread.currentThread(); i * 10
    })
    assert(results == Seq(0, 10, 20, 30, 40))
    assert(ranOn(0) eq callerThread, "leg 0 must run on the caller")
    assert(ranOn.drop(1).forall(t => t != null && (t ne callerThread)) &&
      ranOn.drop(1).distinct.length == 4, "legs 1..4 must each run on their own child thread")

    // leg 3 fails FIRST in time, legs 1 and 3 fail: leg 1 wins, leg 3 is
    // suppressed, and the legs that did not fail still ran to the end
    val ran = new AtomicInteger()
    val leg3Failed = new CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      Concurrently.all(Seq[() => Unit](
        () => { ran.incrementAndGet(); () },
        () => {
          assert(leg3Failed.await(30, TimeUnit.SECONDS))
          ran.incrementAndGet(); throw new IllegalStateException("leg 1")
        },
        () => { ran.incrementAndGet(); () },
        () => {
          try { ran.incrementAndGet(); throw new IllegalArgumentException("leg 3") }
          finally leg3Failed.countDown()
        },
        () => { Thread.sleep(200L); ran.incrementAndGet(); () }))
    }
    assert(e.getMessage == "leg 1", s"leg order must win, got ${e.getMessage}")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("leg 3"))
    assert(ran.get == 5, "every leg must finish before the call returns")
  }

  test("N legs: an interrupt of the caller stops every child before it propagates") {
    val children = 3
    val started = new CountDownLatch(children)
    val stopped = new AtomicInteger()
    @volatile var stoppedAtReturn = -1
    val (thrown, flagRestored) = interruptCaller(started) {
      try Concurrently.all[Unit]((() => ()) +: Seq.fill(children) { () =>
        try { started.countDown(); Thread.sleep(120000L) }
        finally { stopped.incrementAndGet(); () }
      }) finally stoppedAtReturn = stopped.get
    }
    assert(stoppedAtReturn == children, s"only $stoppedAtReturn of $children children had stopped")
    assert(thrown.isInstanceOf[InterruptedException],
      s"expected the interrupt to propagate, got $thrown")
    assert(flagRestored, "the caller's interrupt flag was not restored")
  }

  test("an interrupt raised inside leg 0 also stops the children") {
    val started = new CountDownLatch(1)
    @volatile var childStopped = false
    val e = intercept[InterruptedException] {
      Concurrently.all(Seq[() => Unit](
        () => { assert(started.await(30, TimeUnit.SECONDS)); throw new InterruptedException("leg 0") },
        () => try { started.countDown(); Thread.sleep(120000L) } finally childStopped = true))
    }
    assert(e.getMessage == "leg 0" && childStopped)
    assert(Thread.interrupted(), "the caller's interrupt flag was not restored")
  }
}
