package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite

/** [[Par.all]]'s two contracts: an ordinary task failure is rethrown
  * only after every sibling finished, and an interrupt of the waiting
  * caller cancels the siblings, waits for them to leave and comes back
  * as an `InterruptedException` with the caller's flag set. */
class ParSpec extends AnyFunSuite {

  test("results come back in input order") {
    assert(Par.all(Seq(() => 1, () => 2, () => 3), maxThreads = 2) ==
      Seq(1, 2, 3))
  }

  test("a failing task still waits for its siblings before the rethrow") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.all(Seq[() => Unit](
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(500); siblingDone.set(true) }))
    }
    assert(e.getMessage == "boom")
    assert(siblingDone.get, "the failure must be rethrown only after the " +
      "sibling finished")
  }

  test("an interrupted caller returns promptly with its flag set, after " +
      "its tasks were cancelled and left") {
    val started = new CountDownLatch(2)
    val left = new AtomicInteger(0)
    @volatile var outcome: Option[Throwable] = None
    @volatile var flagSet = false
    @volatile var leftAtReturn = -1
    val caller = new Thread(() => {
      try {
        Par.all(Seq.fill(2)(() => {
          started.countDown()
          try Thread.sleep(60000) finally left.incrementAndGet()
        }))
      } catch {
        case t: Throwable =>
          leftAtReturn = left.get
          flagSet = Thread.currentThread().isInterrupted
          outcome = Some(t)
      }
    })
    caller.start()
    assert(started.await(10, TimeUnit.SECONDS), "tasks never started")
    val t0 = System.nanoTime()
    caller.interrupt()
    caller.join(10000)
    val waitedS = (System.nanoTime() - t0) / 1e9
    assert(!caller.isAlive, "the interrupted caller is still blocked")
    assert(waitedS < 5.0, s"the caller took $waitedS s to return")
    assert(outcome.exists(_.isInstanceOf[InterruptedException]),
      s"expected an InterruptedException, got $outcome")
    assert(flagSet, "the caller's interrupt flag must be restored")
    assert(leftAtReturn == 2, "both tasks must have left before the return")
  }
}
