package graft.ext

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** `Par.run`'s tear-down guarantee: it never returns while a thunk is
  * still running, whatever the failure. */
class ParSpec extends AnyFunSuite {

  test("an interrupted caller-runs thunk waits for the pool thunks to settle") {
    // poolSize thunks hold every pool permit, so the last thunk runs
    // inline on the calling thread; it throws InterruptedException
    // (and so re-asserts the caller's interrupt flag) while the pool
    // thunks are still running
    val poolSize = math.min(8, Runtime.getRuntime.availableProcessors())
    val started = new CountDownLatch(poolSize)
    val settled = new AtomicInteger(0)
    val pooled = Seq.fill(poolSize) { () =>
      started.countDown()
      Thread.sleep(500)
      settled.incrementAndGet()
    }
    val inline = () => {
      started.await()
      throw new InterruptedException("caller-runs thunk interrupted")
    }
    try {
      intercept[InterruptedException](Par.run(pooled :+ inline))
      assert(settled.get() == poolSize,
        "Par.run returned while pool thunks were still running")
      assert(Thread.currentThread().isInterrupted,
        "the caller's interrupt flag must be re-asserted")
    } finally { Thread.interrupted(); () }
  }
}
