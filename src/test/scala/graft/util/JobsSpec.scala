package graft.util

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** [[Jobs.concurrently]] on plain thunks: result order, the failure
  * surface, and sibling cancellation. */
class JobsSpec extends AnyFunSuite {

  test("concurrently returns results in thunk order, not completion order") {
    val out = Jobs.concurrently(
      () => { Thread.sleep(200); "slow" },
      () => { Thread.sleep(50); "mid" },
      () => "fast")
    assert(out == Seq("slow", "mid", "fast"))
  }

  test("a failing thunk rethrows its original exception, not ExecutionException") {
    val boom = new IllegalStateException("boom")
    val e = intercept[IllegalStateException] {
      Jobs.concurrently(() => 1, () => throw boom)
    }
    assert(e eq boom)
  }

  test("a failure interrupts a blocked sibling, whose finally runs before the rethrow") {
    val started = new CountDownLatch(1)
    val never = new CountDownLatch(1)
    val interrupted = new AtomicBoolean(false)
    val cleanedUp = new AtomicBoolean(false)
    val e = intercept[IllegalArgumentException] {
      Jobs.concurrently(
        () => {
          // fail only once the sibling is blocked, so cancel(true)
          // meets a running task rather than one never started
          started.await(10, TimeUnit.SECONDS)
          throw new IllegalArgumentException("fail")
        },
        () => {
          try {
            started.countDown()
            never.await()
          } catch {
            case _: InterruptedException => interrupted.set(true)
          } finally cleanedUp.set(true)
        })
    }
    assert(e.getMessage == "fail")
    assert(interrupted.get(), "the blocked sibling was not interrupted")
    assert(cleanedUp.get(), "concurrently returned before the sibling's finally ran")
  }
}
