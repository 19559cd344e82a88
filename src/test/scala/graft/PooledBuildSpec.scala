package graft

import graft.operators.Similarity
import org.scalatest.funsuite.AnyFunSuite

/** annRecall's rung builds run through Similarity.runPooled: one failing
  * build must stop the rest instead of leaving them running. */
class PooledBuildSpec extends AnyFunSuite {
  test("a planted failing rung cancels the outstanding builds and stops the pool") {
    val started = new java.util.concurrent.atomic.AtomicInteger
    val finished = new java.util.concurrent.atomic.AtomicInteger
    val slow = () => {
      started.incrementAndGet(); Thread.sleep(20000); finished.incrementAndGet()
    }
    val failing = () => throw new IllegalStateException("planted rung failure")
    val t0 = System.nanoTime()
    val ex = intercept[IllegalStateException](
      Similarity.runPooled(2, Seq(slow, failing, slow, slow, slow)))
    assert(ex.getMessage == "planted rung failure")
    // surfaced at once, not after the slow build queued ahead of it
    assert((System.nanoTime() - t0) / 1e9 < 10)
    Thread.sleep(300)
    // the running build was interrupted; the queued ones never started
    assert(finished.get() == 0, "a build ran on after the failure")
    assert(started.get() <= 2, s"${started.get()} builds started")
  }

  test("runPooled returns results in input order") {
    val builds = (1 to 6).map(i => () => { Thread.sleep((7 - i) * 20L); i })
    assert(Similarity.runPooled(3, builds) == (1 to 6))
  }
}
