package graft

import java.util.concurrent.atomic.AtomicBoolean
import graft.operators.StoredIndexes
import org.scalatest.funsuite.AnyFunSuite

/** [[StoredIndexes.inParallel]] runs independent build steps as
  * concurrent jobs. A failing step must not cut its siblings short:
  * every step runs to completion, then the first failure propagates
  * as thrown (unwrapped). */
class InParallelSpec extends AnyFunSuite {

  test("inParallel waits for every step, then rethrows the first failure unwrapped") {
    val boom = new IllegalStateException("step 1 failed")
    val slowDone = new AtomicBoolean(false)
    val thrown = intercept[IllegalStateException] {
      StoredIndexes.inParallel(
        () => throw boom,
        () => { Thread.sleep(500); slowDone.set(true) })
    }
    assert(thrown eq boom)
    assert(slowDone.get(), "the slower sibling must finish before the failure propagates")
  }
}
