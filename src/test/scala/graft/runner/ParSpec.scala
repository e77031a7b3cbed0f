package graft.runner

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("Par.all returns results in argument order") {
    assert(Par.all(() => { Thread.sleep(50); 1 }, () => 2, () => 3) == Seq(1, 2, 3))
  }

  test("Par.all waits for every sibling before rethrowing the first failure") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.all(
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(500); siblingDone.set(true) })
    }
    assert(e.getMessage == "boom")
    // the slower sibling finished before the failure reached the caller —
    // a caller unwinding from one compaction never races the other
    assert(siblingDone.get(), "Par.all rethrew while a sibling was still running")
  }

  test("Par.all rethrows the first failure in argument order, later ones suppressed") {
    val e = intercept[RuntimeException] {
      Par.all(
        () => { Thread.sleep(200); throw new RuntimeException("first") },
        () => throw new RuntimeException("second"))
    }
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }
}
