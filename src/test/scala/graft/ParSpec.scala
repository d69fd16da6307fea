package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Par

class ParSpec extends AnyFunSuite {

  test("concurrently: when both sides fail, the rethrown error carries the other as suppressed") {
    val ea = new IllegalStateException("a failed")
    val eb = new IllegalArgumentException("b failed")
    val thrown = intercept[Throwable](Par.concurrently(throw ea, throw eb))
    val both = Set[Throwable](ea, eb)
    assert(both.contains(thrown))
    assert(thrown.getSuppressed.toSeq == Seq((both - thrown).head))
  }

  test("concurrently: when one side fails, the other still runs to completion") {
    // the slow side finishes well after the failing side has thrown, on
    // either thread: `a` runs on its own thread, `b` on the caller's
    def slowly(done: AtomicBoolean): Unit = { Thread.sleep(200); done.set(true) }
    val boom = new RuntimeException("boom")
    val aDone = new AtomicBoolean(false)
    assert(intercept[RuntimeException](
      Par.concurrently(slowly(aDone), throw boom)) eq boom)
    assert(aDone.get)
    val bDone = new AtomicBoolean(false)
    assert(intercept[RuntimeException](
      Par.concurrently(throw boom, slowly(bDone))) eq boom)
    assert(bDone.get)
  }
}
