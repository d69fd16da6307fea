package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

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

  test("concurrently: interrupting the caller during a Spark job in `a` " +
      "cancels that job and waits for `a` to end") {
    val sc = SparkTestBase.spark.sparkContext
    val started = new CountDownLatch(1)
    @volatile var aThread: Thread = null
    @volatile var thrown: Throwable = null
    val caller = new Thread(() =>
      try Par.concurrently({
        aThread = Thread.currentThread()
        started.countDown()
        // ~20 s per task; a cancelled task stops at its next record
        sc.parallelize(1 to 8000, 4).foreach(_ => Thread.sleep(10))
      }, ())
      catch { case x: Throwable => thrown = x })
    caller.start()
    assert(started.await(60, TimeUnit.SECONDS))
    eventually(timeout(60.seconds)) {
      assert(sc.statusTracker.getActiveJobIds().nonEmpty)
    }
    caller.interrupt()
    caller.join(60000)
    assert(!caller.isAlive)
    assert(thrown.isInstanceOf[InterruptedException])
    assert(!aThread.isAlive)
    eventually(timeout(60.seconds)) {
      assert(sc.statusTracker.getActiveJobIds().isEmpty)
    }
  }
}
