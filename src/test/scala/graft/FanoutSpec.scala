package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The one fan-out: tasks settle in order, one task inline, several on
  * threads made for the call that no task outlives.
  */
class FanoutSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  test("results come back in task order, a failure as its task's outcome") {
    val out = Fanout.settle("fanout-order-", (1 to 4).map(i => () => {
      Thread.sleep(50L * (4 - i)) // later tasks end first
      if (i == 2) throw new IllegalStateException("two")
      i -> Thread.currentThread().getName
    }))
    assert(out.map(_.toOption.map(_._1)) == Seq(Some(1), None, Some(3), Some(4)))
    assert(out(1).failed.get.getMessage == "two")
    val names = out.flatMap(_.toOption).map(_._2)
    assert(names.distinct.size == 3 && names.forall(_.startsWith("fanout-order-")))
  }

  test("one task runs inline on the calling thread") {
    val caller = Thread.currentThread()
    val ran = scala.collection.mutable.ArrayBuffer.empty[(Int, Thread)]
    Fanout.all("fanout-inline-", Seq(() =>
      Seq(1, 2, 3).foreach { i => ran += (i -> Thread.currentThread()) }))
    assert(ran.toSeq == Seq(1 -> caller, 2 -> caller, 3 -> caller))
  }

  test("a task's failure is rethrown only after every task has ended") {
    val failed = new CountDownLatch(1)
    @volatile var otherEnded = false
    val e = intercept[IllegalStateException] {
      Fanout.all("fanout-fail-", Seq(
        () => { failed.countDown(); throw new IllegalStateException("lane one") },
        () => {
          assert(failed.await(60, TimeUnit.SECONDS))
          Thread.sleep(200) // still running when the failure is known
          otherEnded = true
        }))
    }
    assert(e.getMessage == "lane one")
    assert(otherEnded)
  }

  test("a caller interrupt interrupts every task and ends every pool thread before it propagates") {
    val entered = new CountDownLatch(2)
    val release = new CountDownLatch(1)
    val taskThreads = new ConcurrentLinkedQueue[Thread]()
    val interrupted = new AtomicInteger(0)
    @volatile var outcome: Either[Throwable, Seq[Unit]] = null
    @volatile var aliveAtReturn = -1
    val caller = new Thread(() => {
      outcome =
        try Right(Fanout.all("fanout-int-", Seq.fill(2)(() => {
          taskThreads.add(Thread.currentThread())
          entered.countDown()
          try release.await()
          catch { case e: InterruptedException => interrupted.incrementAndGet(); throw e }
        })))
        catch { case e: Throwable => Left(e) }
      aliveAtReturn = taskThreads.asScala.count(_.isAlive)
    })
    caller.start()
    try {
      assert(entered.await(60, TimeUnit.SECONDS), "both tasks started")
      caller.interrupt()
      caller.join(60000)
    } finally release.countDown()
    assert(!caller.isAlive)
    assert(outcome.left.exists(_.isInstanceOf[InterruptedException]), s"got $outcome")
    assert(interrupted.get == 2, "every task saw the interrupt")
    val threads = taskThreads.asScala.toSeq
    assert(threads.size == 2 && threads.distinct.size == 2)
    assert(threads.forall(_.getName.startsWith("fanout-int-")))
    assert(aliveAtReturn == 0, "no pool thread outlives the call")
  }

  test("pool threads see the Spark local properties the caller set") {
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.fanout.probe", "caller")
    try {
      val seen = Fanout.all("fanout-props-", Seq.fill(2)(() =>
        sc.getLocalProperty("graft.fanout.probe") -> Thread.currentThread()))
      assert(seen.map(_._1) == Seq("caller", "caller"))
      assert(seen.map(_._2).distinct.size == 2 && !seen.map(_._2).contains(Thread.currentThread()))
    } finally sc.setLocalProperty("graft.fanout.probe", null)
  }
}
