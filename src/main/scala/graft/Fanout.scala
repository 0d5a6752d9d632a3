package graft

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}
import scala.util.{Failure, Success, Try}

/** The engine's one way to run independent blocking tasks at the same
  * time. Like the reference's `async.map` fan-out (`index.js:892-970`),
  * it joins every task and abandons none; a task bounds its own time.
  */
private[graft] object Fanout {

  /** Run every task and return their outcomes in task order, only once
    * every task has settled. One task runs inline on the calling thread.
    * Several run on a fixed pool made for this call, one thread per task,
    * named `name` plus a number. The threads are made from the calling
    * thread, so they inherit its Spark local properties (job group, SQL
    * execution id, active session) as inline code would see them.
    * Whatever a task throws is its outcome, never thrown here.
    *
    * An interrupt of the calling thread interrupts every pool task and
    * waits until every pool thread has ended before the
    * InterruptedException propagates (an inline task sees the interrupt
    * itself): no task outlives the call.
    */
  def settle[A](name: String, tasks: Seq[() => A]): Seq[Try[A]] =
    if (tasks.size <= 1) tasks.map(attempt)
    else {
      val threads = new ConcurrentLinkedQueue[Thread]()
      val pool = Executors.newFixedThreadPool(tasks.size, (r: Runnable) => {
        val t = new Thread(r, s"$name${threads.size + 1}")
        t.setDaemon(true)
        threads.add(t)
        t
      })
      try {
        val ends = tasks.map(task => pool.submit[Try[A]](() => attempt(task)))
        ends.map(_.get())
      } finally {
        pool.shutdownNow() // interrupts tasks still running: only after an interrupt here
        var interrupted = false
        threads.forEach { t =>
          while (t.isAlive)
            try t.join() catch { case _: InterruptedException => interrupted = true }
        }
        if (interrupted) Thread.currentThread().interrupt()
      }
    }

  /** [[settle]], then the values in task order; if tasks failed, the
    * first failure is rethrown with the others suppressed onto it. */
  def all[A](name: String, tasks: Seq[() => A]): Seq[A] = {
    val settled = settle(name, tasks)
    val failures = settled.collect { case Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    settled.map(_.get)
  }

  private def attempt[A](task: () => A): Try[A] =
    try Success(task()) catch { case e: Throwable => Failure(e) }
}
