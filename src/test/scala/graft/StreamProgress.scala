package graft

import org.apache.spark.sql.streaming.StreamingQuery

/** Progress-driven waits for streaming specs. The pipeline's query runs a
  * batch only when a file or an age tick arrives, so an idle trigger
  * reports no new batch: a wait counts batches, or ends at the first
  * trigger that finds nothing new.
  */
object StreamProgress {

  /** Wait until the query reports progress for a batch `n` past the last
    * one reported now, or a trigger that started after the call found no
    * new data. With `n = 2`, the trigger that may be running at the call
    * has ended and one whole trigger has run after it.
    */
  def awaitTriggers(q: StreamingQuery, n: Int, timeoutSecs: Int = 60): Unit = {
    def last: Long = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val target = last + n
    @volatile var idle = false
    val waiter = new Thread(() =>
      try { q.processAllAvailable(); idle = q.isActive } catch { case _: Throwable => () })
    waiter.setDaemon(true)
    waiter.start()
    val deadline = System.currentTimeMillis() + timeoutSecs * 1000L
    while (last < target && !idle && q.isActive && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    q.exception.foreach(e => throw e)
    assert(last >= target || idle,
      s"no progress for batch $target and no idle trigger within $timeoutSecs s")
  }
}
