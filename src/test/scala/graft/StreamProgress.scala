package graft

import org.apache.spark.sql.streaming.StreamingQuery

/** Progress-driven waits for streaming specs. `processAllAvailable()`
  * never returns on the pipeline's query: the Batcher's processing-time
  * timeout makes every trigger run a batch, so the query never reports
  * "no new data".
  */
object StreamProgress {

  /** Wait until the query reports progress for a batch `n` past the last
    * one reported now. With `n = 2`, the trigger that may be running at
    * the call has ended and one whole trigger has run after it.
    */
  def awaitTriggers(q: StreamingQuery, n: Int, timeoutSecs: Int = 60): Unit = {
    def last: Long = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val target = last + n
    val deadline = System.currentTimeMillis() + timeoutSecs * 1000L
    while (last < target && q.isActive && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    q.exception.foreach(e => throw e)
    assert(last >= target, s"no progress for batch $target within $timeoutSecs s")
  }
}
