package graft.sources

import java.util.concurrent.{ScheduledFuture, ScheduledThreadPoolExecutor, TimeUnit}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.core.FileEvent

/** Age-check ticks for a query with no stateful operator. Such a query
  * runs a batch only when its file source lists something new, so a
  * pending batch's age flush needs something to arrive once its deadline
  * passes. [[arm]] drops a one-byte marker into the watched tree's
  * control namespace, `<watchRoot>/graft-control/tick/<owner>/`, at the
  * deadline; the pipeline's own file stream lists it as a tick event (see
  * [[FileEventSource.toEvent]]), so the trigger after the deadline runs a
  * batch with no data file arriving. At most one tick is armed at a time.
  *
  * `owner` names the pipeline the ticks belong to: pipelines sharing a
  * watch root each see every tick, and act on and delete only their own.
  * A tick carries nothing: its event is dropped after `collect()` and its
  * marker deleted ([[consumed]]). A replayed batch whose markers are gone
  * still runs, since the file source's listing skips a missing path it
  * was given by name.
  */
final class TickSource(spark: SparkSession, watchRoot: String, owner: String) {
  private val key = s"${FileEventSource.TickKey}$owner/"
  private val conf = spark.sparkContext.hadoopConfiguration
  private val fs = new Path(watchRoot).getFileSystem(conf)
  private val markerFs = FileEventSource.markerFs(conf, watchRoot)

  private val timer = new ScheduledThreadPoolExecutor(1, (r: Runnable) => {
    val t = new Thread(r, "graft-tick")
    t.setDaemon(true)
    t
  })
  // touched only by the micro-batch thread
  private var armed: Option[(Long, ScheduledFuture[_])] = None

  /** Whether `ev` is one of this source's ticks. */
  def owns(ev: FileEvent): Boolean =
    ev.eventName == FileEventSource.TickEvent && ev.key.startsWith(key)

  /** Have one tick arrive at `at`, cancelling a tick armed for another
    * time; None cancels it. A tick already due is armed again. */
  def arm(at: Option[Long], now: Long): Unit =
    if (armed.map(_._1) != at || armed.exists(_._1 <= now)) {
      armed.foreach(_._2.cancel(false))
      armed = at.map(t => t -> timer.schedule((() =>
        FileEventSource.writeControlMarker(markerFs, watchRoot, s"$key$t-${java.util.UUID.randomUUID()}")
      ): Runnable, math.max(0L, t - now), TimeUnit.MILLISECONDS))
    }

  /** Delete the markers of ticks a batch has collected. */
  def consumed(ticks: Seq[FileEvent]): Unit =
    ticks.foreach(t => fs.delete(new Path(watchRoot, t.loadFile), false))

  /** Cancel every armed tick and end the timer thread. */
  def stop(): Unit = timer.shutdownNow()
}
