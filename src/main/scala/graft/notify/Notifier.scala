package graft.notify

/** Success/failure notifications — the SNS surface of the reference
  * (`/root/reference/index.js:1491-1541`) as a pluggable interface. The
  * message shape mirrors the reference's JSON body exactly; transports
  * (log, queue, HTTP) implement `Notifier`.
  */
final case class Notification(
    error: Option[String],
    status: String,
    batchId: String,
    s3Prefix: String,
    key: String,
    originalManifest: Option[String],
    failedManifest: Option[String])

trait Notifier {
  /** Deliver one notification. The pipeline loads a trigger's disjoint
    * target sets in parallel lanes, so `notify` may be called at the same
    * time from different lanes: an implementation must be thread-safe.
    */
  def notify(n: Notification): Unit

  /** `SuppressFailureStatusOnSuccessfulNotification`
    * (`constants.js:31`, `index.js:1476-1481`): when true, a delivered
    * failure notification downgrades the hard failure.
    */
  def suppressFailureOnDelivery: Boolean = false
}

/** Default: structured log lines. */
class LogNotifier extends Notifier {
  override def notify(n: Notification): Unit =
    System.err.println(
      s"[graft-notify] status=${n.status} prefix=${n.s3Prefix} batch=${n.batchId}" +
        n.error.map(e => s" error=$e").getOrElse(""))
}

/** Test double: collects notifications in memory. `received` is a
  * snapshot, safe to read while lanes deliver. */
class CollectingNotifier extends Notifier {
  private val got = scala.collection.mutable.ArrayBuffer.empty[Notification]
  def received: Seq[Notification] = synchronized { got.toList }
  override def notify(n: Notification): Unit = synchronized { got += n }
}
