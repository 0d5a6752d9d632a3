package graft.streaming

import graft.core._

/** One prefix's pending batch, held on the driver.
  *
  * The dedup set sits next to the pending batches, one for the whole
  * pipeline: the load files admitted so far — the analogue of the
  * reference's `LambdaRedshiftProcessedFiles` DynamoDB table
  * (`common.js:132-147`), and like that table it has no cap. The
  * pipeline's micro-batch thread is the only writer, which makes the
  * reference's CAS/retry machinery (`index.js:313-516`: conditional
  * writes, 100-try backoff loops) unnecessary.
  *
  * The durable state is the ledger, not a state store: each trigger's
  * decisions are written ahead of its loads (`Pipeline.writeAhead`), and
  * a starting pipeline rebuilds this state from them
  * (`Pipeline.recover`).
  */
final case class BatcherState(
    currentBatch: String,
    entries: Vector[BatchEntry],
    sizeBytes: Long,
    firstWrite: Long)

object Batcher {

  def initialState(): BatcherState = BatcherState(newBatchId(), Vector.empty, 0L, 0L)

  /** A new batch id: a random UUID, like the reference's uuid.v4
    * (`index.js:759`), so no id depends on what the ledger still holds.
    * Every id is written ahead to the ledger before anything loads under
    * it, so nothing ever has to compute an id again.
    *
    * The id is written as `b` plus the UUID's 16 bytes in unpadded
    * base64url: 23 characters. Every staged row carries its batch id, and
    * the 47-character form `b-<prefix hash>-<uuid>` cost loadbench's
    * `load-bulk` about 8% of its files/s (median of 8 alternating pairs
    * on a 4-core host). The prefix is not needed in the id: the ledger
    * and every ops command key a batch by (prefix, id). The `b` keeps an
    * id from starting with `-`.
    */
  def newBatchId(): String = {
    val u = java.util.UUID.randomUUID()
    val bytes = java.nio.ByteBuffer.allocate(16)
      .putLong(u.getMostSignificantBits).putLong(u.getLeastSignificantBits).array()
    "b" + java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(bytes)
  }

  /** The trigger predicate (`/root/reference/index.js:663-691`): flush iff
    * count ≥ batchSize ∨ bytes ≥ batchSizeBytes ∨ age > batchTimeoutSecs.
    * Age is checked on every batch, and the pipeline has a tick arrive at
    * each pending batch's deadline ([[nextDeadline]]), rather than the
    * reference's sweep of dummy trigger files through the data bucket
    * (SURVEY §2.7 T2, §7.5.6 — we adopt the strictly stronger semantics).
    */
  def flushReason(cfg: LoadConfig, count: Int, bytes: Long, ageMs: Long): Option[FlushReason] =
    if (count <= 0) None
    else if (count >= cfg.batchSize) Some(FlushReason.Count)
    else if (cfg.batchSizeBytes.exists(bytes >= _)) Some(FlushReason.Bytes)
    else if (cfg.batchTimeoutSecs.exists(t => ageMs > t * 1000L)) Some(FlushReason.Age)
    else None

  /** One prefix's step: admit this trigger's events for `prefix`
    * against the dedup set `processed`, then check the pending batch's
    * age, returning the next state, the next dedup set and zero or more
    * [[FlushCommand]]s. The load itself happens in the pipeline's lanes,
    * never here, so accumulation continues while a flushed batch loads,
    * matching the reference's rotate-before-load (`index.js:694-806`,
    * SURVEY §7.5.2). A prefix with no config keeps its state and flushes
    * nothing.
    */
  def processPrefix(
      configs: Map[String, LoadConfig],
      now: () => Long)(
      prefix: String,
      events: Iterator[FileEvent],
      state: BatcherState,
      processed: Set[String]): (BatcherState, Set[String], Seq[FlushCommand]) =
    Prefix.resolve(prefix, configs).map(_._2) match {
      case None => (state, processed, Seq.empty)
      case Some(cfg) => processWithConfig(cfg, now, prefix, events, state, processed)
    }

  private def processWithConfig(
      cfg: LoadConfig,
      now: () => Long,
      prefix: String,
      events: Iterator[FileEvent],
      state: BatcherState,
      processed: Set[String]): (BatcherState, Set[String], Seq[FlushCommand]) = {
    var st = state
    var seen = processed
    val out = Vector.newBuilder[FlushCommand]

    def flushIfDue(): Unit =
      flushReason(cfg, st.entries.size, st.sizeBytes, now() - st.firstWrite).foreach { reason =>
        out += FlushCommand(prefix, st.currentBatch, st.entries, st.sizeBytes, reason.name, now())
        st = initialState()
      }

    events.foreach { ev =>
      if (ev.unlink) {
        // control event (processedFiles --reprocess): clear the file's
        // dedup entry so its next delivery is admitted as new — the
        // Spark analogue of the reference deleting the DynamoDB
        // processed-files item (common.js:842-916). Bypasses the
        // filename filter: control targets name already-admitted files.
        seen -= ev.loadFile
      }
      // F1 admission filter, fail-open (index.js:212-238); a duplicate
      // delivery (F4/T6) is dropped
      else if (Prefix.filenameMatches(ev.key, cfg.filenameFilterRegex) && !seen(ev.loadFile)) {
        // Batch age is measured from ADMISSION time, not the file's
        // modification time (reference writeDates = common.now() at
        // append, index.js:361-363): a discovery lag longer than
        // batchTimeoutSecs must not age-flush every file singly.
        val admitted = now()
        st = st.copy(
          entries = st.entries :+ BatchEntry(ev.loadFile, ev.size, admitted),
          sizeBytes = st.sizeBytes + ev.size,
          firstWrite = if (st.entries.isEmpty) admitted else st.firstWrite)
        seen += ev.loadFile
        flushIfDue()
      }
    }
    // age trigger (T2): fires on a trigger with no input for the prefix
    flushIfDue()
    (st, seen, out.result())
  }

  /** One trigger's admission on the driver: route each event to its
    * longest configured prefix, step every prefix that got events or
    * holds a pending batch, and return the next states and dedup set with
    * the flushes in order (a prefix's flushes stay in batch order).
    * Events no config resolves are dropped and create no state.
    */
  def admit(
      configs: Map[String, LoadConfig],
      now: () => Long)(
      states: Map[String, BatcherState],
      processed: Set[String],
      events: Seq[FileEvent]): (Map[String, BatcherState], Set[String], Seq[FlushCommand]) = {
    val routed = route(configs, events)
    val withEvents = routed.map(_._1).distinct
    val pendingOnly = states.collect {
      case (p, st) if st.entries.nonEmpty && !withEvents.contains(p) => p
    }.toSeq.sorted
    (withEvents ++ pendingOnly).foldLeft((states, processed, Vector.empty[FlushCommand])) {
      case ((sts, seen, out), p) =>
        val (st, seenNext, flushes) = processPrefix(configs, now)(
          p, routed.iterator.collect { case (`p`, e) => e }, sts.getOrElse(p, initialState()), seen)
        (sts.updated(p, st), seenNext, out ++ flushes)
    }
  }

  /** Each event with the longest configured prefix it falls under, in
    * event order; an event no config resolves is left out. This is the
    * rule for which events a pipeline owns. */
  def route(configs: Map[String, LoadConfig], events: Seq[FileEvent]): Seq[(String, FileEvent)] =
    events.flatMap(e => Prefix.resolve(Prefix.searchKey(e.bucket, e.key), configs).map(_._1 -> e))

  /** When the earliest pending batch with a `batchTimeoutSecs` becomes
    * due by age; None when no pending batch has one. */
  def nextDeadline(configs: Map[String, LoadConfig],
                   states: Map[String, BatcherState]): Option[Long] =
    states.toSeq.flatMap { case (p, st) =>
      if (st.entries.isEmpty) None
      else Prefix.resolve(p, configs).flatMap(_._2.batchTimeoutSecs)
        .map(t => st.firstWrite + t * 1000L + 1)
    }.minOption
}
