package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType
import graft.config.Setup
import graft.core._
import graft.ledger.{BatchLedgerEvent, FileLedgerEvent, Ledger}
import graft.loader.Loader
import graft.notify.{Notification, Notifier, LogNotifier}
import graft.sources.{FileEventSource, TickSource}
import graft.streaming.{Batcher, BatcherState, LocalCheckpointFileManager}

/** The assembled engine: the reference's full Lambda lifecycle
  * (SURVEY §3.1) as one Structured Streaming query.
  *
  *   file and tick events → foreachBatch: collect → admission/dedup/
  *   batching on the driver → write-ahead to the ledger → lanes:
  *   format-aware read → transactional JDBC fan-out → ledger append →
  *   notification → (optional) auto-reprocess hook.
  *
  * Admission runs on the driver, like the reference's one conditional
  * DynamoDB write per event (`index.js:313-516`): the events are metadata
  * rows (path, size, mtime), so `collect()` inside foreachBatch is correct
  * at any scale, and the query has no stateful operator — no shuffle, no
  * state store. The data files themselves are read and written entirely
  * on executors.
  *
  * Ticks: with no stateful operator a trigger runs a batch only when its
  * listing finds something new. After each batch the pipeline arms a
  * [[TickSource]] tick for the earliest pending batch's age deadline: a
  * marker under the watch root's `graft-control/tick/`, listed by the
  * same file stream, so the age flush fires with no file arriving and the
  * query keeps one source. An idle pipeline with nothing pending runs no
  * batch at all. Tick events are dropped after `collect()` and their
  * markers deleted, and so are the unlink markers of this pipeline's
  * files once admission has read them (see `Ops.reprocessFile`). Both
  * deletes run inside the batch, before Spark commits its offsets: a
  * batch replayed after a crash in between names the deleted markers,
  * and the file source's listing skips a missing path, so the replay
  * runs without them.
  *
  * Write-ahead and recovery: before any lane runs, a trigger that changed
  * the admission state writes one ledger append — `open` with the files
  * each prefix's pending batch admitted, `locked` for each flush (see
  * [[writeAhead]]). An idle trigger writes nothing. On start the
  * pipeline reads that record once ([[recover]]): pending
  * batches and the dedup set come back, and batches last seen `locked`
  * run again in the first trigger, where the commit registry makes a
  * target that already committed a no-op. A replayed micro-batch
  * therefore reads back its recorded decisions — its admitted files are
  * duplicates — instead of deciding them again with a new clock, and a
  * fresh checkpoint over an existing ledger reloads no processed file.
  * Batch ids are random ([[Batcher.newBatchId]]) and recorded before
  * anything loads under them, so no id is computed twice.
  *
  * Checkpoints: a checkpoint written by a build with the stateful
  * Batcher must not be resumed. That build held its pending batches only
  * in the checkpoint's state store, which this query does not read, and
  * the resumed file source would never list those files again. Start
  * such a pipeline on a new checkpoint directory. That is safe: the new
  * checkpoint re-lists the watch root and the ledger drops every file it
  * has already admitted.
  *
  * Lanes: the reference runs one Lambda invocation per S3 event, so
  * batches of different prefixes load at the same time. A trigger's
  * commands are split into lanes — connected components of commands that
  * share a target (resolved JDBC URL, lower-cased table) — so every batch
  * of one prefix, and every prefix loading one table, keeps admission
  * order in one lane (`truncateTarget` and `presql` see the same order as
  * before). Lanes run through [[Fanout.all]]: different lanes at the
  * same time on threads made for the trigger, a trigger's only lane
  * inline on the micro-batch thread. The trigger returns only once every
  * lane has ended; a lane failure is rethrown then and stops the query;
  * on restart its batch is still `locked` in the ledger and runs again.
  * Ledger compaction runs after that join, so it never deletes the
  * in-progress file of a lane's append.
  *
  * Shutdown note: `query.stop()` interrupts the micro-batch thread, which
  * interrupts every lane and waits for all of them to end; a lane's
  * batch load in turn interrupts its target loads and waits for them
  * (see [[Loader.loadBatch]]). So no target load runs, and no lane
  * writes a ledger row or sends a notification, after `stop()` returns.
  * The interrupt (InterruptedException from the load's wait on its
  * targets, InterruptedIOException from a ledger write) propagates out of
  * the trigger rather than becoming an `error` batch outcome, so shutdown
  * writes no error row, sends no failure notification and takes no
  * auto-reprocess. This is the designed teardown path, not data loss:
  * the interrupted batch is still `locked` in the ledger, so it runs
  * again on restart — the commit registry makes the JDBC load a no-op and
  * the ledger appends re-run.
  *
  * Control files start no process: every trigger writes Structured
  * Streaming's offset, source and commit logs, and every flush a
  * manifest and ledger files. Without native Hadoop, Hadoop's local file
  * system starts a `chmod` for each file and directory it makes and
  * `FileContext` `readlink`s for each rename, all on the micro-batch
  * thread. So on `file:` paths the manifests go through
  * [[graft.core.NioLocalFileSystem]] (as do the ledger's appends and the
  * tick markers), and [[start]] installs
  * [[graft.streaming.LocalCheckpointFileManager]] on the session unless
  * the session already names a checkpoint manager. That setting is
  * session-wide: every query the session starts afterwards uses it. It is
  * acceptable because the manager is a drop-in — the same files and
  * names, the same atomicity, and every non-local path handled by Spark's
  * own manager — so a checkpoint written under either resumes under the
  * other.
  */
object Pipeline {

  final case class Settings(
      watchRoot: String,
      ledgerDir: String,
      checkpointDir: String,
      triggerInterval: String = "5 seconds",
      /** schema per target table name (the reference's "types belong to
        * the target", SURVEY §1.2). */
      schemas: Map[String, StructType] = Map.empty,
      /** F5/T8: auto-reprocess predicate over the error message —
        * reference default is constant true
        * (failedBatchReprocessingLambda.js:7-10). */
      reprocessSupported: String => Boolean = _ => true,
      maxAutoReprocess: Int = 1,
      /** SURVEY §7.5-7 opt-in fix: gate the T9 fan-out on per-
        * (file, target) ledger rows, so reprocessing a partially-failed
        * multi-target batch loads ONLY the targets that never committed
        * its files. Off by default — the reference's dedup is per-file
        * only, and faithful parity re-loads committed clusters.
        * Loads are bounded by statement-level query timeouts (see
        * Loader) and the fan-out never gives up on a running load, so
        * an over-budget target rolls back and reports it; the residual
        * two-generals window (commit acked but the ack lost) degrades
        * to the default re-load behavior, never to a skipped load. */
      perTargetFileDedup: Boolean = false)

  def start(
      spark: SparkSession,
      settings: Settings,
      configs: Map[String, LoadConfig],
      notifier: Notifier = new LogNotifier,
      /** T12 routing: notifiers bound by topic name. The reference
        * selects the SNS topic from the config by outcome
        * (`index.js:1491-1541`) — failureTopic on error, successTopic
        * otherwise; a configured-but-unregistered or absent topic falls
        * back to the default notifier so observability never silently
        * drops. */
      topicNotifiers: Map[String, Notifier] = Map.empty,
      resolvePassword: Loader.PasswordResolver = identity): StreamingQuery = {

    LocalCheckpointFileManager.install(spark)
    val ledger = new Ledger(spark, settings.ledgerDir)
    val manifestFs = LocalFiles.checksummed(new org.apache.hadoop.fs.Path(settings.ledgerDir),
      spark.sparkContext.hadoopConfiguration)
    val ticks = new TickSource(spark, settings.watchRoot,
      Integer.toHexString(settings.checkpointDir.hashCode))
    val now = () => System.currentTimeMillis()
    // touched only by the micro-batch thread (and here, before it starts)
    var (state, processed, rerun) = ledger.recorded()
      .map { case (batches, files) => recover(configs, batches, files) }
      .getOrElse((Map.empty[String, BatcherState], Set.empty[String], Seq.empty[FlushCommand]))
    var flushed = 0L
    def armAgeTick(): Unit = ticks.arm(Batcher.nextDeadline(configs, state), now())
    armAgeTick()
    val query = try FileEventSource.stream(spark, settings.watchRoot)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", settings.checkpointDir)
      .trigger(Trigger.ProcessingTime(settings.triggerInterval))
      .foreachBatch { (batch: Dataset[FileEvent], _: Long) =>
        val (tickEvents, events) =
          batch.collect().toSeq.partition(_.eventName == FileEventSource.TickEvent)
        val (next, seen, flushes) = Batcher.admit(configs, now)(state, processed, events)
        val wal = writeAhead(state, next, flushes, now())
        if (wal.nonEmpty) ledger.appendBatches(wal)
        state = next
        processed = seen
        armAgeTick()
        val cmds = rerun ++ flushes
        Fanout.all(LaneThreadPrefix, lanes(cmds, configs).map(lane => () =>
          lane.foreach(cmd => runOne(spark, settings, configs, ledger, manifestFs, notifier,
            topicNotifiers, resolvePassword, cmd, attempt = 0))))
        rerun = Seq.empty
        ticks.consumed(tickEvents.filter(ticks.owns))
        // an unlink marker is read once: the ledger row `Ops` wrote before
        // it releases the file across restarts. Markers of files no prefix
        // of this pipeline loads stay for the pipeline sharing the root.
        Batcher.route(configs, events).collect { case (_, e) if e.unlink => e }
          .foreach(e => FileEventSource.deleteUnlinkMarker(
            spark.sparkContext.hadoopConfiguration, settings.watchRoot, e.loadFile))
        // once per trigger, after the join: at most one compaction, and
        // only when the flush count crossed a multiple of CompactEvery
        val before = flushed
        flushed += cmds.size
        if (before / CompactEvery != flushed / CompactEvery) ledger.compact()
      }
      .start()
    catch { case e: Throwable => ticks.stop(); throw e }
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          ticks.stop()
          spark.streams.removeListener(this)
        }
    })
    if (!query.isActive) ticks.stop()
    query
  }

  /** The ledger records of one trigger's decisions, written before any of
    * its flushes loads: `open` for each prefix whose pending batch admitted
    * files, carrying only those files ([[Ledger.Admit]]), and `locked`,
    * with every entry, for each flush. Empty when nothing changed, so an
    * idle trigger writes nothing.
    */
  private def writeAhead(before: Map[String, BatcherState], after: Map[String, BatcherState],
                         flushes: Seq[FlushCommand], at: Long): Seq[BatchRecord] = {
    val opened = after.toSeq.sortBy(_._1).flatMap { case (p, st) =>
      val known = before.get(p).filter(_.currentBatch == st.currentBatch).fold(0)(_.entries.size)
      val admitted = st.entries.drop(known)
      if (admitted.isEmpty) None
      else Some(BatchRecord(p, st.currentBatch, BatchStatus.Open.name, admitted, st.sizeBytes,
        at, updateReason = Some(Ledger.Admit)))
    }
    opened ++ flushes.map(c => BatchRecord(c.s3Prefix, c.batchId, BatchStatus.Locked.name,
      c.entries, c.sizeBytes, at, updateReason = Some(s"flush:${c.reason}")))
  }

  /** Rebuild the admission state from the ledger: `batches` is every
    * batch event, `files` the latest event of every file (tombstones
    * included). Returns each prefix's pending batch, the dedup set and
    * the flushes to run again.
    *
    *  - A batch is pending when the pipeline's own admissions are all it
    *    has recorded: its latest event is an [[Ledger.Admit]] `open` and
    *    it was never `locked`. A batch an operator reopened
    *    (`Ops.unlockBatch`) may already be in a target's commit registry,
    *    so new files must not join it. A prefix with more than one
    *    pending batch resumes the one whose latest event came last; every
    *    other prefix starts a new batch when a file arrives.
    *  - The dedup set holds every file recorded in a batch or as
    *    processed, except files whose latest file event released them (an
    *    unlink from `Ops.reprocessFile`/`reprocessPrefix`, or a
    *    tombstone), plus every entry of a batch that is still `open` or
    *    `locked`.
    *  - Batches whose latest event is `locked` were flushed but not known
    *    to have finished: they run again, and the commit registry makes a
    *    target that already committed a no-op.
    *
    * A file's admission time is that of the admission event that lists it;
    * compaction keeps every admission event of a pending batch, so a
    * recovered batch's age clock runs from its first admission. A
    * compaction cut before its deletes leaves an event twice, so each
    * history counts identical events once.
    */
  private def recover(configs: Map[String, LoadConfig], batches: Seq[BatchLedgerEvent],
                      files: Seq[FileLedgerEvent])
      : (Map[String, BatcherState], Set[String], Seq[FlushCommand]) = {
    val histories = batches.groupBy(e => (e.s3Prefix, e.batchId)).values
      .map(_.distinct.sortBy(e => (e.lastUpdate, e.seq))).toSeq
    def isAdmit(e: BatchLedgerEvent) =
      e.status == BatchStatus.Open.name && e.updateReason == Ledger.Admit
    def admitted(h: Seq[BatchLedgerEvent]): Vector[BatchEntry] =
      h.filter(isAdmit).flatMap(e => e.entryFiles.zip(e.entrySizes).map { case (f, s) =>
        BatchEntry(f, s, e.lastUpdate) }).toVector
    val live = histories.map(_.last).filter(e =>
      e.status == BatchStatus.Open.name || e.status == BatchStatus.Locked.name)

    val released = files.filter(f => f.deleted || f.batchId.isEmpty).map(_.loadFile).toSet
    val dedup = ((batches.flatMap(_.entryFiles) ++
      files.filterNot(f => f.deleted || f.batchId.isEmpty).map(_.loadFile)).toSet -- released) ++
      live.flatMap(_.entryFiles)

    val states = histories
      .filter(h => isAdmit(h.last) && !h.exists(_.status == BatchStatus.Locked.name))
      .groupBy(_.last.s3Prefix)
      .map { case (p, hs) =>
        val h = hs.maxBy(_.last.seq)
        val entries = admitted(h)
        p -> BatcherState(h.last.batchId, entries, entries.map(_.size).sum,
          if (entries.isEmpty) 0L else entries.map(_.writeDate).min)
      }

    val rerun = histories.filter(h => h.last.status == BatchStatus.Locked.name &&
        Prefix.resolve(h.last.s3Prefix, configs).isDefined)
      .sortBy(_.last.seq)
      .map { h =>
        val e = h.last
        val at = admitted(h).map(a => a.file -> a.writeDate).toMap
        FlushCommand(e.s3Prefix, e.batchId,
          e.entryFiles.zip(e.entrySizes).map { case (f, s) =>
            BatchEntry(f, s, at.getOrElse(f, e.lastUpdate)) }.toVector,
          e.sizeBytes,
          Option(e.updateReason).filter(_.startsWith("flush:")).map(_.stripPrefix("flush:"))
            .getOrElse(FlushReason.Manual.name), e.lastUpdate)
      }
    (states, dedup, rerun)
  }

  /** Compact the ledger to latest-state rows every this many flushed
    * batches: bounds the event log's file count and the latest-state
    * window's scan cost over a long-lived pipeline. */
  private val CompactEvery = 64

  private def configFor(prefix: String, configs: Map[String, LoadConfig]): Option[LoadConfig] =
    configs.get(prefix).orElse(Prefix.resolve(prefix, configs).map(_._2))

  /** Split a trigger's commands into lanes: the connected components of
    * commands that share a target, a target being the (resolved JDBC URL,
    * lower-cased table) pair. Lanes come in the order of their first
    * command, and each keeps its commands in the given order. A command
    * whose prefix has no config is a lane of its own (its run reports the
    * missing config).
    */
  private[graft] def lanes(cmds: Seq[FlushCommand],
                           configs: Map[String, LoadConfig]): Seq[Seq[FlushCommand]] = {
    // union-find over command indices, joined through each target's first user
    val parent = Array.tabulate(cmds.size)(identity)
    def root(i: Int): Int = {
      if (parent(i) != i) parent(i) = root(parent(i))
      parent(i)
    }
    val firstUser = scala.collection.mutable.Map.empty[(String, String), Int]
    cmds.indices.foreach { i =>
      configFor(cmds(i).s3Prefix, configs).toSeq.flatMap(_.targets).foreach { t =>
        val key = (Setup.resolveJdbcUrl(t.jdbcUrl), t.targetTable.toLowerCase)
        firstUser.get(key) match {
          case Some(j) => parent(root(i)) = root(j)
          case None => firstUser(key) = i
        }
      }
    }
    cmds.indices.groupBy(root).values.toSeq.sortBy(_.head).map(_.map(cmds))
  }

  /** Name prefix of lane threads. */
  private[graft] val LaneThreadPrefix = "graft-lane-"

  /** Through `fs`, the ledger path's file system ([[LocalFiles.checksummed]]),
    * like the ledger itself: a URI `ledgerDir` (`file:`, `hdfs:`, …)
    * keeps its manifests beside its ledger. */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem, dir: String, batchId: String,
                            json: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir, s"$batchId.json")
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    p.toString
  }

  private def runOne(
      spark: SparkSession,
      settings: Settings,
      configs: Map[String, LoadConfig],
      ledger: Ledger,
      manifestFs: org.apache.hadoop.fs.FileSystem,
      notifier: Notifier,
      topicNotifiers: Map[String, Notifier],
      resolvePassword: Loader.PasswordResolver,
      cmd: FlushCommand,
      attempt: Int): Unit = {
    val cfg = configFor(cmd.s3Prefix, configs).getOrElse(
      throw new IllegalStateException(s"no config for flushed prefix ${cmd.s3Prefix}"))

    // the trigger's write-ahead recorded `locked`; load → complete|error
    // (T4/T7 lifecycle)
    val schema = cfg.targets.headOption.flatMap(t => settings.schemas.get(t.targetTable))
    // per-(file,target) gate (opt-in): targets that already committed
    // every file of this batch are skipped, not re-loaded
    val skipTarget: LoadTarget => Boolean =
      if (!settings.perTargetFileDedup) _ => false
      else {
        val done = ledger.targetsFullyLoaded(cmd.entries.map(_.file))
        t => done.contains((t.jdbcUrl, t.targetTable))
      }
    val outcome = Loader.loadBatch(spark, cfg, cmd, settings.watchRoot, schema,
      resolvePassword, skipTarget = skipTarget)
    // record the facts the gate reads: one row per (file, target) that
    // COMMITTED this batch (results align with cfg.targets by order)
    if (settings.perTargetFileDedup)
      ledger.appendTargetFiles(
        for {
          (t, r) <- cfg.targets.zip(outcome.results) if r.ok && !r.skipped
          e <- cmd.entries
        } yield (e.file, t.jdbcUrl, t.targetTable, cmd.batchId),
        System.currentTimeMillis())

    // S5 manifest audit artifact; S12 failed-manifest copy on error
    val manifestJson = Loader.manifestJson(outcome.manifest)
    val manifestPath = writeManifest(manifestFs,
      s"${settings.ledgerDir}/manifests", cmd.batchId, manifestJson)
    val failedManifestPath =
      if (outcome.status == "error")
        Some(writeManifest(manifestFs, s"${settings.ledgerDir}/failed-manifests", cmd.batchId,
          manifestJson))
      else None

    val targetStatus = outcome.results.map(r =>
      r.target -> (if (r.ok) "ok" else s"error: ${r.error.getOrElse("?")}")).toMap
    ledger.appendBatch(BatchRecord(cmd.s3Prefix, cmd.batchId, outcome.status,
      cmd.entries, cmd.sizeBytes, System.currentTimeMillis(),
      Some(failedManifestPath.getOrElse(manifestPath)), targetStatus,
      outcome.results.flatMap(_.error).headOption, Some("load")))

    // one parquet append for the whole entry set, not one per file
    ledger.appendFiles(cmd.entries.map(e =>
      ProcessedFile(e.file, e.writeDate, 1, Some(cmd.batchId))), System.currentTimeMillis())

    // route by configured topic and outcome (reference index.js:1491-1541):
    // the success topic is notified UNCONDITIONALLY when configured — an
    // error batch reaches BOTH topics; only the failure delivery routes to
    // the injected default when no failure topic is set.
    val notification = Notification(
      outcome.results.flatMap(_.error).headOption,
      outcome.status, cmd.batchId, cmd.s3Prefix, cmd.s3Prefix,
      Some(manifestPath), failedManifestPath)
    val successRoute = cfg.successTopic.flatMap(topicNotifiers.get)
    val primary =
      if (outcome.status == "error") cfg.failureTopic.flatMap(topicNotifiers.get).getOrElse(notifier)
      else successRoute.getOrElse(notifier)
    primary.notify(notification)
    if (outcome.status == "error") successRoute.foreach(_.notify(notification))

    // SuppressFailureStatusOnSuccessfulNotification (index.js:1476-1481):
    // a DELIVERED failure notification downgrades the hard failure, which
    // in this architecture means the failure-driven retry is not taken —
    // the same role the flag plays against Lambda's event redelivery.
    // Suppression is judged on the failure-topic delivery only.
    val suppressed = outcome.status == "error" && primary.suppressFailureOnDelivery

    // T8: failure-driven auto-retry, no SNS hop needed
    if (outcome.status == "error" && !suppressed && attempt < settings.maxAutoReprocess &&
        outcome.results.flatMap(_.error).forall(settings.reprocessSupported)) {
      runOne(spark, settings, configs, ledger, manifestFs, notifier, topicNotifiers,
        resolvePassword, cmd.copy(reason = FlushReason.Manual.name), attempt + 1)
    }
  }
}
