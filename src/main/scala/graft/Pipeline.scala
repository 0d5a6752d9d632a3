package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.config.Setup
import graft.core._
import graft.ledger.Ledger
import graft.loader.Loader
import graft.notify.{Notification, Notifier, LogNotifier}
import graft.sources.FileEventSource
import graft.streaming.Batcher

/** The assembled engine: the reference's full Lambda lifecycle
  * (SURVEY §3.1) as one Structured Streaming query.
  *
  *   file events → admission/dedup/batching (stateful) → FlushCommand
  *   → foreachBatch: format-aware read → transactional JDBC fan-out
  *   → ledger append → notification → (optional) auto-reprocess hook.
  *
  * The flush-command stream is tiny control-plane data, so `collect()`
  * inside foreachBatch is correct at any scale — the data files
  * themselves are read and written entirely on executors.
  *
  * Lanes: the reference runs one Lambda invocation per S3 event, so
  * batches of different prefixes load at the same time. A trigger's
  * commands are split into lanes — connected components of commands that
  * share a target (resolved JDBC URL, lower-cased table) — so every batch
  * of one prefix, and every prefix loading one table, keeps `collect()`
  * order in one lane (`truncateTarget` and `presql` see the same order as
  * before). Lanes run through [[Fanout.all]]: different lanes at the
  * same time on threads made for the trigger, a trigger's only lane
  * inline on the micro-batch thread. The trigger returns only once every
  * lane has ended; a lane failure is rethrown then, and replays like any
  * failed trigger: the commit registry makes a target that already
  * committed a no-op and the ledger appends re-run. Ledger compaction
  * runs after that join, so its directory swap never races a lane's
  * append.
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
  * the interrupted trigger never reaches the streaming commit log, so
  * it replays on restart — the commit registry makes the JDBC load a
  * no-op and the ledger append re-runs.
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

    val ledger = new Ledger(spark, settings.ledgerDir)
    val events = FileEventSource.stream(spark, settings.watchRoot)
    val flushes: Dataset[FlushCommand] = Batcher.run(spark, events, configs)

    var flushed = 0L // touched only by the micro-batch thread
    flushes.writeStream
      .outputMode("append")
      .option("checkpointLocation", settings.checkpointDir)
      .trigger(Trigger.ProcessingTime(settings.triggerInterval))
      .foreachBatch { (batch: Dataset[FlushCommand], _: Long) =>
        val cmds = batch.collect().toSeq
        Fanout.all(LaneThreadPrefix, lanes(cmds, configs).map(lane => () =>
          lane.foreach(cmd => runOne(spark, settings, configs, ledger, notifier,
            topicNotifiers, resolvePassword, cmd, attempt = 0))))
        // once per trigger, after the join: at most one compaction, and
        // only when the flush count crossed a multiple of CompactEvery
        val before = flushed
        flushed += cmds.size
        if (before / CompactEvery != flushed / CompactEvery) ledger.compact()
      }
      .start()
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

  /** Through the ledger path's Hadoop `FileSystem`, like the ledger
    * itself: a URI `ledgerDir` (`file:`, `hdfs:`, …) keeps its manifests
    * beside its ledger. */
  private def writeManifest(spark: SparkSession, dir: String, batchId: String,
                            json: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir, s"$batchId.json")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    p.toString
  }

  private def runOne(
      spark: SparkSession,
      settings: Settings,
      configs: Map[String, LoadConfig],
      ledger: Ledger,
      notifier: Notifier,
      topicNotifiers: Map[String, Notifier],
      resolvePassword: Loader.PasswordResolver,
      cmd: FlushCommand,
      attempt: Int): Unit = {
    val cfg = configFor(cmd.s3Prefix, configs).getOrElse(
      throw new IllegalStateException(s"no config for flushed prefix ${cmd.s3Prefix}"))

    // lock → load → complete|error, ledger rows for each (T4/T7 lifecycle)
    ledger.appendBatch(BatchRecord(cmd.s3Prefix, cmd.batchId, BatchStatus.Locked.name,
      cmd.entries, cmd.sizeBytes, System.currentTimeMillis(), None, Map.empty, None,
      Some(s"flush:${cmd.reason}")))

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
    val manifestPath = writeManifest(spark,
      s"${settings.ledgerDir}/manifests", cmd.batchId, manifestJson)
    val failedManifestPath =
      if (outcome.status == "error")
        Some(writeManifest(spark, s"${settings.ledgerDir}/failed-manifests", cmd.batchId,
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
      runOne(spark, settings, configs, ledger, notifier, topicNotifiers,
        resolvePassword, cmd.copy(reason = FlushReason.Manual.name), attempt + 1)
    }
  }
}
