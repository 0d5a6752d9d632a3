package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
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
  * Shutdown note: `query.stop()` interrupts the micro-batch thread. The
  * interrupt (InterruptedException from the load's wait on its targets,
  * InterruptedIOException from a ledger write) propagates out of the
  * trigger rather than becoming an `error` batch outcome, so shutdown
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
      /** Compact the ledger to latest-state rows every N flushed batches
        * (0 = never): bounds the event log's file count and the
        * latest-state window's scan cost over a long-lived pipeline. */
      compactEvery: Int = 64,
      /** Back the Batcher's keyed state with RocksDB instead of the
        * default in-memory HDFS-backed store: for deployments watching
        * many prefixes with large dedup ledgers, state no longer has to
        * fit on the executor heap (rocksdbjni ships with Spark). */
      rocksDbState: Boolean = false,
      /** SURVEY §7.5-7 opt-in fix: gate the T9 fan-out on per-
        * (file, target) ledger rows, so reprocessing a partially-failed
        * multi-target batch loads ONLY the targets that never committed
        * its files. Off by default — the reference's dedup is per-file
        * only, and faithful parity re-loads committed clusters.
        * Loads are bounded by statement-level query timeouts (see
        * Loader) so an over-budget target rolls back rather than
        * committing after the fan-out gave up; the residual
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

    if (settings.rocksDbState)
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val ledger = new Ledger(spark, settings.ledgerDir)
    val events = FileEventSource.stream(spark, settings.watchRoot)
    val flushes: Dataset[FlushCommand] = Batcher.run(spark, events, configs)

    val flushed = new java.util.concurrent.atomic.AtomicLong(0L)
    flushes.writeStream
      .outputMode("append")
      .option("checkpointLocation", settings.checkpointDir)
      .trigger(Trigger.ProcessingTime(settings.triggerInterval))
      .foreachBatch { (batch: Dataset[FlushCommand], _: Long) =>
        batch.collect().foreach { cmd =>
          runOne(spark, settings, configs, ledger, notifier, topicNotifiers,
            resolvePassword, cmd, attempt = 0)
          if (settings.compactEvery > 0 &&
              flushed.incrementAndGet() % settings.compactEvery == 0)
            ledger.compact()
        }
      }
      .start()
  }

  /** The CURATION ingest on the same foreachBatch discipline as
    * [[start]]'s loader: one streaming query drives micro-batches of
    * raw documents through the composed chain — normalize → PII scrub
    * → stored-index dedup admission → stored-LM quality gate → split
    * → offset-continued packing — with all state in stored tables
    * (dedup corpus, LM model, pack offsets). See
    * [[graft.streaming.CurationIngest]] for the parity contract; this
    * is the batch q204 pipeline's streaming dual on the ingest path.
    */
  def startCurationIngest(spark: SparkSession, docs: org.apache.spark.sql.DataFrame,
      cfg: graft.streaming.CurationIngest.Config,
      labeledDir: String, manifestDir: String, checkpointDir: String,
      triggerInterval: String = "5 seconds",
      availableNow: Boolean = false): StreamingQuery =
    graft.streaming.CurationIngest.start(spark, docs, cfg,
      labeledDir, manifestDir, checkpointDir, triggerInterval, availableNow)

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
    val cfg = configs.getOrElse(cmd.s3Prefix,
      Prefix.resolve(cmd.s3Prefix, configs).map(_._2).getOrElse(
        throw new IllegalStateException(s"no config for flushed prefix ${cmd.s3Prefix}")))

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
