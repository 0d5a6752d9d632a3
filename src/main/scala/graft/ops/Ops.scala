package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._
import graft.ledger.{BatchLedgerEvent, Ledger}
import graft.sources.FileEventSource

/** Operational command surface — the reference's CLI family
  * (`/root/reference/` `unlockBatch.js`, `resetCurrentBatch.js`,
  * `batchOperations.js:276-375`, `processedFiles.js`, `deleteBatch(es)`,
  * SURVEY §2.9) as guarded ledger transitions. Guards mirror the
  * reference's DynamoDB conditional-write preconditions (F6) — here they
  * are read-check-append against the single-writer ledger.
  */
class Ops(spark: SparkSession, ledger: Ledger) {
  import spark.implicits._

  final case class OpResult(ok: Boolean, message: String,
                            reinject: Seq[String] = Seq.empty)

  private def now(): Long = System.currentTimeMillis()

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def currentOf(prefix: String, batchId: String): Option[BatchLedgerEvent] = {
    import org.apache.spark.sql.functions.col
    ledger.currentBatches
      .filter(col("s3Prefix") === prefix && col("batchId") === batchId)
      .as[BatchLedgerEvent].collect().headOption
  }

  /** The record that moves batch `ev` to `to`, keeping its entries,
    * manifest, target outcomes and error. */
  private def record(ev: BatchLedgerEvent, to: BatchStatus, reason: String): BatchRecord =
    BatchRecord(
      ev.s3Prefix, ev.batchId, to.name,
      ev.entryFiles.zip(ev.entrySizes).map { case (f, s) => BatchEntry(f, s, 0L) },
      ev.sizeBytes, now(),
      Option(ev.manifestFile).filter(_.nonEmpty),
      ev.targetStatus,
      Option(ev.errorMessage).filter(_.nonEmpty),
      Some(reason))

  private def transition(ev: BatchLedgerEvent, to: BatchStatus, reason: String): Unit =
    ledger.appendBatch(record(ev, to, reason))

  /** Ledger read surface, re-exposed so the CLI (and embedders holding
    * only an Ops) reach the query commands without a second handle. */
  def describeBatch(prefix: String, batchId: String): DataFrame =
    ledger.describeBatch(prefix, batchId)
  def queryBatches(status: String, afterMs: Option[Long] = None,
                   beforeMs: Option[Long] = None): DataFrame =
    ledger.queryBatches(status, afterMs, beforeMs)
  def queryProcessedFile(loadFile: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    ledger.processedFiles.filter(col("loadFile") === loadFile)
  }

  /** `locked|error → open` (unlockBatch.js:87-96). The pipeline adds no
    * file to an unlocked batch: after a restart new files go to a new
    * batch. */
  def unlockBatch(prefix: String, batchId: String): OpResult =
    currentOf(prefix, batchId) match {
      case None => OpResult(ok = false, s"batch $batchId not found for $prefix")
      case Some(ev) if ev.status == BatchStatus.Locked.name || ev.status == BatchStatus.Error.name =>
        transition(ev, BatchStatus.Open, "unlockBatch")
        OpResult(ok = true, s"batch $batchId unlocked")
      case Some(ev) =>
        OpResult(ok = false, s"batch $batchId is '${ev.status}' — only locked/error can be unlocked")
    }

  /** Reprocess a batch (batchOperations.js:276-375): guard status
    * (non-open, non-empty), drop omitted files, return the file list to
    * re-inject into the ingest stream (the Spark replacement for the
    * reference's S3 copy-to-self hack, common.js:719-770), and stamp
    * `reprocessing → reprocessed`.
    */
  def reprocessBatch(prefix: String, batchId: String,
                     omitFiles: Set[String] = Set.empty): OpResult =
    currentOf(prefix, batchId) match {
      case None => OpResult(ok = false, s"batch $batchId not found for $prefix")
      case Some(ev) if ev.status != BatchStatus.Locked.name && ev.status != BatchStatus.Error.name =>
        // the reference's CAS precondition is locked|error → reprocessing
        // (batchOperations.js:297-311); anything else — open, complete,
        // already-reprocessed — must refuse, or a repeated reprocess
        // double-loads the batch.
        OpResult(ok = false,
          s"batch $batchId is '${ev.status}' — only locked/error batches can be reprocessed")
      case Some(ev) if ev.entryFiles.isEmpty =>
        OpResult(ok = false, "batch has no entries")
      case Some(ev) =>
        val files = ev.entryFiles.filterNot(omitFiles.contains)
        transition(ev, BatchStatus.Reprocessing, "reprocessBatch")
        transition(ev, BatchStatus.Reprocessed, "reprocessBatch")
        OpResult(ok = true, s"${files.size} files queued for reprocessing", files)
    }

  /** Delete one batch, returning its last state — the reference's
    * DynamoDB `delete` with `ReturnValues: ALL_OLD`
    * (batchOperations.js:193-271). The batch vanishes from every
    * current-state view immediately and from disk at the next
    * compaction.
    */
  def deleteBatch(prefix: String, batchId: String): (OpResult, Option[BatchLedgerEvent]) =
    currentOf(prefix, batchId) match {
      case None => (OpResult(ok = false, s"batch $batchId not found for $prefix"), None)
      case Some(old) =>
        transition(old, BatchStatus.Deleted, "deleteBatch")
        (OpResult(ok = true, s"batch $batchId deleted"), Some(old))
    }

  /** deleteBatches with the reference's dry-run-by-default semantics
    * (`deleteBatches.js`, batchOperations.js:193-271): returns the
    * doomed rows (ALL_OLD parity); with dryRun=false they are deleted
    * for real — gone from current-state views, dropped at compaction.
    */
  def deleteBatches(status: String, dryRun: Boolean = true,
                    afterMs: Option[Long] = None, beforeMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val doomed = ledger.queryBatches(status, afterMs, beforeMs)
    if (!dryRun) {
      // single pass: one latest-event scan collects every doomed event,
      // one appendBatches writes every tombstone — not a currentOf scan
      // and a parquet file per row
      var df = ledger.currentBatches.filter(col("status") === status)
      afterMs.foreach(a => df = df.filter(col("lastUpdate") >= a))
      beforeMs.foreach(b => df = df.filter(col("lastUpdate") <= b))
      ledger.appendBatches(df.as[BatchLedgerEvent].collect().toSeq
        .map(record(_, BatchStatus.Deleted, "deleteBatches")))
    }
    doomed
  }

  /** processedFiles --delete (processedFiles.js:30-53): remove one
    * file's dedup/audit entry so its next delivery is admitted as new.
    * Returns the old entry, ALL_OLD-style.
    */
  def deleteProcessedFile(loadFile: String): (OpResult, Option[org.apache.spark.sql.Row]) = {
    import org.apache.spark.sql.functions.col
    val old = ledger.processedFiles.filter(col("loadFile") === loadFile).collect().headOption
    old match {
      case None => (OpResult(ok = false, s"$loadFile not in processed-file ledger"), None)
      case Some(row) =>
        ledger.tombstoneFile(loadFile, now())
        (OpResult(ok = true, s"$loadFile deleted from processed-file ledger"), Some(row))
    }
  }

  /** Reload a batch's files straight through the Loader under a fresh
    * batch id — the Spark-native form of the reference's reprocess
    * re-injection. The reference re-injects by S3 copy-to-self to
    * synthesize fresh events (`common.js:719-770`); here the ledger
    * already has the file list, so reprocessing is a direct batch load
    * (no streaming round-trip, no dedup unlinking), with the commit
    * registry keeping it exactly-once under the new id.
    */
  def reloadBatch(prefix: String, batchId: String, cfg: LoadConfig,
                  fileRoot: String,
                  schema: Option[org.apache.spark.sql.types.StructType] = None,
                  resolvePassword: String => String = identity,
                  omitFiles: Set[String] = Set.empty): OpResult = {
    val guard = reprocessBatch(prefix, batchId, omitFiles)
    if (!guard.ok) guard
    else {
      val entries = guard.reinject.map(f => BatchEntry(f, 0L, now()))
      val cmd = FlushCommand(prefix, s"$batchId-r${now() % 100000}",
        entries, 0L, FlushReason.Manual.name, now())
      val outcome = graft.loader.Loader.loadBatch(
        spark, cfg, cmd, fileRoot, schema, resolvePassword)
      ledger.appendBatch(BatchRecord(prefix, cmd.batchId, outcome.status,
        entries, 0L, now(), None,
        outcome.results.map(r => r.target -> (if (r.ok) "ok" else "error")).toMap,
        outcome.results.flatMap(_.error).headOption, Some("reloadBatch")))
      OpResult(outcome.status == "complete",
        s"reloaded ${entries.size} files as ${cmd.batchId}: ${outcome.status}",
        guard.reinject)
    }
  }

  /** resetCurrentBatch (resetCurrentBatch.js:79-152): clear the config's
    * current-batch pointer so the next append starts a fresh batch. In
    * this engine the live pointer is the running pipeline's driver-side
    * admission state (rotated automatically on flush, rebuilt from the
    * ledger's `open` batches on start); the config-level marker is reset
    * for parity only.
    */
  def resetCurrentBatch(store: graft.config.ConfigStore, prefix: String): OpResult =
    store.update(prefix, _.copy(currentBatch = "")) match {
      case Some(_) => OpResult(ok = true, s"current batch reset for $prefix")
      case None    => OpResult(ok = false, s"no config for $prefix")
    }

  /** processedFiles --reprocess: re-inject one file; unlink its batch
    * linkage in the audit log (common.js:842-916).
    *
    * Passing `watchRoot` also drops an unlink marker into the watched
    * tree's control namespace; the running pipeline consumes it and
    * clears the file from its driver-side dedup set — without this, the
    * re-injected delivery would be swallowed as a duplicate (the
    * reference achieves the same by deleting the DynamoDB
    * processed-files item before its copy-to-self re-injection). The
    * ledger row written here releases the file on restart too: a
    * starting pipeline leaves it out of the dedup set it rebuilds. So the
    * pipeline deletes the marker once it has read it; a fresh checkpoint
    * would otherwise list it again and release the file after its reload.
    */
  def reprocessFile(loadFile: String, watchRoot: Option[String] = None): OpResult = {
    import org.apache.spark.sql.functions.col
    val cur = ledger.processedFiles.filter(col("loadFile") === loadFile).collect().headOption
    cur match {
      case None => OpResult(ok = false, s"$loadFile not in processed-file ledger")
      case Some(row) =>
        val prevBatch = row.getAs[String]("batchId")
        // getAs returns a mutable ArraySeq in Scala 2.13 — convert, don't cast
        val prev = row.getAs[scala.collection.Seq[String]]("previousBatches").toSeq
        ledger.appendFile(ProcessedFile(loadFile, now(), 0, None,
          if (prevBatch.nonEmpty) prev :+ prevBatch else prev), now())
        watchRoot.foreach(FileEventSource.writeUnlinkMarker(hadoopConf, _, loadFile))
        OpResult(ok = true, s"$loadFile queued for reprocessing", Seq(loadFile))
    }
  }

  /** Mass reprocess by prefix (`reprocessS3Prefix`,
    * `fileProcessingUtils.js:39-89`): list the watched tree, keep files
    * under `prefix` whose name passes `regexFilter`, and queue every one
    * that has a processed-file entry — the reference's paged
    * list+filter+reprocess loop as one listing scan, one semi-join, one
    * ledger append, and one unlink marker per matched file.
    */
  def reprocessPrefix(watchRoot: String, prefix: String,
                      regexFilter: Option[String] = None): OpResult = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val re = regexFilter.map(_.r)
    val listed = FileEventSource.list(spark, watchRoot)
      .filter(e => !e.unlink)
      .map(e => s"${e.bucket}/${e.key}")
      .filter(f => f.startsWith(prefix) && re.forall(_.findFirstIn(f).isDefined))
      .persist()
    val listedCount = listed.count()
    val matched = ledger.processedFiles
      .join(broadcast(listed.toDF("loadFile")), Seq("loadFile"), "inner")
      .collect()
    listed.unpersist(blocking = false)
    val at = now()
    val unlinked = matched.toSeq.map { row =>
      val prevBatch = row.getAs[String]("batchId")
      val prev = row.getAs[scala.collection.Seq[String]]("previousBatches").toSeq
      ProcessedFile(row.getAs[String]("loadFile"), at, 0, None,
        if (prevBatch.nonEmpty) prev :+ prevBatch else prev)
    }
    ledger.appendFiles(unlinked, at)
    val markerFs = FileEventSource.markerFs(hadoopConf, watchRoot)
    unlinked.foreach(f => FileEventSource.writeUnlinkMarker(markerFs, watchRoot, f.loadFile))
    OpResult(ok = unlinked.nonEmpty,
      s"${unlinked.size} of $listedCount listed files queued for reprocessing under $prefix",
      unlinked.map(_.loadFile))
  }
}
