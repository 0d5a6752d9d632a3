package graft.ledger

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import graft.core._

/** Durable, queryable batch + processed-file ledger — the Spark-native
  * replacement for the reference's three DynamoDB tables
  * (`/root/reference/common.js:130-226`). Event-sourced: every state
  * change is an appended parquet row; "current state" is the
  * latest-event-per-key view. This keeps writes append-only (no
  * compare-and-swap needed — the streaming pipeline is the single
  * writer) while giving ops the full history the reference scatters
  * across `previousBatches` / `clusterLoadStatus` attributes.
  *
  * Scale: the log partitions by `event_date`, so ops queries prune to
  * the window they ask about; the latest-state window function shuffles
  * only the (small) control-plane log, never user data. Appends batch
  * per call (use [[appendFiles]] for a whole flush's file set), and
  * [[compact]] rewrites the log to latest-state rows so the file count
  * and the window-scan cost stay bounded over a long-lived pipeline.
  *
  * An append is control-plane work of a few rows, so it runs no Spark
  * job: the driver writes one parquet file per `eventDate` under a
  * hidden in-progress name and makes it visible with one atomic rename,
  * keeping it near the milliseconds the reference's per-event DynamoDB
  * write costs — a job's scheduling alone outweighs the rows. Only
  * [[compact]] runs a Spark job. The writer is Spark's own
  * `ParquetFileFormat` output writer, reached through
  * `org.apache.spark.sql.execution.datasources`, so appended files carry
  * the same parquet schema and footer metadata as a Spark write and the
  * log reads back as one table whichever path wrote each file.
  *
  * Every append carries a monotonic `seq` (single-writer): `lastUpdate`
  * has millisecond grain, and transitions like reprocessing→reprocessed
  * land inside the same millisecond — `seq` makes the latest-event
  * window deterministic.
  */
final case class BatchLedgerEvent(
    s3Prefix: String,
    batchId: String,
    status: String,
    entryFiles: Seq[String],
    entrySizes: Seq[Long],
    sizeBytes: Long,
    manifestFile: String,
    targetStatus: Map[String, String],
    errorMessage: String,
    updateReason: String,
    lastUpdate: Long,
    seq: Long,
    eventDate: java.sql.Date)

final case class FileLedgerEvent(
    loadFile: String,
    receiveDateTime: Long,
    timesReceived: Int,
    batchId: String,
    previousBatches: Seq[String],
    deleted: Boolean,
    seq: Long,
    eventDate: java.sql.Date)

/** One committed (file, target) fact — the opt-in per-target dedup
  * ledger behind `Pipeline.Settings.perTargetFileDedup` (SURVEY
  * §7.5-7's documented fix: the reference's dedup is per-file only, so
  * reprocessing a partially-failed multi-cluster batch re-loads the
  * clusters that already committed). Append-only facts: a row means
  * `loadFile` was part of a batch whose transactional commit succeeded
  * on (jdbcUrl, targetTable).
  */
final case class TargetFileLedgerEvent(
    loadFile: String,
    jdbcUrl: String,
    targetTable: String,
    batchId: String,
    loadedAt: Long,
    seq: Long,
    eventDate: java.sql.Date)

class Ledger(spark: SparkSession, dir: String) {
  import spark.implicits._

  private val batchDir = s"$dir/batches"
  private val fileDir = s"$dir/files"
  private val targetFileDir = s"$dir/target_files"

  private def today(ts: Long) = new java.sql.Date(ts - ts % 86400000L)

  private def pathExists(p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** A stop() that interrupts an in-flight append can leave the log dir
    * existing but holding only uncommitted droppings (a hidden
    * in-progress file, or `_temporary` from a log written by a Spark
    * job). `spark.read.parquet` skips those and, finding no footer,
    * throws UNABLE_TO_INFER_SCHEMA — from the CONSTRUCTOR's seq resume,
    * which would brick pipeline restart (the exact recovery moment the
    * interrupted append makes inevitable). A log counts as present only
    * when at least one visible parquet file exists, hidden meaning a
    * name starting with `.` or `_` as in Spark's file listing; the
    * listing is metadata-only and the log's file count is bounded by
    * compaction.
    */
  private def hasData(p: String): Boolean = {
    val hp = new Path(p)
    val f = fs(hp)
    // listStatus recursion, not listFiles(recursive): the flat iterator
    // resolves child paths through the default FS and breaks on wrapper
    // filesystems (LedgerCrashSpec's fault-injecting scheme)
    def anyParquet(d: Path): Boolean =
      f.listStatus(d).exists { s =>
        val name = s.getPath.getName
        !name.startsWith(".") && !name.startsWith("_") &&
          (if (s.isFile) name.endsWith(".parquet") else anyParquet(s.getPath))
      }
    f.exists(hp) && anyParquet(hp)
  }

  private def fs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Hadoop signals most rename failures by returning false, not
    * throwing; a silent false here followed by a delete would destroy the
    * only complete copy of the log, so every swap step must abort on it —
    * and so must an append, whose events would otherwise be reported
    * written while still invisible.
    */
  private def renameOrAbort(f: org.apache.hadoop.fs.FileSystem,
                            src: org.apache.hadoop.fs.Path,
                            dst: org.apache.hadoop.fs.Path): Unit =
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"ledger swap aborted: rename $src -> $dst returned false")

  /** Finish an interrupted [[compact]] swap. The swap order (write
    * `.compact` → rename live aside to `.old` → rename `.compact` in →
    * delete `.old`) guarantees a complete copy of the log exists on disk
    * at every step; this replays the remaining steps so a crash at any
    * point leaves the ledger readable on next construction:
    *  - live + stale `.compact`/`.old` → drop the leftovers;
    *  - live missing, `.compact` present (complete by write order) →
    *    rename it in;
    *  - live missing, only `.old` → restore it.
    */
  private def recoverSwap(d: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(d)
    val tmp = new org.apache.hadoop.fs.Path(d + ".compact")
    val old = new org.apache.hadoop.fs.Path(d + ".old")
    val f = fs(live)
    if (f.exists(live)) {
      if (f.exists(tmp)) f.delete(tmp, true)
      if (f.exists(old)) f.delete(old, true)
    } else if (f.exists(tmp)) {
      renameOrAbort(f, tmp, live)
      if (f.exists(old)) f.delete(old, true)
    } else if (f.exists(old)) {
      renameOrAbort(f, old, live)
    }
  }
  recoverSwap(batchDir)
  recoverSwap(fileDir)

  /** Monotonic append counter, resumed from the on-disk log (single
    * writer by design — the streaming pipeline; ops commands run against
    * a quiesced prefix, as in the reference's CLI contract).
    */
  private val seqCounter = {
    def maxSeq(exists: Boolean, read: () => DataFrame): Long =
      if (!exists) 0L
      else read().agg(max($"seq")).head().get(0) match {
        case l: java.lang.Long => l.longValue()
        case _ => 0L
      }
    new java.util.concurrent.atomic.AtomicLong(math.max(
      maxSeq(hasData(batchDir), () => batchLog.toDF()),
      maxSeq(hasData(fileDir), () => fileLog.toDF())))
  }

  def appendBatch(rec: BatchRecord, reason: String = ""): Unit =
    appendBatches(Seq(rec), reason)

  /** One parquet append for a whole batch-record set — bulk ops (e.g.
    * deleteBatches) write one file, not one per doomed row.
    */
  def appendBatches(recs: Seq[BatchRecord], reason: String = ""): Unit =
    appendRows(batchDir, batchCodec, recs.map { rec =>
      BatchLedgerEvent(
        rec.s3Prefix, rec.batchId, rec.status,
        rec.entries.map(_.file), rec.entries.map(_.size), rec.sizeBytes,
        rec.manifestFile.getOrElse(""), rec.targetStatus,
        rec.errorMessage.getOrElse(""),
        if (reason.nonEmpty) reason else rec.updateReason.getOrElse(""),
        rec.lastUpdate, seqCounter.incrementAndGet(), today(rec.lastUpdate))
    })

  def appendFile(ev: ProcessedFile, atMs: Long): Unit = appendFiles(Seq(ev), atMs)

  /** One parquet append for a whole file set — a flush's entries land as
    * one file, not one file per entry (small-files control at scale).
    */
  def appendFiles(evs: Seq[ProcessedFile], atMs: Long): Unit =
    appendRows(fileDir, fileCodec, evs.map(ev => FileLedgerEvent(ev.loadFile, ev.receiveDateTime,
      ev.timesReceived, ev.batchId.getOrElse(""), ev.previousBatches, deleted = false,
      seqCounter.incrementAndGet(), today(atMs))))

  /** Append committed (file, target) facts — one parquet file per call
    * (the [[appendFiles]] small-files rule). Written by the pipeline
    * only under `perTargetFileDedup`; no compaction applies (immutable
    * facts, no latest-state projection to collapse).
    */
  def appendTargetFiles(evs: Seq[(String, String, String, String)],
                        atMs: Long): Unit =
    appendRows(targetFileDir, targetFileCodec, evs.map { case (file, url, table, batchId) =>
      TargetFileLedgerEvent(file, url, table, batchId, atMs,
        seqCounter.incrementAndGet(), today(atMs))
    })

  /** One log's row codec: the case-class encoder's generated serializer
    * and its split into parquet data columns and the `eventDate`
    * partition value. Built once per log, since building an encoder and
    * generating its serializer costs more than writing a flush's rows.
    */
  private final class LogCodec[T: Encoder] {
    private val enc = encoderFor(implicitly[Encoder[T]])
    private val toRow = enc.createSerializer()
    private val dateIdx = enc.schema.fieldIndex("eventDate")
    private val dataFields = enc.schema.fields.indices.filter(_ != dateIdx)
    val dataSchema: StructType = StructType(dataFields.map(enc.schema.fields(_)))

    /** Data rows grouped by the encoded date's epoch day. Synchronized:
      * the serializer reuses one output row. */
    def encode(events: Seq[T]): Map[Int, Seq[InternalRow]] = synchronized {
      events.map(toRow(_).copy()).groupBy(_.getInt(dateIdx)).map { case (day, rows) =>
        day -> rows.map(r => InternalRow.fromSeq(
          dataFields.map(i => r.get(i, enc.schema.fields(i).dataType))))
      }
    }
  }
  private lazy val batchCodec = new LogCodec[BatchLedgerEvent]
  private lazy val fileCodec = new LogCodec[FileLedgerEvent]
  private lazy val targetFileCodec = new LogCodec[TargetFileLedgerEvent]

  /** Write `events` as one parquet file per `eventDate` partition on the
    * driver. Each file is written under a hidden in-progress name inside
    * its `eventDate=` directory, then renamed to a visible `part-` name:
    * a crash before the rename leaves a file every reader ignores (see
    * [[hasData]]) and the next [[compact]] drops. The directory name is
    * formatted from the encoded date's epoch day — the value the column
    * reads back as — never from the JVM time zone.
    */
  private def appendRows[T](dir: String, codec: LogCodec[T], events: Seq[T]): Unit =
    if (events.nonEmpty) {
      val job = Job.getInstance(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.newHadoopConf())
      val writers = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, codec.dataSchema)
      val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
      val name = s"part-00000-${java.util.UUID.randomUUID()}.c000${writers.getFileExtension(ctx)}"
      codec.encode(events).foreach { case (day, rows) =>
        val part = new Path(dir, s"eventDate=${java.time.LocalDate.ofEpochDay(day)}")
        val inProgress = new Path(part, s".$name.inprogress")
        val w = writers.newInstance(inProgress.toString, codec.dataSchema, ctx)
        try rows.foreach(w.write) finally w.close()
        renameOrAbort(fs(part), inProgress, new Path(part, name))
      }
    }

  def targetFileLog: Dataset[TargetFileLedgerEvent] =
    if (hasData(targetFileDir))
      spark.read.parquet(targetFileDir).as[TargetFileLedgerEvent]
    else spark.emptyDataset[TargetFileLedgerEvent]

  /** The (jdbcUrl, targetTable) pairs into which EVERY file of `files`
    * has already been committed — the gate for the per-target retry
    * fan-out. Result is targets-sized (control plane); the log scan is
    * one filtered distinct + count.
    */
  def targetsFullyLoaded(files: Seq[String]): Set[(String, String)] =
    if (files.isEmpty) Set.empty
    else targetFileLog
      .filter($"loadFile".isin(files: _*))
      .select($"loadFile", $"jdbcUrl", $"targetTable").distinct()
      .groupBy($"jdbcUrl", $"targetTable").count()
      .filter($"count" === files.size.toLong)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  /** Tombstone one file's dedup/audit entry (processedFiles --delete,
    * `processedFiles.js:30-53`): hidden from [[processedFiles]]
    * immediately, physically dropped at [[compact]].
    */
  def tombstoneFile(loadFile: String, atMs: Long): Unit =
    appendRows(fileDir, fileCodec, Seq(FileLedgerEvent(loadFile, atMs, 0, "", Seq.empty,
      deleted = true, seqCounter.incrementAndGet(), today(atMs))))

  /** Pre-upgrade on-disk logs lack columns later schema versions added
    * (`seq`, `deleted`): backfill read-side defaults so an existing
    * deployment's history keeps resolving — the version-gated upgrade
    * pattern ConfigCodec uses, applied to the ledger. Old events all get
    * seq=0, which the latest-event windows order BELOW any post-upgrade
    * event of the same timestamp — exactly the conservative tie-break.
    */
  private def withDefault(df: DataFrame, name: String,
                          default: org.apache.spark.sql.Column): DataFrame =
    if (df.columns.contains(name)) df else df.withColumn(name, default)

  /** Full event history. An absent directory (nothing appended yet) reads
    * as empty; anything else — corrupt footers, permission failures —
    * surfaces, because masking it would report a live ledger as "no
    * history".
    */
  def batchLog: Dataset[BatchLedgerEvent] =
    if (hasData(batchDir))
      withDefault(spark.read.parquet(batchDir), "seq", lit(0L).cast("long"))
        .as[BatchLedgerEvent]
    else spark.emptyDataset[BatchLedgerEvent]

  def fileLog: Dataset[FileLedgerEvent] =
    if (hasData(fileDir)) {
      val raw = spark.read.parquet(fileDir)
      withDefault(withDefault(raw, "seq", lit(0L).cast("long")),
        "deleted", lit(false)).as[FileLedgerEvent]
    } else spark.emptyDataset[FileLedgerEvent]

  /** Latest event per (s3Prefix, batchId) including tombstones — the raw
    * latest-state view compaction and delete-ops work from.
    */
  def latestBatchEvents: DataFrame = {
    val w = Window.partitionBy($"s3Prefix", $"batchId")
      .orderBy($"lastUpdate".desc, $"seq".desc)
    batchLog.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
  }

  /** Latest event per (s3Prefix, batchId) — the current batch state.
    * `seq` breaks same-millisecond ties deterministically; deleted
    * batches are gone, as after the reference's DynamoDB delete.
    */
  def currentBatches: DataFrame =
    latestBatchEvents.filter($"status" =!= BatchStatus.Deleted.name)

  /** Point lookup (describeBatch CLI —
    * `/root/reference/batchOperations.js:60-89`). */
  def describeBatch(s3Prefix: String, batchId: String): DataFrame =
    currentBatches.filter($"s3Prefix" === s3Prefix && $"batchId" === batchId)

  /** The reference's one real query (GSI on status+lastUpdate,
    * `batchOperations.js:101-184`): batches by status, optional time
    * range, projected like queryBatches.js.
    */
  def queryBatches(status: String, afterMs: Option[Long] = None,
                   beforeMs: Option[Long] = None): DataFrame = {
    var df = currentBatches.filter($"status" === status)
    afterMs.foreach(a => df = df.filter($"lastUpdate" >= a))
    beforeMs.foreach(b => df = df.filter($"lastUpdate" <= b))
    df.select($"s3Prefix", $"batchId", $"status",
      from_unixtime($"lastUpdate" / 1000).as("lastUpdateDate"), $"lastUpdate")
  }

  /** Latest event per file including tombstones. */
  def latestFileEvents: DataFrame = {
    val w = Window.partitionBy($"loadFile")
      .orderBy($"receiveDateTime".desc, $"timesReceived".desc, $"seq".desc)
    fileLog.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
  }

  /** Current dedup/audit state per file (processedFiles --query);
    * tombstoned files are gone.
    */
  def processedFiles: DataFrame =
    latestFileEvents.filter(!$"deleted")

  /** Rewrite both logs to their latest-state rows. Run periodically (the
    * Pipeline does, every `Settings.compactEvery` flushes): an
    * append-per-event log accretes one small parquet file per state
    * change, and the latest-event window re-reads all of them on every
    * ops query. Compaction = the DynamoDB tables' current-state shape,
    * with history traded for bounded scan cost.
    *
    * Crash-safe single-writer swap: write `<dir>.compact`, rename the
    * live dir aside to `<dir>.old`, rename `.compact` in, delete `.old`.
    * A complete copy of the log exists on disk between every pair of
    * steps; [[recoverSwap]] finishes an interrupted swap at next
    * construction.
    */
  def compact(): Unit = {
    compactOne(batchDir, () => currentBatches)
    compactOne(fileDir, () => processedFiles)
  }

  /** `crashAfterStep` is a test seam: throw after step N (1=tmp written,
    * 2=live renamed aside, 3=tmp renamed in) to exercise recovery.
    */
  private[ledger] def compactOne(d: String, current: () => DataFrame,
                                 crashAfterStep: Int = Int.MaxValue): Unit =
    if (pathExists(d)) {
      val live = new org.apache.hadoop.fs.Path(d)
      val tmp = new org.apache.hadoop.fs.Path(d + ".compact")
      val old = new org.apache.hadoop.fs.Path(d + ".old")
      val f = fs(live)
      current().coalesce(1).write.mode(SaveMode.Overwrite)
        .partitionBy("eventDate").parquet(tmp.toString)
      if (crashAfterStep <= 1) throw new IllegalStateException("simulated crash after step 1")
      renameOrAbort(f, live, old)
      if (crashAfterStep <= 2) throw new IllegalStateException("simulated crash after step 2")
      renameOrAbort(f, tmp, live)
      if (crashAfterStep <= 3) throw new IllegalStateException("simulated crash after step 3")
      f.delete(old, true)
    }
}
