package graft.core

/** Control-plane data model for the Graft engine.
  *
  * Re-expresses the reference's DynamoDB item shapes
  * (`/root/reference/common.js:130-226`, `/root/reference/setup.js:28-458`,
  * `/root/reference/constants.js:15-24`) as plain Scala case classes. These
  * are broadcast-friendly (small, serializable) and double as Spark
  * `Encoder`-able row types for the ledger tables.
  */

/** Data format tag — the only "type system" the reference applies to user
  * data (`/root/reference/setup.js:213-220`, `index.js:1165-1194`).
  */
sealed abstract class DataFormat(val name: String)
object DataFormat {
  case object Csv     extends DataFormat("CSV")
  case object Json    extends DataFormat("JSON")
  case object Avro    extends DataFormat("AVRO")
  case object Parquet extends DataFormat("PARQUET")
  case object Orc     extends DataFormat("ORC")
  val all: Seq[DataFormat] = Seq(Csv, Json, Avro, Parquet, Orc)
  def parse(s: String): DataFormat =
    all.find(_.name.equalsIgnoreCase(s)).getOrElse(
      throw new IllegalArgumentException(
        s"Unsupported data format '$s' (must be one of ${all.map(_.name).mkString(", ")})"))
}

/** Batch lifecycle states (`/root/reference/constants.js:15-18`,
  * `batchOperations.js:279,358`). Transition guards live in
  * [[graft.streaming.Batcher]] / [[graft.ops]].
  */
sealed abstract class BatchStatus(val name: String)
object BatchStatus {
  case object Open         extends BatchStatus("open")
  case object Locked       extends BatchStatus("locked")
  case object Complete     extends BatchStatus("complete")
  case object Error        extends BatchStatus("error")
  case object Reprocessing extends BatchStatus("reprocessing")
  case object Reprocessed  extends BatchStatus("reprocessed")
  /** Terminal tombstone: excluded from current-state views, physically
    * dropped at compaction — the event-sourced form of the reference's
    * DynamoDB delete (batchOperations.js:193-271). */
  case object Deleted      extends BatchStatus("deleted")
  val all: Seq[BatchStatus] =
    Seq(Open, Locked, Complete, Error, Reprocessing, Reprocessed, Deleted)
  def parse(s: String): BatchStatus =
    all.find(_.name == s).getOrElse(throw new IllegalArgumentException(s"Unknown batch status '$s'"))
}

/** One JDBC load target — the Spark-native analogue of a reference
  * `loadClusters[]` entry (`/root/reference/setup.js:28-43`,
  * `index.js:1103-1112,1157-1161`). Passwords are kept encrypted at rest
  * via [[graft.crypto.Keystore]] and decrypted at connect time.
  */
final case class LoadTarget(
    jdbcUrl: String,
    user: String,
    encryptedPassword: String,
    targetTable: String,
    truncateTarget: Boolean = false,
    presql: Option[String] = None,
    postsql: Option[String] = None,
    /** Optional explicit column list: COPY t (a, b, c) — `index.js:1157-1161`. */
    columnList: Option[Seq[String]] = None)

/** Per-prefix load configuration
  * (`/root/reference/config.json.commented:1-119`, `setup.js:28-458`).
  */
final case class LoadConfig(
    s3Prefix: String,
    dataFormat: DataFormat = DataFormat.Csv,
    csvDelimiter: String = ",",
    ignoreCsvHeader: Boolean = false,
    /** JSON-paths style projection list for JSON/AVRO, None = 'auto'
      * (`index.js:1178-1185`). Each entry a column path like `$.a.b`. */
    jsonPaths: Option[Seq[String]] = None,
    batchSize: Int = 1000,
    batchSizeBytes: Option[Long] = None,
    batchTimeoutSecs: Option[Int] = None,
    /** Reader option passthrough — Spark analogue of free-form
      * `copyOptions` (`index.js:1201-1204`). */
    readerOptions: Map[String, String] = Map.empty,
    /** EMPTYASNULL / BLANKSASNULL style post-read shims (`loader.Shims`). */
    emptyAsNull: Boolean = false,
    blanksAsNull: Boolean = false,
    compression: Option[String] = None,
    filenameFilterRegex: Option[String] = None,
    targets: Seq[LoadTarget] = Seq.empty,
    manifestDir: Option[String] = None,
    failedManifestDir: Option[String] = None,
    successTopic: Option[String] = None,
    failureTopic: Option[String] = None,
    currentBatch: String = "",
    version: String = graft.BuildInfo.version)

/** A file-arrival event — the engine's unit of input. Mirrors the
  * projected `s3Info` record (`/root/reference/index.js:1576-1604`).
  */
final case class FileEvent(
    bucket: String,
    key: String,
    size: Long,
    /** epoch millis the event was observed */
    eventTime: Long,
    eventName: String = "ObjectCreated:Put",
    /** control event: clear this file's dedup entry from the admission
      * state instead of admitting it (processedFiles --reprocess
      * re-injection) */
    unlink: Boolean = false) {
  def loadFile: String = s"$bucket/$key"
  def inputFilename: String = key.substring(key.lastIndexOf('/') + 1)
}

/** One entry of a batch / manifest (`index.js:344-373`, `index.js:824-872`). */
final case class BatchEntry(file: String, size: Long, writeDate: Long)

/** Ledger row for a batch (`common.js:165-210`). `entries` is the ≥2.7.9
  * `entryMap` representation; the legacy `entries:SS` dual shape
  * (`index.js:651-660`) is deliberately NOT reproduced — our ledger schema
  * is versioned from day one (SURVEY §7.5.4).
  */
final case class BatchRecord(
    s3Prefix: String,
    batchId: String,
    status: String,
    entries: Seq[BatchEntry],
    sizeBytes: Long,
    lastUpdate: Long,
    manifestFile: Option[String] = None,
    /** per-target load result keyed by jdbc url (`index.js:920-925`) */
    targetStatus: Map[String, String] = Map.empty,
    errorMessage: Option[String] = None,
    updateReason: Option[String] = None)

/** Processed-file ledger row — the dedup record
  * (`common.js:132-147`, `index.js:247-306`).
  */
final case class ProcessedFile(
    loadFile: String,
    receiveDateTime: Long,
    timesReceived: Int,
    batchId: Option[String],
    previousBatches: Seq[String] = Seq.empty)

/** Why a batch was flushed (`index.js:663-691`). */
sealed abstract class FlushReason(val name: String)
object FlushReason {
  case object Count  extends FlushReason("count")
  case object Bytes  extends FlushReason("bytes")
  case object Age    extends FlushReason("age")
  case object Manual extends FlushReason("manual")
}

/** Emitted by the batcher when a batch rotates (SURVEY §7.5.2): the load
  * happens in the pipeline's lanes, never inside admission, so
  * accumulation continues during the load — matching the reference's
  * rotate-then-load behaviour (`index.js:694-806`).
  */
final case class FlushCommand(
    s3Prefix: String,
    batchId: String,
    entries: Seq[BatchEntry],
    sizeBytes: Long,
    reason: String,
    flushTime: Long)

/** Manifest document (`index.js:824-872`) — persisted as an audit
  * artifact; the functional manifest is the `paths` arg to `spark.read`.
  */
final case class ManifestEntry(url: String, mandatory: Boolean, contentLength: Long)
final case class Manifest(entries: Seq[ManifestEntry])
