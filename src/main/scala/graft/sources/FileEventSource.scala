package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{FileEvent, LocalFiles}

/** File-arrival event stream — the Spark replacement for the reference's
  * S3 `ObjectCreated` → Lambda wiring (`/root/reference/index.js:1548-1604`).
  *
  * Structured Streaming's file source does new-file discovery natively
  * (checkpointed listing), which replaces the reference's event admission
  * checks (S1) wholesale: every discovered path IS a created object. We
  * read with the `binaryFile` format but project ONLY metadata columns
  * (path/length/modificationTime) — the format supports column pruning, so
  * file contents are never read here; the Loader reads content later,
  * format-aware, from the manifest paths.
  *
  * Scale note: for millions of files per hour the listing source should be
  * swapped for a notification-backed source; the seam is this one function
  * returning Dataset[FileEvent].
  */
object FileEventSource {

  /** Control namespace: marker files under `<watchRoot>/graft-control/`
    * are consumed as control events, never as data. `unlink/<enc>` clears
    * one file's entry from the running pipeline's driver-side dedup set
    * (the Spark analogue of the reference deleting the processed-files
    * item so a re-injected file is admitted — `common.js:842-916`); the
    * pipeline whose prefix holds the file deletes it after reading it.
    * `tick/<owner>/<deadline>-<uuid>` is an age-check tick ([[TickSource]]).
    *
    * The namespace must NOT be hidden: Spark's file listing
    * (InMemoryFileIndex, shared by the binaryFile batch and streaming
    * sources) silently drops any path whose name starts with `.` or `_`,
    * so a dot-dir marker would never be discovered. Marker filenames are
    * prefixed `t-` for the same reason — URLEncoder leaves `.` and `_`
    * unescaped, so an encoded target could otherwise start with one.
    *
    * RESERVED NAME: because the namespace is visible, the first path
    * segment `graft-control` under a watch root cannot be used as a data
    * bucket — any `graft-control/unlink/...` or `graft-control/tick/...`
    * object is consumed as a control marker, never loaded.
    */
  val ControlDir = "graft-control"

  /** Key prefix, under [[ControlDir]], of unlink markers. */
  val UnlinkKey = "unlink/"

  /** Key prefix, under [[ControlDir]], of tick markers. */
  val TickKey = "tick/"

  /** `eventName` of a tick marker: never a file event's. */
  val TickEvent = "graft:tick"

  def encodeControlTarget(loadFile: String): String =
    "t-" + java.net.URLEncoder.encode(loadFile, "UTF-8")

  /** Drop the control marker `<watchRoot>/graft-control/<key>` through
    * the raw form of `watchRoot`'s file system ([[markerFs]]). The marker
    * is written under a hidden name and renamed in: a listing that met it
    * half-written would record it empty, and an empty file yields no row.
    * It holds one byte for the same reason — Spark's scan planning drops
    * empty file splits.
    */
  def writeControlMarker(conf: Configuration, watchRoot: String, key: String): Unit =
    writeControlMarker(markerFs(conf, watchRoot), watchRoot, key)

  /** The file system control markers under `watchRoot` are written
    * through: the raw form of [[LocalFiles.checksummed]]. */
  def markerFs(conf: Configuration, watchRoot: String): FileSystem =
    LocalFiles.checksummed(new Path(watchRoot), conf) match {
      // a one-byte marker needs no checksum file beside it
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  /** [[writeControlMarker]] through a file system the caller holds. */
  def writeControlMarker(fs: FileSystem, watchRoot: String, key: String): Unit = {
    val marker = new Path(watchRoot, s"$ControlDir/$key")
    val hidden = new Path(marker.getParent, s".${marker.getName}")
    val out = fs.create(hidden, true)
    try out.write('x') finally out.close()
    if (!fs.rename(hidden, marker))
      throw new java.io.IOException(s"control marker not written: rename $hidden -> $marker failed")
  }

  private def unlinkKey(loadFile: String): String = UnlinkKey + encodeControlTarget(loadFile)

  /** Drop the unlink marker of `loadFile` (see [[ControlDir]]). */
  def writeUnlinkMarker(conf: Configuration, watchRoot: String, loadFile: String): Unit =
    writeControlMarker(conf, watchRoot, unlinkKey(loadFile))

  /** [[writeUnlinkMarker]] through a file system the caller holds. */
  def writeUnlinkMarker(fs: FileSystem, watchRoot: String, loadFile: String): Unit =
    writeControlMarker(fs, watchRoot, unlinkKey(loadFile))

  /** Delete the unlink marker of `loadFile` once a pipeline has consumed
    * it: a fresh checkpoint lists the whole watch root again, and a marker
    * left there would release the file a second time after it loaded. */
  def deleteUnlinkMarker(conf: Configuration, watchRoot: String, loadFile: String): Unit = {
    val marker = new Path(watchRoot, s"$ControlDir/${unlinkKey(loadFile)}")
    marker.getFileSystem(conf).delete(marker, false)
  }

  /** Parse `<root>/<key>` into (bucket, key) like the reference's s3Info
    * projection (`index.js:1576-1604`): bucket = first path segment after
    * the watch root, key = remainder.
    *
    * `decodeS3Keys` (C8, `index.js:1586`): S3 delivers event keys
    * URL-encoded, so sources fed from S3 events must percent-decode.
    * Spark's file listing delivers RAW filesystem paths (verified: a
    * literal `%20` or space arrives as-is), so decoding is OFF by
    * default — unconditional decoding would corrupt names containing
    * literal %xx sequences.
    */
  def toEvent(watchRoot: String, decodeS3Keys: Boolean = false)(
      path: String, size: Long, modMs: Long): FileEvent = {
    val normRoot = if (watchRoot.endsWith("/")) watchRoot else watchRoot + "/"
    val stripped0 = path.replaceFirst("^file:", "")
    val stripped = if (stripped0.startsWith(normRoot)) stripped0.substring(normRoot.length) else stripped0
    val decoded =
      if (decodeS3Keys) java.net.URLDecoder.decode(stripped.replace("+", "%2B"), "UTF-8")
      else stripped
    decoded.split("/", 2) match {
      case Array(ControlDir, rest) if rest.startsWith(UnlinkKey) =>
        val target = java.net.URLDecoder.decode(
          rest.stripPrefix(UnlinkKey).stripPrefix("t-"), "UTF-8")
        target.split("/", 2) match {
          case Array(b, k) => FileEvent(b, k, size, modMs, unlink = true)
          case Array(b)    => FileEvent(b, "", size, modMs, unlink = true)
        }
      case Array(ControlDir, rest) if rest.startsWith(TickKey) =>
        FileEvent(ControlDir, rest, size, modMs, eventName = TickEvent)
      case Array(b, k) => FileEvent(b, k, size, modMs)
      case Array(b)    => FileEvent(b, "", size, modMs)
    }
  }

  import org.apache.spark.sql.types._

  /** binaryFile's fixed schema — streaming sources must declare it. */
  val BinaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Streaming dataset of file events under `watchRoot/<bucket>/<key...>`. */
  def stream(spark: SparkSession, watchRoot: String): Dataset[FileEvent] =
    toEvents(spark.readStream.format("binaryFile").schema(BinaryFileSchema)
      .options(Listing).load(watchRoot), watchRoot)

  /** Batch listing of the same shape — used by reprocessing ops (S4) and
    * tests. */
  def list(spark: SparkSession, watchRoot: String): Dataset[FileEvent] =
    toEvents(spark.read.format("binaryFile").options(Listing).load(watchRoot), watchRoot)

  /** The listing options both readers share. */
  private val Listing = Map("recursiveFileLookup" -> "true")

  /** The projection both readers share: binaryFile rows → events,
    * metadata only (content is never read). */
  private def toEvents(files: DataFrame, watchRoot: String): Dataset[FileEvent] = {
    import files.sparkSession.implicits._
    files.select(col("path"), col("length"), col("modificationTime").cast("long") * 1000)
      .as[(String, Long, Long)]
      .map { case (p, len, ts) => toEvent(watchRoot)(p, len, ts) }
  }
}
