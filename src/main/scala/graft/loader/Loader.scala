package graft.loader

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import graft.core._
import graft.loader.JdbcWriter.LoadResult

/** Batch load orchestration — the `foreachBatch` body: one FlushCommand
  * in, format-aware read, parallel multi-target transactional writes,
  * all-OK conjunction out (SURVEY §2.7 T9/T10, §2.4 A4;
  * `/root/reference/index.js:878-970`).
  */
object Loader {

  final case class BatchLoadOutcome(
      batchId: String,
      s3Prefix: String,
      status: String, // complete | error
      results: Seq[LoadResult],
      manifest: Manifest)

  /** Decrypt target passwords via the keystore seam; identity for
    * plaintext (tests) — see [[graft.crypto.Keystore]].
    */
  type PasswordResolver = String => String

  /** Load one flushed batch into every configured target in parallel.
    * The reference fans out with `async.map` and folds "all OK"
    * (`index.js:909-925`); we use Futures and the same conjunction.
    *
    * `skipTarget` is the per-(file,target) dedup gate (SURVEY §7.5-7's
    * opt-in fix): a target it selects is reported ok+skipped without
    * touching its database — a retry of a partially-failed batch then
    * loads ONLY the targets that never committed. The default (never
    * skip) keeps the reference's faithful wart: reprocessing re-loads
    * already-committed clusters.
    */
  def loadBatch(
      spark: SparkSession,
      cfg: LoadConfig,
      cmd: FlushCommand,
      fileRoot: String,
      schema: Option[StructType] = None,
      resolvePassword: PasswordResolver = identity,
      timeoutSecs: Int = 600,
      skipTarget: LoadTarget => Boolean = _ => false): BatchLoadOutcome = {

    val paths = cmd.entries.map(e => s"$fileRoot/${e.file}")
    val manifest = Manifest(cmd.entries.map(e =>
      ManifestEntry(s"$fileRoot/${e.file}", mandatory = true, e.size)))

    // Any failure before/at the fan-out (e.g. a manifest file missing —
    // every entry is mandatory, as in the reference's manifests) must
    // yield an error outcome for the failBatch path, not an exception.
    // An interrupt is not a failure of the batch: it propagates, so a
    // stopped query replays the batch on restart.
    try {
      val df = Formats.read(spark, cfg, paths, schema)

      implicit val ec: ExecutionContext = ExecutionContext.global
      val futures = cfg.targets.map { t =>
        Future {
          if (skipTarget(t))
            LoadResult(t.jdbcUrl, ok = true, 0L, skipped = true, None)
          else {
            val renamed = Formats.applyColumnList(df, t.columnList)
            // statement-level timeout = the load budget: a slow target's
            // transaction is CANCELLED db-side (rolls back → ok=false →
            // the retry loads it) rather than abandoned mid-flight by
            // the Await below, which would leave its commit outcome
            // unknown — exactly what the per-target dedup facts must
            // never be wrong about. The Await stays as the backstop for
            // drivers that ignore setQueryTimeout.
            JdbcWriter.load(renamed, t.copy(columnList = None),
              resolvePassword(t.encryptedPassword), cmd.batchId,
              queryTimeoutSecs = timeoutSecs)
          }
        }
      }
      val results = Await.result(Future.sequence(futures), timeoutSecs.seconds)
      val allOk = results.forall(_.ok)
      BatchLoadOutcome(cmd.batchId, cmd.s3Prefix,
        if (allOk) "complete" else "error", results, manifest)
    } catch {
      case scala.util.control.NonFatal(e) =>
        BatchLoadOutcome(cmd.batchId, cmd.s3Prefix, "error",
          Seq(LoadResult("(read)", ok = false, 0L, skipped = false,
            Some(Option(e.getMessage).getOrElse(e.getClass.getName)))), manifest)
    }
  }

  /** Manifest JSON identical in shape to the reference's
    * (`index.js:824-872`) — audit artifact only; the functional manifest
    * is the `paths` arg to the reader.
    */
  def manifestJson(m: Manifest): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    m.entries.map { e =>
      s"""{"url": ${q(e.url)}, "mandatory": ${e.mandatory}, "meta": {"content_length": ${e.contentLength}}}"""
    }.mkString("{\"entries\": [", ", ", "]}")
  }
}
