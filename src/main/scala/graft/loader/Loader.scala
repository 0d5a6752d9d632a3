package graft.loader

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import graft.Fanout
import graft.core._
import graft.loader.JdbcWriter.LoadResult
import scala.util.{Failure, Success}
import scala.util.control.NonFatal

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
    * (`index.js:909-925`); the targets run through [[Fanout.settle]],
    * and a target whose task throws gets its own error result. A
    * load is never abandoned: an interrupt of the caller reaches every
    * target load and waits for it. The budget is per statement
    * ([[JdbcWriter.StatementTimeoutSecs]]), so a slow target rolls back
    * database-side (ok=false, the retry loads it) instead of leaving its
    * commit outcome unknown to the per-target dedup facts.
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
      skipTarget: LoadTarget => Boolean = _ => false): BatchLoadOutcome = {

    val paths = cmd.entries.map(e => s"$fileRoot/${e.file}")
    val manifest = Manifest(cmd.entries.map(e =>
      ManifestEntry(s"$fileRoot/${e.file}", mandatory = true, e.size)))

    // A failure before the fan-out (e.g. a manifest file missing — every
    // entry is mandatory, as in the reference's manifests) must yield an
    // error outcome for the failBatch path, not an exception. An
    // interrupt is not a failure of the batch: it propagates, so a
    // stopped query replays the batch on restart.
    val read =
      try Right(Formats.read(spark, cfg, paths, schema))
      catch { case NonFatal(e) => Left(LoadResult("(read)", ok = false, 0L, skipped = false,
        Some(message(e)))) }
    read match {
      case Left(failed) => BatchLoadOutcome(cmd.batchId, cmd.s3Prefix, "error", Seq(failed), manifest)
      case Right(df) =>
        // one result per target, in target order: a target whose task
        // throws (its password resolver, its column list) fails alone
        // the targets load at once and share the task slots
        // (JdbcWriter.stagingWriters)
        val settled = JdbcWriter.loading(cfg.targets.size) {
          Fanout.settle("graft-target-", cfg.targets.map { t => () =>
            if (skipTarget(t))
              LoadResult(t.jdbcUrl, ok = true, 0L, skipped = true, None)
            else
              JdbcWriter.load(Formats.applyColumnList(df, t.columnList),
                t.copy(columnList = None), resolvePassword(t.encryptedPassword), cmd.batchId)
          })
        }
        settled.collectFirst { case Failure(e) if !NonFatal(e) => throw e }
        val results = cfg.targets.zip(settled).map {
          case (_, Success(r)) => r
          case (t, Failure(e)) => LoadResult(t.jdbcUrl, ok = false, 0L, skipped = false, Some(message(e)))
        }
        BatchLoadOutcome(cmd.batchId, cmd.s3Prefix,
          if (results.forall(_.ok)) "complete" else "error", results, manifest)
    }
  }

  private def message(e: Throwable): String = Option(e.getMessage).getOrElse(e.getClass.getName)

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
