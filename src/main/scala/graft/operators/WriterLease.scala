package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Primitive operations a [[WriterLease]] lock rides on — the
  * pluggable backend seam (r14). The default is Hadoop `FileSystem`
  * ([[WriterLease.HadoopLockStore]]): exclusive create is atomic on
  * HDFS and the local filesystem, which makes the LIVE-lock path exact
  * but leaves the expired-lock break compare-and-delete non-atomic
  * (narrowed, not airtight — see [[WriterLease.acquire]]). An
  * object-store deployment overrides the CONDITIONAL primitives
  * ([[deleteIf]]/[[replaceIf]]) with its compare-and-swap (S3
  * conditional puts with `If-Match`/`If-None-Match`, the reference's
  * DynamoDB CAS, `index.js:724–731`): the break path and the expiry
  * refresh route through them (r15), so with atomic conditionals the
  * break race closes exactly — a rival's fresh lock created between
  * the expiry read and the break can never be deleted, because its
  * content no longer matches the expired value the breaker read. The
  * lease SEMANTICS (re-entrancy, TTL expiry, heartbeat, depth
  * balancing) live above this interface and are spec-verified against
  * it, not against any one filesystem.
  */
trait LockStore {
  /** The lock's raw content, None if absent — including deleted
    * between any internal existence check and the read. */
  def read(lockPath: String): Option[String]
  /** Create-if-absent, ATOMIC: exactly one of N racing creators wins;
    * losers throw [[java.io.IOException]]. */
  def createExclusive(lockPath: String, content: String): Unit
  /** Replace an existing lock's content (expiry refresh). */
  def overwrite(lockPath: String, content: String): Unit
  /** Remove the lock; idempotent on an absent lock. */
  def delete(lockPath: String): Unit
  /** Delete the lock ONLY while its content still equals `expected`;
    * returns whether the delete happened. The default is
    * read-compare-delete — NOT atomic (the file-backend narrowing); a
    * CAS-capable store overrides with its conditional delete, which
    * makes [[WriterLease.acquire]]'s expired-lock break exact. */
  def deleteIf(lockPath: String, expected: String): Boolean =
    if (read(lockPath).contains(expected)) { delete(lockPath); true }
    else false
  /** Replace the lock's content with `next` ONLY while it still equals
    * `expected`; returns whether the replace happened. Default
    * read-compare-overwrite (non-atomic); CAS stores override. */
  def replaceIf(lockPath: String, expected: String, next: String): Boolean =
    if (read(lockPath).contains(expected)) { overwrite(lockPath, next); true }
    else false
}

/** Single-writer LEASE on a stored-state path — the loud enforcement of
  * the contract [[StoredMerge]] and [[graft.streaming.CurationIngest]]
  * previously only documented: two jobs pointed at the same offsets
  * path or dedup table would silently interleave commits (and one's
  * entry recovery could roll back the other's in-flight bucket swap).
  * This is the engine analogue of the reference's per-prefix
  * conditional-write flush lock (`index.js:724–731` — the CAS on
  * `currentBatch` that makes exactly one flusher win); lock files (or
  * a conditional-put [[LockStore]]) stand in for DynamoDB.
  *
  * Mechanics: a `<path>.writer_lock` marker holding `owner\nexpiry`.
  * Acquisition creates it EXCLUSIVELY ([[LockStore.createExclusive]]);
  * a live lock held by another owner fails LOUDLY — the second writer
  * must not touch the state. Expiry is the crash escape: a holder that
  * died without releasing blocks writers only until `ttlMs` passes,
  * then the next acquire breaks the stale lock and proceeds (the
  * stored-state crash disciplines make that safe: every commit path is
  * replay-convergent). Re-acquisition by the SAME owner refreshes the
  * expiry and is re-entrant — a job's nested commits (e.g.
  * [[graft.streaming.CurationIngest.commitBatch]] wrapping
  * [[StoredMerge.upsertBuckets]]) share one lease.
  *
  * Owner identity: default is one id per JVM ([[jvmOwner]]) — distinct
  * JOBS (separate JVMs) conflict, a job's own nested writes don't.
  * Jobs sharing a JVM that must conflict (two streaming queries on one
  * SparkSession) pass distinct owners explicitly
  * ([[graft.streaming.CurationIngest.Config.writerId]] mints one per
  * config).
  */
object WriterLease {

  /** One writer identity per JVM — nested writes by the same process
    * re-enter their own lease instead of deadlocking. */
  val jvmOwner: String = java.util.UUID.randomUUID().toString

  /** Default lease lifetime. Generous on purpose: a healthy commit
    * re-acquires (refreshing expiry) every batch — and [[withLease]]
    * heartbeats DURING long bodies — so the TTL only bounds how long a
    * CRASHED writer's lock blocks a successor; breaking a lock whose
    * holder still lives would let two writers interleave, the exact
    * corruption the lease exists to prevent. */
  val DefaultTtlMs: Long = 30L * 60L * 1000L

  final case class Holder(owner: String, expiresAtMs: Long)

  /** The default backend: Hadoop FileSystem lock files. Exclusive
    * create (`create(overwrite = false)`) is atomic on HDFS and local. */
  final class HadoopLockStore(spark: SparkSession) extends LockStore {
    private def fs(p: Path) =
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    override def read(lockPath: String): Option[String] = {
      val lp = new Path(lockPath)
      val f = fs(lp)
      if (!f.exists(lp)) None
      else
        // exists-then-open is not atomic: a concurrent release()
        // deleting the file between the calls must read as "unheld"
        // (the lock just became free), not as a hard failure
        try {
          val in = f.open(lp)
          try Some(new String(
            org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
          finally in.close()
        } catch { case _: java.io.FileNotFoundException => None }
    }
    private def write(lockPath: String, content: String, overwrite: Boolean): Unit = {
      val lp = new Path(lockPath)
      val out = fs(lp).create(lp, overwrite)
      try out.write(content.getBytes("UTF-8"))
      finally out.close()
    }
    override def createExclusive(lockPath: String, content: String): Unit =
      write(lockPath, content, overwrite = false)
    override def overwrite(lockPath: String, content: String): Unit =
      write(lockPath, content, overwrite = true)
    override def delete(lockPath: String): Unit = {
      val lp = new Path(lockPath)
      fs(lp).delete(lp, false)
    }
  }

  private def lockPathOf(path: String): String =
    new Path(path.stripSuffix("/") + ".writer_lock").toString

  private def storeOf(spark: SparkSession, store: LockStore): LockStore =
    if (store != null) store else new HadoopLockStore(spark)

  /** The current lock's (owner, expiry), if any — the status readout. */
  def holder(spark: SparkSession, path: String,
             store: LockStore = null): Option[Holder] =
    readRaw(storeOf(spark, store), lockPathOf(path))._2

  /** The lock's RAW content alongside its parse — the raw value is
    * what the conditional primitives ([[LockStore.deleteIf]]/
    * [[LockStore.replaceIf]]) compare against, so the break and
    * refresh paths must act on exactly the bytes they classified.
    *
    * An unparseable read is re-attempted before it is believed: a
    * LIVE holder's refresh/heartbeat rewrites the lock in place
    * (create-truncate → write → close on the file backend), so a read
    * landing inside that window sees empty/partial content — reporting
    * it as corrupt (≡ expired) would let a contender break a healthy
    * lease. The torn window is microseconds; a genuinely garbled lock
    * (crash mid-create) is STABLE across re-reads and still
    * classifies corrupt, which the next acquire breaks.
    */
  private def readRaw(s: LockStore, lp: String): (Option[String], Option[Holder]) = {
    var attempt = 0
    while (true) {
      s.read(lp) match {
        case None => return (None, None)
        case raw @ Some(content) =>
          content.split("\n", 2) match {
            case Array(o, e) if e.trim.nonEmpty && e.trim.forall(_.isDigit) =>
              return (raw, Some(Holder(o, e.trim.toLong)))
            case _ if attempt >= 2 => return (raw, Some(Holder("<corrupt>", 0L)))
            case _ => attempt += 1; Thread.sleep(20L)
          }
      }
    }
    (None, None) // unreachable
  }

  /** Same-JVM hold depth per (lock, owner): n acquires need n releases
    * before the lock file is deleted, so a job-lifetime hold (the
    * streaming query) and its nested per-commit re-entries — or a
    * restarting query overlapping its predecessor's async release —
    * can never drop each other's lease. Cross-JVM there is no depth:
    * a dead JVM's hold is exactly what the TTL expiry breaks.
    */
  private val holdDepth =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]()

  private def content(owner: String, expiresAtMs: Long): String =
    s"$owner\n$expiresAtMs"

  /** One JVM-local mutex per lock path, held across the read, write and
    * depth update of [[acquire]], [[refresh]] and [[release]]: a
    * predecessor's async release can then never delete the lock while a
    * same-owner successor's re-entry is rewriting it. */
  private val pathMutexes = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def exclusively[T](lp: String)(body: => T): T =
    pathMutexes.computeIfAbsent(lp, _ => new Object).synchronized(body)

  /** Acquire (or re-enter) the lease. Returns true if FRESHLY acquired
    * (hold depth 0 → 1); false if re-entered by the same owner (depth
    * incremented, expiry refreshed). Every acquire must be balanced by
    * one [[release]]. Throws
    * [[java.util.ConcurrentModificationException]] if another owner
    * holds a live lease.
    */
  def acquire(spark: SparkSession, path: String,
              owner: String = jvmOwner,
              ttlMs: Long = DefaultTtlMs,
              store: LockStore = null): Boolean = {
    val s = storeOf(spark, store)
    val lp = lockPathOf(path)
    exclusively(lp)(acquireExclusively(spark, path, owner, ttlMs, s, lp))
  }

  private def acquireExclusively(spark: SparkSession, path: String, owner: String,
                                 ttlMs: Long, s: LockStore, lp: String): Boolean = {
    val now = System.currentTimeMillis()
    val (raw, parsed) = readRaw(s, lp)
    parsed match {
      case Some(h) if h.owner == owner =>
        // re-entry refresh — and a LOUD stop if the refresh discovers
        // the lease is not ours anymore (r15 ADVICE): a successor can
        // break an expired lock between the read above and the CAS
        // inside refreshRaw; silently recording a hold there would let
        // the stale holder commit unprotected alongside the successor.
        refreshRaw(s, lp, owner, ttlMs, raw) match {
          case RefreshOutcome.Refreshed =>
            holdDepth.merge((lp, owner), 1, _ + _)
            false
          case RefreshOutcome.OwnerChanged =>
            holdDepth.remove((lp, owner))
            throw new java.util.ConcurrentModificationException(
              s"stored state at $path was lease-acquired by a concurrent " +
                "writer between this owner's read and its re-entry " +
                "refresh — the prior hold expired and moved on; exactly " +
                "one writer may hold it")
          case RefreshOutcome.LockGone =>
            // our lock vanished mid-refresh, deleted outside this JVM's
            // lease calls (the path mutex orders a same-JVM release).
            // Retake it FRESH: exclusive create settles any rival loudly.
            try s.createExclusive(lp, content(owner, now + ttlMs))
            catch {
              case _: java.io.IOException =>
                holdDepth.remove((lp, owner))
                throw new java.util.ConcurrentModificationException(
                  s"stored state at $path was lease-acquired by a " +
                    "concurrent writer during acquisition — exactly one " +
                    "writer may hold it")
            }
            holdDepth.merge((lp, owner), 1, _ + _) == 1
        }
      case Some(h) if now < h.expiresAtMs =>
        throw new java.util.ConcurrentModificationException(
          s"stored state at $path is lease-held by writer ${h.owner} " +
            s"until ${h.expiresAtMs} (now $now): a second concurrent " +
            "writer would silently interleave commits — stop the other " +
            "job, or wait for its lease to expire if it crashed")
      case held => // absent, expired, or corrupt: break and take it.
        // CONDITIONAL BREAK (r15): delete ONLY while the lock still
        // holds the exact expired/corrupt bytes read above
        // ([[LockStore.deleteIf]]) — a rival's fresh lock created in
        // the window fails the compare and is left intact, so on a
        // CAS-capable store the break race closes exactly: the rival's
        // content differs, our deleteIf no-ops, our createExclusive
        // fails on its live lock, and we refuse loudly below. The
        // DEFAULT file backend's deleteIf is read-compare-delete (not
        // atomic), so there the break stays narrowed, not airtight:
        // (a) deleteIf's own compare immediately before deleting,
        // (b) exclusive create (the loser of a create race fails
        // loudly), (c) verify ownership after create, then (d) verify
        // AGAIN after a short randomized back-off — a rival whose
        // stale delete-then-create landed between our create and the
        // first verify is caught by the second unless its whole break
        // straddles the back-off too. The LIVE-lock path (the normal
        // case) is exact either way; expiry-breaking only races
        // writers contending for an already-crashed holder's lock in
        // the same instant.
        raw.foreach(r => s.deleteIf(lp, r))
        held.foreach(h => holdDepth.remove((lp, h.owner)))
        try s.createExclusive(lp, content(owner, now + ttlMs))
        catch {
          // lost the break-and-take race to another writer: held
          case _: java.io.IOException =>
            throw new java.util.ConcurrentModificationException(
              s"stored state at $path was lease-acquired by a concurrent " +
                "writer during acquisition — exactly one writer may hold it")
        }
        def verifyOwn(): Unit =
          if (!holder(spark, path, s).exists(_.owner == owner))
            throw new java.util.ConcurrentModificationException(
              s"stored state at $path was lease-acquired by a concurrent " +
                "writer during acquisition — exactly one writer may hold it")
        verifyOwn()
        // the back-off re-verify only matters when an EXPIRED/corrupt
        // lock was actually broken (the delete-then-create race); a
        // fresh acquire on an ABSENT lock is settled exactly by the
        // exclusive create and must not pay 25-75 ms on every commit
        if (held.isDefined) {
          Thread.sleep(25L +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(50L))
          verifyOwn()
        }
        holdDepth.put((lp, owner), 1)
        true
    }
  }

  /** Refresh an owned lease's expiry WITHOUT taking a hold — the
    * heartbeat for long-lived holders whose work is event-driven (an
    * idle stream gets no commits, so nothing else would re-extend the
    * lease and a healthy job's lock would expire out from under it).
    * No-op if the lease is not currently this owner's (expired and
    * broken, or never held) — the holder finds out at its next real
    * acquire, loudly.
    */
  def refresh(spark: SparkSession, path: String,
              owner: String = jvmOwner,
              ttlMs: Long = DefaultTtlMs,
              store: LockStore = null): Unit = {
    val s = storeOf(spark, store)
    val lp = lockPathOf(path)
    // under the path's mutex a same-JVM release either ran before the
    // read (the lock is gone: no-op) or runs after the rewrite, so a
    // heartbeat can never resurrect a lock its holder just released
    exclusively(lp) {
      val (raw, parsed) = readRaw(s, lp)
      if (parsed.exists(_.owner == owner)) refreshRaw(s, lp, owner, ttlMs, raw)
    }
  }

  /** What a compare-and-refresh attempt discovered about the lease —
    * [[acquire]]'s re-entry branch acts on it (r15 ADVICE: a silent
    * "not ours anymore" must not record a hold). */
  private object RefreshOutcome extends Enumeration {
    val Refreshed, OwnerChanged, LockGone = Value
  }

  /** Compare-and-refresh an owned lease's expiry ([[LockStore
    * .replaceIf]] against the raw content just read): on a CAS store a
    * refresh can never clobber a successor's lock taken after our
    * expiry — the successor's content fails the compare. A failed
    * compare whose lock is STILL ours (our own concurrent heartbeat
    * rewrote it between the read and the swap — both writers stamp a
    * fresh future expiry, so losing is harmless) retries a bounded few
    * times, then reports Refreshed (the lease IS ours; only the stamp
    * race was lost). Any other content reports OwnerChanged; a vanished
    * lock reports LockGone. The heartbeat caller ([[refresh]]) ignores
    * the outcome — a holder finds out at its next real acquire, loudly;
    * the RE-ENTRY caller must not ignore it.
    */
  private def refreshRaw(s: LockStore, lp: String, owner: String,
                         ttlMs: Long, firstRaw: Option[String]): RefreshOutcome.Value = {
    var raw = firstRaw
    var attempts = 0
    while (attempts < 4) {
      attempts += 1
      raw match {
        case Some(r) =>
          if (s.replaceIf(lp, r, content(owner, System.currentTimeMillis() + ttlMs)))
            return RefreshOutcome.Refreshed
          val (nextRaw, parsed) = readRaw(s, lp)
          if (parsed.isEmpty) return RefreshOutcome.LockGone
          if (!parsed.exists(_.owner == owner)) return RefreshOutcome.OwnerChanged
          raw = nextRaw
        case None => return RefreshOutcome.LockGone
      }
    }
    RefreshOutcome.Refreshed
  }

  /** The canonical lock location for a MANAGED table's stored state —
    * its warehouse path. Every library mutator (corpus appends, LM
    * accretion, managed-table merges) and every CLI repair must derive
    * the lock from THIS helper: the lease contract is only as strong
    * as all writers agreeing on the lock location.
    */
  def tableStatePath(spark: SparkSession, table: String): String =
    new Path(spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(table))).toString

  /** Release one hold of an owned lease; the lock file is deleted only
    * when the LAST same-JVM hold releases (depth-balanced with
    * [[acquire]]). Idempotent on an absent lock. Releasing ANOTHER
    * owner's lease throws — that is always a caller bug. */
  def release(spark: SparkSession, path: String,
              owner: String = jvmOwner,
              store: LockStore = null): Unit = {
    val s = storeOf(spark, store)
    val lp = lockPathOf(path)
    exclusively(lp) {
      readRaw(s, lp)._2 match {
        case Some(h) if h.owner == owner =>
          val depth = holdDepth.merge((lp, owner), -1, _ + _)
          if (depth == null || depth <= 0) {
            holdDepth.remove((lp, owner))
            s.delete(lp)
          }
        case Some(h) =>
          throw new IllegalStateException(
            s"refusing to release $path's lease: held by ${h.owner}, not $owner")
        case None => holdDepth.remove((lp, owner)); ()
      }
    }
  }

  /** One shared daemon scheduler for every in-flight lease heartbeat:
    * heartbeats are tiny lock-file rewrites on a ttl/3 cadence, so one
    * thread serves every concurrent [[withLease]] body in the JVM. */
  private lazy val heartbeater: java.util.concurrent.ScheduledExecutorService =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-writer-lease-heartbeat")
      t.setDaemon(true)
      t
    })

  /** Run `body` under the lease: acquire (loud failure if another
    * writer holds it), execute, release the hold — a nested same-owner
    * body decrements only its own depth, so an outer job-lifetime hold
    * keeps the lock. The release runs on exceptions too (a FAILED
    * commit frees the path for an immediate retry — replay convergence
    * makes the retry correct); a hard JVM death skips it, which is
    * what the TTL expiry is for. A release finding the lease taken
    * over (our hold expired mid-body and a successor broke it) is
    * swallowed here — the body's own result must win; direct
    * [[release]] callers still get the loud error.
    *
    * HEARTBEAT DURING THE BODY (r14, the r13 verdict's long-commit
    * window): `acquire` stamps the expiry once, at entry — a body that
    * OUTLIVES the TTL (a one-shot 100× drain's corpus append + offsets
    * merge in one micro-batch) would expire mid-write and a waiting
    * second writer could legally break the lock while the first is
    * still committing. A driver-side [[refresh]] every ttl/3 (shared
    * daemon scheduler, depth-neutral) keeps a LIVE body's lease live
    * for exactly as long as it runs, with no TTL-sizing guesswork; the
    * task is cancelled before the release, so a heartbeat can never
    * resurrect a lock its own body just freed. A crashed JVM's
    * heartbeat dies with it — the TTL expiry contract is unchanged.
    */
  def withLease[T](spark: SparkSession, path: String,
                   owner: String = jvmOwner,
                   ttlMs: Long = DefaultTtlMs,
                   store: LockStore = null)(body: => T): T = {
    val s = storeOf(spark, store)
    acquire(spark, path, owner, ttlMs, s)
    // the gate makes stop-then-release atomic against an IN-FLIGHT
    // beat: cancel() alone would let a beat that already read "owner =
    // us" rewrite the lock file right after the release deleted it,
    // resurrecting an orphan lock for a full TTL
    val gate = new Object
    var stopped = false
    val period = ttlMs / 3
    val beat =
      if (period >= 1L)
        Some(heartbeater.scheduleAtFixedRate(
          () => gate.synchronized {
            if (!stopped)
              try refresh(spark, path, owner, ttlMs, s)
              catch { case scala.util.control.NonFatal(_) => () }
          },
          period, period, java.util.concurrent.TimeUnit.MILLISECONDS))
      else None
    try body
    finally {
      gate.synchronized { stopped = true; beat.foreach(_.cancel(false)) }
      try release(spark, path, owner, s)
      catch { case _: IllegalStateException => () }
    }
  }
}
