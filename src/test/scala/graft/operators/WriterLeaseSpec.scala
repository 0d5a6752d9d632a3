package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** The single-writer lease on stored-state paths: loud second-writer
  * refusal, same-owner re-entrancy, crashed-holder expiry, and the
  * [[StoredMerge.upsertBuckets]] enforcement (state untouched when the
  * lease is held elsewhere).
  */
class WriterLeaseSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"lease_$tag").toString + "/t"

  test("acquire/release semantics: fresh, re-entrant refresh, foreign conflict, expiry break, corrupt lock") {
    val path = tmpDir("sem")
    // fresh acquire owns the release
    assert(WriterLease.acquire(spark, path, owner = "a"))
    val h1 = WriterLease.holder(spark, path).get
    assert(h1.owner == "a")
    // re-entrant: same owner, expiry refreshed (longer ttl), NOT fresh
    assert(!WriterLease.acquire(spark, path, owner = "a",
      ttlMs = WriterLease.DefaultTtlMs * 2))
    assert(WriterLease.holder(spark, path).get.expiresAtMs > h1.expiresAtMs)
    // a second live writer fails loudly
    intercept[java.util.ConcurrentModificationException] {
      WriterLease.acquire(spark, path, owner = "b")
    }
    // releasing someone else's lease is a caller bug
    intercept[IllegalStateException] { WriterLease.release(spark, path, "b") }
    // DEPTH-BALANCED: two acquires need two releases — the first drops
    // one hold (lock stays, an overlapping same-owner restart is never
    // stranded), the second frees the lock
    WriterLease.release(spark, path, "a")
    assert(WriterLease.holder(spark, path).exists(_.owner == "a"),
      "one release of a doubly-held lease must keep the lock")
    WriterLease.release(spark, path, "a")
    assert(WriterLease.holder(spark, path).isEmpty)
    WriterLease.release(spark, path, "a") // idempotent on absent

    // a crashed holder (expired lock) no longer blocks
    assert(WriterLease.acquire(spark, path, owner = "dead", ttlMs = -1L))
    assert(WriterLease.acquire(spark, path, owner = "b"),
      "an expired lease must break, not wedge the table")
    assert(WriterLease.holder(spark, path).get.owner == "b")
    WriterLease.release(spark, path, "b")

    // a torn lock file (crash mid-create) reads as expired: next
    // writer breaks it instead of wedging
    val lp = new org.apache.hadoop.fs.Path(path + ".writer_lock")
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lp, true); out.write("garbage".getBytes); out.close()
    assert(WriterLease.acquire(spark, path, owner = "c"))
    WriterLease.release(spark, path, "c")
  }

  test("withLease: body runs under the lock, releases on success AND failure, nested same-owner holds keep the outer lease") {
    val path = tmpDir("wl")
    val got = WriterLease.withLease(spark, path, owner = "a") {
      assert(WriterLease.holder(spark, path).get.owner == "a")
      // nested same-owner hold re-enters; its exit must NOT drop the lease
      WriterLease.withLease(spark, path, owner = "a")(())
      assert(WriterLease.holder(spark, path).get.owner == "a",
        "a nested re-entrant hold must not release the outer lease")
      42
    }
    assert(got == 42 && WriterLease.holder(spark, path).isEmpty)
    // a FAILED body still releases (retry immediately; replay
    // convergence makes the retry correct)
    intercept[RuntimeException] {
      WriterLease.withLease(spark, path, owner = "a")(throw new RuntimeException("boom"))
    }
    assert(WriterLease.holder(spark, path).isEmpty)
  }

  test("withLease heartbeat: a body outliving the TTL keeps its lease, a contender stays refused throughout, and no beat survives the release") {
    val path = tmpDir("hb")
    // TTL sized for suite-load robustness (r15): at 500 ms a parallel-
    // suite GC pause or scheduler stall > ttl delays the ttl/3 beat
    // past the expiry and the rival's break below is then LEGAL (the
    // TTL escape working as designed for a stalled JVM) — the contract
    // under test is "a LIVE body keeps its lease", so the margin must
    // exceed plausible whole-JVM stalls. 2 s needs a > 1.3 s beat
    // stall to flake; the body still outlives 3 full TTLs.
    val ttl = 2000L
    val deadline = System.currentTimeMillis() + 3 * ttl
    WriterLease.withLease(spark, path, owner = "slow", ttlMs = ttl) {
      // a commit that sleeps past several TTLs: without the in-body
      // heartbeat the expiry (stamped once at acquire) passes after one
      // TTL and the rival's acquire below would BREAK the lock mid-body
      while (System.currentTimeMillis() < deadline) {
        Thread.sleep(ttl / 4)
        val h = WriterLease.holder(spark, path)
        assert(h.exists(_.owner == "slow"),
          s"the slow commit lost its lease mid-body: $h")
        intercept[java.util.ConcurrentModificationException] {
          WriterLease.acquire(spark, path, owner = "rival", ttlMs = ttl)
        }
      }
      "done"
    }
    // released at body end; a straggler beat must not resurrect the lock
    Thread.sleep(ttl)
    assert(WriterLease.holder(spark, path).isEmpty,
      "a heartbeat fired after the release resurrected an orphan lock")
    assert(WriterLease.acquire(spark, path, owner = "rival", ttlMs = ttl))
    WriterLease.release(spark, path, "rival")
  }

  test("the lease contract holds against the LockStore interface: an in-memory conditional-put backend passes the same semantics") {
    // the pluggable-backend seam: lease semantics (re-entrancy, loud
    // foreign refusal, TTL break, depth-balanced withLease) must be
    // backend-independent — this store is the conditional-put shape an
    // object-store deployment supplies (atomic create-if-absent)
    val mem = new LockStore {
      val m = new java.util.concurrent.ConcurrentHashMap[String, String]()
      def read(lp: String): Option[String] = Option(m.get(lp))
      def createExclusive(lp: String, c: String): Unit =
        if (m.putIfAbsent(lp, c) != null)
          throw new java.io.IOException(s"lock exists: $lp")
      def overwrite(lp: String, c: String): Unit = { m.put(lp, c); () }
      def delete(lp: String): Unit = { m.remove(lp); () }
    }
    val path = s"mem://state/t${System.nanoTime()}"
    // fresh acquire; re-entrant refresh; foreign refusal
    assert(WriterLease.acquire(spark, path, owner = "a", store = mem))
    val h1 = WriterLease.holder(spark, path, store = mem).get
    assert(h1.owner == "a")
    assert(!WriterLease.acquire(spark, path, owner = "a",
      ttlMs = WriterLease.DefaultTtlMs * 2, store = mem))
    assert(WriterLease.holder(spark, path, store = mem).get.expiresAtMs > h1.expiresAtMs)
    intercept[java.util.ConcurrentModificationException] {
      WriterLease.acquire(spark, path, owner = "b", store = mem)
    }
    // depth-balanced release frees on the LAST hold only
    WriterLease.release(spark, path, "a", store = mem)
    assert(WriterLease.holder(spark, path, store = mem).exists(_.owner == "a"))
    WriterLease.release(spark, path, "a", store = mem)
    assert(WriterLease.holder(spark, path, store = mem).isEmpty)
    // expired lock breaks; withLease runs under the lock and frees it
    assert(WriterLease.acquire(spark, path, owner = "dead", ttlMs = -1L, store = mem))
    val got = WriterLease.withLease(spark, path, owner = "b", store = mem) {
      assert(WriterLease.holder(spark, path, store = mem).get.owner == "b")
      7
    }
    assert(got == 7 && WriterLease.holder(spark, path, store = mem).isEmpty)
    // the whole exchange stayed in the in-memory store — no lock file
    // reached any filesystem (the seam is complete, not cosmetic)
    assert(mem.m.isEmpty)
  }

  test("conditional break on a CAS store: a rival's fresh lock created between the expiry read and the break survives, and the breaker is refused") {
    // the r14 ADVICE hole: the old break path was read → verify →
    // unconditional delete → createExclusive, so even on a CAS-capable
    // store a rival's fresh lock created between the verify-read and
    // the delete got deleted. r15 routes the break through
    // LockStore.deleteIf(expectedContent): the rival's content fails
    // the compare, the delete no-ops, and the breaker loses loudly at
    // createExclusive. This store's conditionals are ATOMIC
    // (ConcurrentHashMap remove(k,v)/replace(k,old,new)) — the
    // object-store CAS shape.
    class CasStore extends LockStore {
      val m = new java.util.concurrent.ConcurrentHashMap[String, String]()
      def read(lp: String): Option[String] = Option(m.get(lp))
      def createExclusive(lp: String, c: String): Unit =
        if (m.putIfAbsent(lp, c) != null)
          throw new java.io.IOException(s"lock exists: $lp")
      def overwrite(lp: String, c: String): Unit = { m.put(lp, c); () }
      def delete(lp: String): Unit = { m.remove(lp); () }
      override def deleteIf(lp: String, expected: String): Boolean =
        m.remove(lp, expected)
      override def replaceIf(lp: String, expected: String, next: String): Boolean =
        m.replace(lp, expected, next)
    }
    val base = new CasStore
    val path = s"mem://state/cas${System.nanoTime()}"
    // a crashed holder's expired lock sits on the store
    assert(WriterLease.acquire(spark, path, owner = "dead", ttlMs = -1L, store = base))
    // the attacker's store delivers the stale expired read, and the
    // rival's break-and-take lands IN THE WINDOW right after it (the
    // exact interleave the advice describes, made deterministic)
    val trap = new LockStore {
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      def read(lp: String): Option[String] = {
        val stale = base.read(lp)
        if (fired.compareAndSet(false, true))
          assert(WriterLease.acquire(spark, path, owner = "rival", store = base),
            "the rival's own break-and-take of the expired lock")
        stale
      }
      def createExclusive(lp: String, c: String): Unit = base.createExclusive(lp, c)
      def overwrite(lp: String, c: String): Unit = base.overwrite(lp, c)
      def delete(lp: String): Unit = base.delete(lp)
      override def deleteIf(lp: String, expected: String): Boolean =
        base.deleteIf(lp, expected)
      override def replaceIf(lp: String, expected: String, next: String): Boolean =
        base.replaceIf(lp, expected, next)
    }
    intercept[java.util.ConcurrentModificationException] {
      WriterLease.acquire(spark, path, owner = "attacker", store = trap)
    }
    // the rival's lease is INTACT — the old unconditional delete would
    // have destroyed it here
    assert(WriterLease.holder(spark, path, store = base).exists(_.owner == "rival"),
      "the breaker deleted a rival's fresh lock despite the CAS compare")
    WriterLease.release(spark, path, "rival", store = base)

    // refresh is conditional too: after our expiry a successor took
    // the lock — our refresh must NOT clobber it
    assert(WriterLease.acquire(spark, path, owner = "slow", ttlMs = -1L, store = base))
    assert(WriterLease.acquire(spark, path, owner = "successor", store = base))
    WriterLease.refresh(spark, path, owner = "slow", store = base)
    assert(WriterLease.holder(spark, path, store = base).exists(_.owner == "successor"),
      "a stale holder's refresh overwrote the successor's lease")
    WriterLease.release(spark, path, "successor", store = base)
  }

  test("re-entry discovers the lease moved on: acquire throws instead of recording a phantom hold; a vanished own lock is retaken exclusively") {
    // (r15 ADVICE) the old re-entry path read "owner = us", called
    // refreshRaw, and unconditionally recorded a hold — but refreshRaw
    // can discover mid-CAS that a successor broke our expired lock; the
    // stale holder then proceeded to commit unprotected alongside the
    // successor. The re-entry must throw on OwnerChanged.
    class CasStore extends LockStore {
      val m = new java.util.concurrent.ConcurrentHashMap[String, String]()
      def read(lp: String): Option[String] = Option(m.get(lp))
      def createExclusive(lp: String, c: String): Unit =
        if (m.putIfAbsent(lp, c) != null)
          throw new java.io.IOException(s"lock exists: $lp")
      def overwrite(lp: String, c: String): Unit = { m.put(lp, c); () }
      def delete(lp: String): Unit = { m.remove(lp); () }
      override def deleteIf(lp: String, expected: String): Boolean =
        m.remove(lp, expected)
      override def replaceIf(lp: String, expected: String, next: String): Boolean =
        m.replace(lp, expected, next)
    }
    val base = new CasStore
    val path = s"mem://state/reentry${System.nanoTime()}"
    // "stale" holds an already-expired lease (a long GC pause, say)
    assert(WriterLease.acquire(spark, path, owner = "stale", ttlMs = -1L, store = base))
    // its re-entering acquire reads its own (expired) lock; IN THE
    // WINDOW right after that read, a rival breaks the expired lock
    // and takes the lease — deterministic via the read trap
    val trap = new LockStore {
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      def read(lp: String): Option[String] = {
        val stale = base.read(lp)
        if (fired.compareAndSet(false, true))
          assert(WriterLease.acquire(spark, path, owner = "rival", store = base),
            "the rival's break-and-take of the expired lock")
        stale
      }
      def createExclusive(lp: String, c: String): Unit = base.createExclusive(lp, c)
      def overwrite(lp: String, c: String): Unit = base.overwrite(lp, c)
      def delete(lp: String): Unit = base.delete(lp)
      override def deleteIf(lp: String, expected: String): Boolean =
        base.deleteIf(lp, expected)
      override def replaceIf(lp: String, expected: String, next: String): Boolean =
        base.replaceIf(lp, expected, next)
    }
    intercept[java.util.ConcurrentModificationException] {
      WriterLease.acquire(spark, path, owner = "stale", store = trap)
    }
    // the rival's lease is intact, and the stale holder recorded NO
    // hold: releasing as "stale" is the loud foreign-release error, not
    // a depth decrement
    assert(WriterLease.holder(spark, path, store = base).exists(_.owner == "rival"))
    intercept[IllegalStateException] {
      WriterLease.release(spark, path, "stale", store = base)
    }
    WriterLease.release(spark, path, "rival", store = base)

    // LockGone: our own lock VANISHES between the read and the refresh
    // (a prior same-owner hold's async release — the documented restart
    // race). The re-entry retakes it exclusively instead of refreshing
    // a ghost or failing a healthy restart.
    val path2 = s"mem://state/reentry2_${System.nanoTime()}"
    assert(WriterLease.acquire(spark, path2, owner = "job", store = base))
    val vanish = new LockStore {
      val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
      def read(lp: String): Option[String] = {
        val cur = base.read(lp)
        if (fired.compareAndSet(false, true)) base.delete(lp)
        cur
      }
      def createExclusive(lp: String, c: String): Unit = base.createExclusive(lp, c)
      def overwrite(lp: String, c: String): Unit = base.overwrite(lp, c)
      def delete(lp: String): Unit = base.delete(lp)
      override def deleteIf(lp: String, expected: String): Boolean =
        base.deleteIf(lp, expected)
      override def replaceIf(lp: String, expected: String, next: String): Boolean =
        base.replaceIf(lp, expected, next)
    }
    WriterLease.acquire(spark, path2, owner = "job", store = vanish)
    assert(WriterLease.holder(spark, path2, store = base).exists(_.owner == "job"),
      "the re-entry must own a freshly-recreated lock")
    WriterLease.release(spark, path2, "job", store = base)
    WriterLease.release(spark, path2, "job", store = base)
  }

  test("a restarting holder's re-entry and its predecessor's release of the same owner never interleave") {
    // a restarting query re-enters the lease its predecessor still holds
    // (one writerId) while the predecessor's release runs on another
    // thread. The re-entry rewrites the lock, and the file backend's
    // rewrite is create-then-chmod: a release deleting the lock between
    // the two fails the chmod. This store's overwrite stops between its
    // create and its chmod until the release has finished or is parked.
    class RewriteStore extends LockStore {
      val m = new java.util.concurrent.ConcurrentHashMap[String, String]()
      @volatile var midOverwrite: () => Unit = () => ()
      def read(lp: String): Option[String] = Option(m.get(lp))
      def createExclusive(lp: String, c: String): Unit =
        if (m.putIfAbsent(lp, c) != null)
          throw new java.io.IOException(s"lock exists: $lp")
      def overwrite(lp: String, c: String): Unit = {
        m.put(lp, c)
        val hook = midOverwrite
        midOverwrite = () => ()
        hook()
        if (!m.containsKey(lp))
          throw new java.io.FileNotFoundException(s"chmod: cannot access '$lp': No such file or directory")
      }
      def delete(lp: String): Unit = { m.remove(lp); () }
    }
    val store = new RewriteStore
    val path = s"mem://state/restart${System.nanoTime()}"
    // run the release path once first, so the racing release below loads
    // no class and parks on nothing but the lease itself
    assert(WriterLease.acquire(spark, path + "-warm", owner = "job", store = store))
    WriterLease.release(spark, path + "-warm", "job", store = store)

    assert(WriterLease.acquire(spark, path, owner = "job", store = store), "the predecessor's hold")
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val releaser = new Thread(() =>
      try WriterLease.release(spark, path, "job", store = store)
      catch { case t: Throwable => failure.set(t) })
    store.midOverwrite = () => {
      releaser.start()
      val parked = Set(Thread.State.BLOCKED, Thread.State.WAITING, Thread.State.TERMINATED)
      while (!parked(releaser.getState)) Thread.onSpinWait()
    }
    assert(!WriterLease.acquire(spark, path, owner = "job", store = store), "the successor re-enters")
    releaser.join()
    assert(failure.get == null)
    assert(WriterLease.holder(spark, path, store = store).exists(_.owner == "job"),
      "the predecessor's release leaves the successor's hold")
    WriterLease.release(spark, path, "job", store = store)
    assert(WriterLease.holder(spark, path, store = store).isEmpty)
  }

  test("upsertBuckets under a foreign lease: fails loudly BEFORE touching state; proceeds after release") {
    val path = tmpDir("ub")
    StoredMerge.writeBuckets(Seq((1L, "v1"), (2L, "v2")).toDF("k", "v"),
      path, Seq("k"), nBuckets = 4)
    def stateBytes(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(path)
      val files = java.nio.file.Files.walk(root).toArray.map(_.toString)
        .filter(_.endsWith(".parquet"))
      files.map(f => f -> java.nio.file.Files.size(java.nio.file.Paths.get(f))).toMap
    }
    val before = stateBytes()
    WriterLease.acquire(spark, path, owner = "other-job")
    intercept[java.util.ConcurrentModificationException] {
      StoredMerge.upsertBuckets(spark, path,
        Seq((1L, "CLOBBER")).toDF("k", "v"), Seq("k"), nBuckets = 4,
        owner = "me")
    }
    assert(stateBytes() == before,
      "a refused merge must leave every stored file byte-identical")
    WriterLease.release(spark, path, "other-job")
    StoredMerge.upsertBuckets(spark, path,
      Seq((1L, "v1b")).toDF("k", "v"), Seq("k"), nBuckets = 4, owner = "me")
    val rows = StoredMerge.readBuckets(spark, path).drop("__bucket")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "v1b", 2L -> "v2"))
  }
}
