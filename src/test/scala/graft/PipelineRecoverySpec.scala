package graft

import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.ledger.{FlakyRenameFileSystem, Ledger}
import graft.notify.CollectingNotifier

/** Exactly-once at the driver-side admission boundary: a trigger writes
  * its decisions to the ledger before any of its loads, and a starting
  * pipeline resumes from that record. Each test breaks the pipeline at
  * one point — the write-ahead itself, a lane between its JDBC commit
  * and its final ledger append, the checkpoint as a whole — restarts it,
  * and checks the Derby target and the ledger.
  */
class PipelineRecoverySpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private val schema = StructType(Seq(StructField("column_a", IntegerType)))

  /** One prefix loading one single-column Derby table, with its own watch
    * root, ledger and checkpoint. */
  private final class Rig(name: String, batchSize: Int, ledgerScheme: String = "") {
    val root: String = Files.createTempDirectory(s"graft-$name").toString
    val ledgerLocal: String = Files.createTempDirectory(s"graft-$name-ledger").toString
    val ledgerDir: String = ledgerScheme + ledgerLocal
    val url = s"jdbc:derby:memory:$name;create=true"
    val conn: java.sql.Connection = DriverManager.getConnection(url)
    conn.createStatement().execute(s"CREATE TABLE $name(column_a INT)")
    Files.createDirectories(Paths.get(s"$root/bucket/input"))
    val cfg: LoadConfig = LoadConfig(s3Prefix = "bucket/input", dataFormat = DataFormat.Csv,
      batchSize = batchSize, targets = Seq(LoadTarget(url, "", "", name)))
    val notifier = new CollectingNotifier
    lazy val ledger = new Ledger(spark, ledgerDir)

    def checkpoint(): String = Files.createTempDirectory(s"graft-$name-ckpt").toString

    def start(ckpt: String): StreamingQuery = Pipeline.start(spark,
      Pipeline.Settings(root, ledgerDir, ckpt, triggerInterval = "500 milliseconds",
        schemas = Map(name -> schema)),
      Map("bucket/input" -> cfg), notifier)

    /** A one-row file holding `v`. */
    def drop(file: String, v: Int): Unit =
      Files.write(Paths.get(s"$root/bucket/input/$file"), s"$v\n".getBytes)

    def long(sql: String): Long = {
      val rs = conn.createStatement().executeQuery(sql)
      try { rs.next(); rs.getLong(1) } finally rs.close()
    }
    def rows(): Long = long(s"SELECT count(*) FROM $name")
    def sum(): Long = long(s"SELECT sum(column_a) FROM $name")
    def registry(): Long = long(s"SELECT count(*) FROM ${loader.JdbcWriter.CommitTable}")

    /** Reads that may meet a ledger write in flight count as not yet. */
    def processed(): Long = try ledger.processedFiles.count() catch { case _: Throwable => -1L }
    def status(batchId: String): String =
      try ledger.describeBatch("bucket/input", batchId).collect().headOption
        .map(_.getAs[String]("status")).getOrElse("")
      catch { case _: Throwable => "" }
    def completes(): Seq[Notification] = notifier.received.filter(_.status == "complete")
    /** Every batch id the ledger records, and those of its `status`
      * events, in record order. */
    def ids(): Set[String] = ledger.batchLog.collect().map(_.batchId).toSet
    def ids(status: String): Seq[String] =
      try ledger.batchLog.collect().filter(_.status == status).sortBy(_.seq)
        .map(_.batchId).distinct.toSeq
      catch { case _: Throwable => Seq.empty }

    /** Fail every lane at its manifest write — after its JDBC commit,
      * before its `complete` append — by taking the manifests directory's
      * path with a plain file; [[unblockManifests]] undoes it. */
    def blockManifests(): Unit = Files.write(Paths.get(s"$ledgerLocal/manifests"), Array[Byte]())
    def unblockManifests(): Unit = Files.delete(Paths.get(s"$ledgerLocal/manifests"))
  }
  private type Notification = graft.notify.Notification

  private def awaitUntil(what: String, secs: Int)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + secs * 1000L
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(200)
    assert(cond, what)
  }

  /** Wait for a query to stop on its own failure. */
  private def awaitFailure(q: StreamingQuery): Unit = {
    try q.awaitTermination(120000) catch { case _: StreamingQueryException => () }
    assert(!q.isActive && q.exception.isDefined, "the query stopped on its trigger's failure")
  }

  test("write-ahead append fails: restart on the same checkpoint loads every row once") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.flaky.impl", classOf[FlakyRenameFileSystem].getName)
    val rig = new Rig("walfail", batchSize = 1, ledgerScheme = "flaky:")
    val ckpt = rig.checkpoint()
    rig.drop("s0.csv", 1)
    try {
      FlakyRenameFileSystem.mode = "off"
      val q1 = rig.start(ckpt)
      try {
        awaitUntil("s0 loaded and recorded", 120)(rig.completes().size == 1 && rig.processed() == 1)
        // every ledger append from here on is cut before its rename: the
        // next trigger's write-ahead fails before any load starts
        FlakyRenameFileSystem.mode = "fail-append"
        rig.drop("s1.csv", 2)
        awaitFailure(q1)
      } finally q1.stop()
      assert(rig.rows() == 1, "nothing of s1 loaded without its write-ahead")
      FlakyRenameFileSystem.mode = "off"

      val q2 = rig.start(ckpt)
      try {
        awaitUntil("s1 loaded after restart", 120)(rig.rows() >= 2)
        awaitUntil("s1 recorded", 60)(rig.completes().size == 2 && rig.processed() == 2)
        StreamProgress.awaitTriggers(q2, 2)
        assert(rig.rows() == 2 && rig.sum() == 3, "every row landed once")
        assert(rig.registry() == 2)
        assert(rig.ledger.queryBatches("complete").count() == 2)
      } finally q2.stop()
    } finally FlakyRenameFileSystem.mode = "off"
  }

  test("a lane fails after its JDBC commit: the locked batch re-runs as a registry no-op") {
    val rig = new Rig("lanefail", batchSize = 1)
    val ckpt = rig.checkpoint()
    rig.blockManifests()
    rig.drop("s0.csv", 5)
    val q1 = rig.start(ckpt)
    try awaitFailure(q1) finally q1.stop()
    assert(rig.rows() == 1, "the target committed before the lane failed")
    val Seq(id) = rig.ids("locked")
    assert(rig.status(id) == "locked")
    assert(rig.processed() == 0)
    rig.unblockManifests()

    val q2 = rig.start(ckpt)
    try {
      awaitUntil("the locked batch completes", 120)(rig.status(id) == "complete" && rig.processed() == 1)
      StreamProgress.awaitTriggers(q2, 2)
      assert(rig.rows() == 1 && rig.sum() == 5, "the re-run committed nothing twice")
      assert(rig.registry() == 1)
      assert(rig.ledger.batchLog.filter(_.status == "locked").count() == 1,
        "one locked event: the re-run wrote no second write-ahead")
      assert(rig.ledger.processedFiles.count() == 1)
      assert(rig.completes().map(_.batchId) == Seq(id))
    } finally q2.stop()
  }

  test("restart on a fresh checkpoint: no processed file reloads, no batch id is reused") {
    val rig = new Rig("freshckpt", batchSize = 2)
    (0 to 1).foreach(i => rig.drop(s"f$i.csv", 1 << i))
    val q1 = rig.start(rig.checkpoint())
    val first = try {
      awaitUntil("f0, f1 loaded and recorded", 120)(rig.completes().size == 1 && rig.processed() == 2)
      // f2 waits in an open batch, recorded by its trigger's write-ahead
      rig.drop("f2.csv", 4)
      awaitUntil("f2's batch recorded open", 60)(rig.ids("open").exists(id =>
        !rig.completes().exists(_.batchId == id) && rig.status(id) == "open"))
      rig.completes().map(_.batchId)
    } finally q1.stop()
    assert(rig.rows() == 2)
    val Seq(open) = rig.ids("open").filter(rig.status(_) == "open")

    // a new file while down; a new checkpoint re-lists all four
    rig.drop("f3.csv", 8)
    val q2 = rig.start(rig.checkpoint())
    try {
      awaitUntil("a second batch completes", 120)(rig.completes().size >= 2)
      awaitUntil("f2, f3 recorded", 60)(rig.processed() == 4)
      StreamProgress.awaitTriggers(q2, 2)
      assert(rig.completes().size == 2, "one batch after the restart")
      val second = rig.completes().map(_.batchId).filterNot(first.contains)
      assert(second == Seq(open),
        s"the restart flushed the open batch, under its recorded id: ${rig.completes()}")
      val files = rig.ledger.describeBatch("bucket/input", second.head).collect().head
        .getAs[scala.collection.Seq[String]]("entryFiles").toSet
      assert(files == Set("bucket/input/f2.csv", "bucket/input/f3.csv"),
        "the open batch's file flushed with the new file")
      assert(rig.rows() == 4 && rig.sum() == 15, "every file's row landed once")
      assert(rig.registry() == 2)
    } finally q2.stop()
  }

  test("delete the complete batches, compact, restart: a new file gets an id never used") {
    val rig = new Rig("delcompact", batchSize = 1)
    val ckpt = rig.checkpoint()
    val q1 = rig.start(ckpt)
    try {
      (0 to 1).foreach { i =>
        rig.drop(s"d$i.csv", 1 << i)
        awaitUntil(s"d$i loaded and recorded", 120)(rig.completes().size == i + 1)
      }
      awaitUntil("both recorded", 60)(rig.processed() == 2)
    } finally q1.stop()
    val held = rig.ids()
    val ledger = new Ledger(spark, rig.ledgerDir)
    new graft.ops.Ops(spark, ledger).deleteBatches("complete", dryRun = false)
    ledger.compact()

    val q2 = rig.start(ckpt)
    try {
      rig.drop("d2.csv", 4)
      awaitUntil("d2 loaded", 120)(rig.completes().size == 3)
      assert(!held.contains(rig.completes().last.batchId),
        s"d2's batch id ${rig.completes().last.batchId} is new: ledger held $held")
      assert(rig.rows() == 3 && rig.sum() == 7, "d2's row landed")
      assert(rig.registry() == 3, "one registry row per flushed batch")
    } finally q2.stop()
  }

  test("an unlocked batch that committed takes no new file: the restart loads it in a new batch") {
    val rig = new Rig("unlocked", batchSize = 1)
    val ckpt = rig.checkpoint()
    // the lane fails writing the manifest, after the JDBC commit
    rig.blockManifests()
    rig.drop("u0.csv", 5)
    val q1 = rig.start(ckpt)
    try awaitFailure(q1) finally q1.stop()
    val Seq(id) = rig.ids("locked")
    assert(rig.rows() == 1 && rig.status(id) == "locked")
    rig.unblockManifests()
    assert(new graft.ops.Ops(spark, new Ledger(spark, rig.ledgerDir)).unlockBatch("bucket/input", id).ok)
    val held = rig.ids()

    val q2 = rig.start(ckpt)
    try {
      rig.drop("u1.csv", 7)
      awaitUntil("u1 loaded", 120)(rig.completes().nonEmpty)
      StreamProgress.awaitTriggers(q2, 2)
      val Seq(fresh) = rig.completes().map(_.batchId)
      assert(!held.contains(fresh), s"u1's batch id $fresh is new: ledger held $held")
      assert(rig.rows() == 2 && rig.sum() == 12, "u1's row landed")
      assert(rig.registry() == 2, "one registry row per flushed batch")
      assert(rig.status(id) == "open", "the unlocked batch was not loaded again")
    } finally q2.stop()
  }

  test("write-ahead: each open event carries only its trigger's admissions") {
    val rig = new Rig("delta", batchSize = 3)
    val q = rig.start(rig.checkpoint())
    def opens() = rig.ledger.batchLog.collect().filter(_.status == "open").sortBy(_.seq)
      .map(_.entryFiles.toSeq).toSeq
    try {
      rig.drop("e0.csv", 1)
      awaitUntil("e0 recorded", 60)(rig.ids("open").nonEmpty)
      val Seq(id) = rig.ids("open")
      rig.drop("e1.csv", 2)
      awaitUntil("e1 recorded", 60)(opens().size == 2)
      assert(opens() == Seq(Seq("bucket/input/e0.csv"), Seq("bucket/input/e1.csv")))
      assert(rig.ids("open") == Seq(id), "both admissions joined one batch")
      assert(rig.ledger.describeBatch("bucket/input", id).collect().head
        .getAs[scala.collection.Seq[String]]("entryFiles").toSeq ==
        Seq("bucket/input/e0.csv", "bucket/input/e1.csv"))
      rig.drop("e2.csv", 4)
      awaitUntil("the batch loads", 120)(rig.completes().size == 1)
      assert(rig.rows() == 3 && rig.sum() == 7)
    } finally q.stop()
  }

  test("a compacted pending batch keeps its admission times: after a restart each file flushes with its own") {
    val rig = new Rig("ageclock", batchSize = 3)
    val ckpt = rig.checkpoint()
    def admits() =
      try rig.ledger.batchLog.collect().filter(e => e.updateReason == Ledger.Admit).sortBy(_.seq).toSeq
      catch { case _: Throwable => Seq.empty }
    val q1 = rig.start(ckpt)
    val f1At = try {
      rig.drop("f1.csv", 1)
      awaitUntil("f1 admitted", 60)(admits().size == 1)
      rig.drop("f2.csv", 2)
      awaitUntil("f2 admitted", 60)(admits().size == 2)
      val Seq(a1, a2) = admits()
      assert(a1.entryFiles == Seq("bucket/input/f1.csv") && a1.lastUpdate < a2.lastUpdate,
        "two triggers admitted the two files")
      a1.lastUpdate
    } finally q1.stop()
    rig.ledger.compact()

    val q2 = rig.start(ckpt)
    try {
      rig.drop("f3.csv", 4)
      awaitUntil("the batch loads and is recorded", 120)(rig.completes().size == 1 && rig.processed() == 3)
      val f1 = rig.ledger.processedFiles.collect()
        .find(_.getAs[String]("loadFile") == "bucket/input/f1.csv").get
      assert(f1.getAs[Long]("receiveDateTime") == f1At, "f1 keeps its own admission time")
      assert(rig.rows() == 3 && rig.sum() == 7)
    } finally q2.stop()
  }

  test("reprocess, reload, restart on a fresh checkpoint: the file's row is in the target once") {
    val rig = new Rig("unlinkonce", batchSize = 1)
    val file = Paths.get(s"${rig.root}/bucket/input/r.csv")
    // the target is missing, so the file's batch fails
    rig.conn.createStatement().execute("DROP TABLE unlinkonce")
    rig.drop("r.csv", 3)
    val q1 = rig.start(rig.checkpoint())
    try awaitUntil("r's batch and its retry fail", 120)(
      rig.notifier.received.count(_.status == "error") == 2 && rig.processed() == 1)
    finally q1.stop()
    rig.conn.createStatement().execute("CREATE TABLE unlinkonce(column_a INT)")
    assert(new graft.ops.Ops(spark, new Ledger(spark, rig.ledgerDir))
      .reprocessFile("bucket/input/r.csv", Some(rig.root)).ok)
    val Seq(marker) = Files.list(Paths.get(rig.root, "graft-control", "unlink")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])

    // the reload: a fresh checkpoint lists the file and its marker
    val ckpt2 = rig.checkpoint()
    val q2 = rig.start(ckpt2)
    try {
      awaitUntil("r reloads", 120)(rig.completes().size == 1)
      StreamProgress.awaitTriggers(q2, 2)
    } finally q2.stop()
    assert(rig.rows() == 1 && rig.registry() == 1)
    assert(!Files.exists(marker), "the pipeline deleted the marker it read")

    // a crash after the marker's delete, before Spark committed the
    // batch's offsets: the restart replays the batch that listed it
    val commits = Paths.get(ckpt2, "commits")
    val last = Files.list(commits).toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).max
    assert(new String(Files.readAllBytes(Paths.get(ckpt2, "sources", "0", last.toString)))
      .contains("graft-control/unlink/"), "the last batch listed the marker")
    Files.delete(commits.resolve(last.toString))
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    val q2b = rig.start(ckpt2)
    try {
      awaitUntil("the replayed batch commits", 120)(
        Files.exists(commits.resolve(last.toString)) || !q2b.isActive)
      assert(q2b.isActive, s"the replay failed: ${q2b.exception}")
      StreamProgress.awaitTriggers(q2b, 2)
      assert(rig.rows() == 1 && rig.registry() == 1 && rig.completes().size == 1,
        "the replay loads nothing again")
    } finally q2b.stop()

    // a fresh checkpoint again; the file is delivered once more after
    // the first trigger, and is a duplicate
    val away = Files.createTempFile("graft-unlinkonce", ".csv")
    Files.move(file, away, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val q3 = rig.start(rig.checkpoint())
    try {
      StreamProgress.awaitTriggers(q3, 2)
      Files.move(away, file)
      StreamProgress.awaitTriggers(q3, 2)
      assert(rig.rows() == 1 && rig.sum() == 3, "the file's row is in the target once")
      assert(rig.registry() == 1, "no batch committed after the reload")
      assert(rig.completes().size == 1)
    } finally q3.stop()
  }

  test("per-target outcomes: a target whose password fails is the only one the retry loads") {
    val name = "pertarget"
    val root = Files.createTempDirectory(s"graft-$name").toString
    val ledgerDir = Files.createTempDirectory(s"graft-$name-ledger").toString
    Files.createDirectories(Paths.get(s"$root/bucket/input"))
    val urls = Seq("a", "b").map(db => s"jdbc:derby:memory:${name}_$db;create=true")
    urls.foreach(u => DriverManager.getConnection(u).createStatement()
      .execute(s"CREATE TABLE $name(column_a INT)"))
    val cfg = LoadConfig(s3Prefix = "bucket/input", dataFormat = DataFormat.Csv, batchSize = 1,
      targets = Seq(LoadTarget(urls(0), "", "key-a", name), LoadTarget(urls(1), "", "key-b", name)))
    // key-b's keystore lookup fails once, then recovers
    val calls = new ConcurrentHashMap[String, AtomicInteger]()
    val resolve: String => String = key => {
      val n = calls.computeIfAbsent(key, _ => new AtomicInteger()).incrementAndGet()
      if (key == "key-b" && n == 1) throw new IllegalStateException("keystore unavailable")
      ""
    }
    val notifier = new CollectingNotifier
    Files.write(Paths.get(s"$root/bucket/input/p.csv"), "7\n".getBytes)
    val q = Pipeline.start(spark,
      Pipeline.Settings(root, ledgerDir, Files.createTempDirectory(s"graft-$name-ckpt").toString,
        triggerInterval = "500 milliseconds", schemas = Map(name -> schema),
        maxAutoReprocess = 1, perTargetFileDedup = true),
      Map("bucket/input" -> cfg), notifier, resolvePassword = resolve)
    try {
      awaitUntil("the retry completes", 120)(notifier.received.exists(_.status == "complete"))
      StreamProgress.awaitTriggers(q, 2)
      assert(notifier.received.map(_.status) == Seq("error", "complete"))
      assert(notifier.received.head.error.exists(_.contains("keystore unavailable")))
      assert(calls.get("key-a").get == 1, "the committed target is not loaded again")
      assert(calls.get("key-b").get == 2)
      urls.foreach { u =>
        val rs = DriverManager.getConnection(u).createStatement()
          .executeQuery(s"SELECT count(*) FROM $name")
        rs.next()
        assert(rs.getLong(1) == 1, u)
      }
      val facts = new Ledger(spark, ledgerDir).targetFileLog.collect()
        .map(f => (f.loadFile, f.jdbcUrl)).toSet
      assert(facts == urls.map(u => ("bucket/input/p.csv", u)).toSet,
        "each target's commit is recorded by the attempt that made it")
    } finally q.stop()
  }
}
