package graft.ledger

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.GraftSession

/** Hadoop signals most rename failures by RETURNING FALSE, not throwing.
  * This local filesystem makes an append's in-progress → visible rename
  * do exactly that (`fail-append`), or throws from `delete` once
  * `deletesLeft` deletes have gone through (`fail-delete`, the state a
  * crash part way through a compaction's deletes leaves behind), driving
  * the real append and compaction code through failure points no
  * exception from the code under test can reach. `beforeDelete` runs
  * once, just before the next delete.
  */
class FlakyRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import FlakyRenameFileSystem._
  override def getScheme: String = "flaky"
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    // an append's in-progress file never made visible: the state a crash
    // between its write and its rename leaves behind
    if (mode == "fail-append" && src.getName.startsWith(".")) false
    else super.rename(src, dst)
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean = {
    val hook = beforeDelete
    beforeDelete = () => ()
    hook()
    if (mode == "fail-delete") {
      if (deletesLeft <= 0) throw new java.io.IOException(s"simulated crash before deleting $p")
      deletesLeft -= 1
    }
    super.delete(p, recursive)
  }
}
object FlakyRenameFileSystem {
  @volatile var mode: String = "off"
  @volatile var deletesLeft: Int = 0
  @volatile var beforeDelete: () => Unit = () => ()
}

/** Crash-safety of compaction and appends, and read-side schema
  * migration of pre-upgrade ledgers — each must leave a readable ledger
  * after reconstruction, never an empty or unreadable one.
  */
class LedgerCrashSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def rec(id: String, status: BatchStatus, at: Long) =
    BatchRecord("b/k", id, status.name, Seq(BatchEntry(s"b/k/$id.csv", 10, at)), 10L, at)

  private def seeded(dir: String): Ledger = {
    val l = new Ledger(spark, dir)
    l.appendBatch(rec("b1", BatchStatus.Open, 1000))
    l.appendBatch(rec("b1", BatchStatus.Complete, 2000))
    l.appendBatch(rec("b2", BatchStatus.Error, 3000))
    l.appendFiles(Seq(
      ProcessedFile("b/k/b1.csv", 1000, 1, Some("b1")),
      ProcessedFile("b/k/b2.csv", 3000, 1, Some("b2"))), 3000)
    l
  }

  /** [[seeded]] plus every kind of row compaction drops or merges: a
    * deleted batch and a tombstoned file (each tombstone written after the
    * events it hides, by the ops commands), a pending batch of two
    * admission events, and target facts. Seven batch-log files. */
  private def history(dir: String): Ledger = {
    val l = seeded(dir)
    val ops = new graft.ops.Ops(spark, l)
    l.appendBatch(rec("b3", BatchStatus.Open, 4000))
    assert(ops.deleteBatch("b/k", "b3")._1.ok)
    def admit(file: String, at: Long) = l.appendBatch(BatchRecord("b/k", "b4",
      BatchStatus.Open.name, Seq(BatchEntry(file, 10, at)), 10L, at, updateReason = Some(Ledger.Admit)))
    admit("b/k/a1.csv", 5000)
    admit("b/k/a2.csv", 6000)
    l.appendFiles(Seq(ProcessedFile("b/k/gone.csv", 4000, 1, Some("b3"))), 4000)
    assert(ops.deleteProcessedFile("b/k/gone.csv")._1.ok)
    l.appendTargetFiles(Seq(("b/k/b1.csv", "jdbc:x", "t", "b1")), 2000)
    l.appendTargetFiles(Seq(("b/k/b2.csv", "jdbc:x", "t", "b2"), ("b/k/b1.csv", "jdbc:y", "t", "b1")), 3000)
    l
  }

  /** Everything a reader of the ledger sees. */
  private def readState(l: Ledger) = (
    l.currentBatches.collect().map(_.toString).toSeq.sorted,
    l.processedFiles.collect().map(_.toString).toSeq.sorted,
    l.targetsFullyLoaded(Seq("b/k/b1.csv")),
    l.targetsFullyLoaded(Seq("b/k/b1.csv", "b/k/b2.csv")))

  /** A new Ledger (fresh process analogue) reads `expected`, lists the
    * pending batch's entries once each, and its next compaction leaves one
    * visible parquet file per `eventDate` and nothing else. */
  private def recovers(dir: String, local: java.nio.file.Path, expected: AnyRef): Unit = {
    val l2 = new Ledger(spark, dir)
    assert(readState(l2) == expected)
    assert(l2.describeBatch("b/k", "b4").collect().head
      .getAs[scala.collection.Seq[String]]("entryFiles").toSeq == Seq("b/k/a1.csv", "b/k/a2.csv"))
    l2.compact()
    assert(readState(new Ledger(spark, dir)) == expected)
    Seq("batches", "files", "target_files").foreach { log =>
      val root = local.resolve(log)
      val days = Files.list(root).iterator().asScala.toSeq
      assert(days.nonEmpty && days.forall(d => Files.isDirectory(d) &&
        d.getFileName.toString.startsWith("eventDate=")), s"$log holds only partitions: $days")
      days.foreach { d =>
        val names = fileNames(d)
        assert(names.size == 1 && names.head.startsWith("part-") && names.head.endsWith(".parquet"),
          s"$d holds one compacted file: $names")
      }
    }
  }

  test("compaction crash point 1: its append cut before the rename leaves the log as it was") {
    val (dir, local) = flakyDir("graft-crash1")
    try {
      val expected = readState(history(dir))
      FlakyRenameFileSystem.mode = "fail-append"
      intercept[java.io.IOException](new Ledger(spark, dir).compact())
      FlakyRenameFileSystem.mode = "off"
      recovers(dir, local, expected)
    } finally FlakyRenameFileSystem.mode = "off"
  }

  test("compaction crash point 2: after its append, before any delete, every row reads once") {
    val (dir, local) = flakyDir("graft-crash2")
    try {
      val expected = readState(history(dir))
      FlakyRenameFileSystem.mode = "fail-delete"
      FlakyRenameFileSystem.deletesLeft = 0
      intercept[java.io.IOException](new Ledger(spark, dir).compact())
      FlakyRenameFileSystem.mode = "off"
      // the compacted copy sits beside every file it supersedes
      assert(fileNames(local.resolve("batches")).count(_.endsWith(".parquet")) == 7 + 1)
      recovers(dir, local, expected)
    } finally FlakyRenameFileSystem.mode = "off"
  }

  test("compaction crash point 3: after some of its deletes, no dropped row comes back") {
    // every cut of the batch log's seven file deletes and its empty-day
    // delete: deleting oldest first never leaves b3's open event without
    // its later tombstone
    for (done <- 1 to 7) {
      val (dir, local) = flakyDir(s"graft-crash3-$done")
      try {
        val expected = readState(history(dir))
        FlakyRenameFileSystem.mode = "fail-delete"
        FlakyRenameFileSystem.deletesLeft = done
        intercept[java.io.IOException](new Ledger(spark, dir).compact())
        FlakyRenameFileSystem.mode = "off"
        recovers(dir, local, expected)
      } finally FlakyRenameFileSystem.mode = "off"
    }
  }

  test("rename returning FALSE aborts the compaction before any delete touches the log") {
    val (dir, local) = flakyDir("graft-flaky")
    try {
      val l = seeded(dir)
      val before = fileNames(local)
      FlakyRenameFileSystem.mode = "fail-append"
      val ex = intercept[java.io.IOException](l.compact())
      assert(ex.getMessage.contains("rename"))
      FlakyRenameFileSystem.mode = "off"
      // every file is still there; the only new one is the hidden cut append
      val after = fileNames(local)
      assert(before.forall(after.contains) && after.diff(before).forall(_.startsWith(".")))
      val l2 = new Ledger(spark, dir)
      assert(l2.currentBatches.count() == 2)
      assert(l2.describeBatch("b/k", "b1").collect().head.getAs[String]("status") == "complete")
      assert(l2.processedFiles.count() == 2)
    } finally FlakyRenameFileSystem.mode = "off"
  }

  test("an append from a second Ledger while compaction runs survives it") {
    val (dir, local) = flakyDir("graft-concurrent")
    try {
      val l = seeded(dir)
      // lands after compaction listed its files, before its first delete
      FlakyRenameFileSystem.beforeDelete = () =>
        new Ledger(spark, dir).appendBatch(rec("late", BatchStatus.Open, 9000))
      l.compact()
      val l2 = new Ledger(spark, dir)
      assert(l2.describeBatch("b/k", "late").count() == 1)
      assert(l2.currentBatches.count() == 3 && l2.processedFiles.count() == 2)
      l2.compact()
      assert(new Ledger(spark, dir).currentBatches.count() == 3)
      assert(fileNames(local.resolve("batches")).size == 1)
    } finally FlakyRenameFileSystem.beforeDelete = () => ()
  }

  test("pre-upgrade ledger (no seq/deleted columns) reads with defaults") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mig").toString
    // write logs in the round-1 on-disk shape: batch events without seq,
    // file events without seq/deleted
    Seq(("b/k", "b1", "open", Seq("f1"), Seq(10L), 10L, "", Map.empty[String, String], "", "", 1000L,
         new java.sql.Date(0L)),
        ("b/k", "b1", "complete", Seq("f1"), Seq(10L), 10L, "", Map.empty[String, String], "", "", 2000L,
         new java.sql.Date(0L)))
      .toDF("s3Prefix", "batchId", "status", "entryFiles", "entrySizes", "sizeBytes",
        "manifestFile", "targetStatus", "errorMessage", "updateReason", "lastUpdate", "eventDate")
      .write.partitionBy("eventDate").parquet(s"$dir/batches")
    Seq(("b/k/f1", 1000L, 1, "b1", Seq.empty[String], new java.sql.Date(0L)))
      .toDF("loadFile", "receiveDateTime", "timesReceived", "batchId", "previousBatches", "eventDate")
      .write.partitionBy("eventDate").parquet(s"$dir/files")

    val l = new Ledger(spark, dir) // must not throw on construction
    assert(l.currentBatches.count() == 1)
    assert(l.describeBatch("b/k", "b1").collect().head.getAs[String]("status") == "complete")
    assert(l.processedFiles.count() == 1)
    // post-upgrade appends interleave cleanly with migrated rows
    l.appendBatch(rec("b1", BatchStatus.Error, 2000)) // same ms as old latest
    assert(l.describeBatch("b/k", "b1").collect().head.getAs[String]("status") == "error",
      "new event wins the same-millisecond tie via seq > 0")
    // compaction keeps the latest of the migrated events, which share seq 0
    l.compact()
    assert(l.batchLog.collect().map(_.status).toSeq == Seq("error"))
    assert(l.processedFiles.count() == 1)
  }

  private def flakyDir(prefix: String): (String, java.nio.file.Path) = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.flaky.impl", classOf[FlakyRenameFileSystem].getName)
    val local = Files.createTempDirectory(prefix)
    ("flaky:" + local, local)
  }

  /** Files under `d` by name, hidden ones included. */
  private def fileNames(d: java.nio.file.Path): Seq[String] =
    if (!Files.exists(d)) Seq.empty
    else {
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).toSeq
      finally s.close()
    }

  test("appends on the flaky: scheme land one visible file per eventDate") {
    val (dir, local) = flakyDir("graft-flaky-append")
    val day = 86400000L
    try {
      // the delete fault touches compaction only: appends still commit
      for ((mode, i) <- Seq("off", "fail-delete", "off").zipWithIndex) {
        FlakyRenameFileSystem.mode = mode
        val l = new Ledger(spark, dir)
        l.appendBatches(Seq(rec(s"$i-a", BatchStatus.Open, 1000),
          rec(s"$i-b", BatchStatus.Open, 3 * day + 1000)))
        l.appendFiles(Seq(ProcessedFile(s"b/k/$i.csv", 1000, 1, Some(s"$i-a"))), 1000)
        l.tombstoneFile(s"b/k/$i.csv", 2000)
        l.appendTargetFiles(Seq((s"b/k/$i.csv", "jdbc:x", "t", s"$i-a")), 1000)
      }
      FlakyRenameFileSystem.mode = "off"
      val l = new Ledger(spark, dir)
      assert(l.currentBatches.count() == 6)
      assert(l.fileLog.count() == 6 && l.processedFiles.count() == 0)
      assert(l.targetFileLog.count() == 3)
      // a two-day appendBatches call wrote one file into each day's dir
      val batchDirs = Files.list(local.resolve("batches")).iterator().asScala
        .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq.sorted
      assert(batchDirs == Seq(0L, 3 * day).map(ms =>
        s"eventDate=${new java.sql.Date(ms).toLocalDate}"))
      batchDirs.foreach { d =>
        assert(fileNames(local.resolve("batches").resolve(d)).count(_.endsWith(".parquet")) == 3)
      }
      assert(fileNames(local).forall(n => !n.startsWith(".")), "no in-progress file left")
    } finally FlakyRenameFileSystem.mode = "off"
  }

  test("an append cut between write and rename stays invisible until compaction drops it") {
    def inProgress(local: java.nio.file.Path) =
      fileNames(local.resolve("batches")).filter(_.startsWith("."))
    try {
      // alone in a fresh log: construction and reads see an empty log
      val (fresh, freshLocal) = flakyDir("graft-flaky-cut0")
      FlakyRenameFileSystem.mode = "fail-append"
      intercept[java.io.IOException] {
        new Ledger(spark, fresh).appendBatch(rec("b0", BatchStatus.Open, 500))
      }
      FlakyRenameFileSystem.mode = "off"
      assert(inProgress(freshLocal).size == 1)
      val f2 = new Ledger(spark, fresh) // seq resume must not read it
      assert(f2.batchLog.count() == 0 && f2.currentBatches.count() == 0)

      // beside committed events: seeded() uses seq 1..5
      val (dir, local) = flakyDir("graft-flaky-cut")
      val l = seeded(dir)
      FlakyRenameFileSystem.mode = "fail-append"
      val ex = intercept[java.io.IOException](l.appendBatch(rec("b3", BatchStatus.Open, 4000)))
      assert(ex.getMessage.contains("rename"))
      FlakyRenameFileSystem.mode = "off"
      assert(inProgress(local).size == 1)
      val l2 = new Ledger(spark, dir)
      assert(l2.currentBatches.count() == 2)
      assert(l2.describeBatch("b/k", "b3").count() == 0)
      // the cut append took seq 6; a resume that read it would hand out 7
      l2.appendBatch(rec("b3", BatchStatus.Open, 4000))
      assert(l2.batchLog.filter(_.batchId == "b3").collect().map(_.seq).toSeq == Seq(6L))
      l2.compact()
      assert(inProgress(local).isEmpty)
      val l3 = new Ledger(spark, dir)
      assert(l3.currentBatches.count() == 3 && l3.processedFiles.count() == 2)
    } finally FlakyRenameFileSystem.mode = "off"
  }
}
