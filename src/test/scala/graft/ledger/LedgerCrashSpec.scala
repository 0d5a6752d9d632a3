package graft.ledger

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Hadoop signals most rename failures by RETURNING FALSE, not throwing.
  * This local filesystem makes the two compaction-swap renames, or an
  * append's in-progress → visible rename, do exactly that (selected by
  * name shape, so parquet write-commit renames inside the `.compact` dir
  * are untouched), driving the real swap and append code through the
  * failure mode the crash seams can't reach.
  */
class FlakyRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "flaky"
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = {
    val aside = dst.getName.endsWith(".old")
    val in = src.getName.endsWith(".compact") && !dst.getName.endsWith(".compact")
    FlakyRenameFileSystem.mode match {
      case "fail-aside" if aside => false
      case "fail-in" if in => false
      // an append's in-progress file never made visible: the state a
      // crash between its write and its rename leaves behind
      case "fail-append" if src.getName.startsWith(".") => false
      case _ => super.rename(src, dst)
    }
  }
}
object FlakyRenameFileSystem { @volatile var mode: String = "off" }

/** Crash-safety of the compaction swap and read-side schema migration of
  * pre-upgrade ledgers — both must leave a readable ledger after
  * reconstruction, never an empty or unreadable one.
  */
class LedgerCrashSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

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

  for (step <- 1 to 3)
    test(s"compaction crash after step $step: next construction recovers full state") {
      val dir = Files.createTempDirectory(s"graft-crash$step").toString
      val l = seeded(dir)
      intercept[IllegalStateException] {
        l.compactOne(s"$dir/batches", () => l.currentBatches, crashAfterStep = step)
      }
      // a NEW Ledger (fresh process analogue) must see the full state
      val l2 = new Ledger(spark, dir)
      assert(l2.currentBatches.count() == 2)
      assert(l2.describeBatch("b/k", "b1").collect().head.getAs[String]("status") == "complete")
      assert(l2.processedFiles.count() == 2)
      // no swap debris left behind
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/batches.old")))
      // a subsequent full compact still works
      l2.compact()
      assert(new Ledger(spark, dir).currentBatches.count() == 2)
    }

  test("rename returning FALSE aborts the swap before any delete touches the log") {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.flaky.impl", classOf[FlakyRenameFileSystem].getName)
    val dir = "flaky:" + Files.createTempDirectory("graft-flaky").toString
    FlakyRenameFileSystem.mode = "off"
    val l = seeded(dir)
    try {
      // rename-aside fails silently → compactOne must throw, and the live
      // log must survive untouched (pre-fix, execution fell through)
      FlakyRenameFileSystem.mode = "fail-aside"
      val ex = intercept[java.io.IOException] {
        l.compactOne(s"$dir/batches", () => l.currentBatches)
      }
      assert(ex.getMessage.contains("rename"))
      FlakyRenameFileSystem.mode = "off"
      val l2 = new Ledger(spark, dir)
      assert(l2.currentBatches.count() == 2)

      // rename-IN fails after live was moved aside: abort, then the next
      // construction's recoverSwap must ALSO abort on a false rename
      // rather than fall through — and complete once renames work again
      FlakyRenameFileSystem.mode = "fail-in"
      intercept[java.io.IOException] {
        l2.compactOne(s"$dir/batches", () => l2.currentBatches)
      }
      intercept[java.io.IOException] { new Ledger(spark, dir) }
      FlakyRenameFileSystem.mode = "off"
      val l3 = new Ledger(spark, dir)
      assert(l3.currentBatches.count() == 2)
      assert(l3.processedFiles.count() == 2)
    } finally FlakyRenameFileSystem.mode = "off"
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
      // the swap-rename faults touch compaction only: appends still commit
      for (mode <- Seq("off", "fail-aside", "fail-in")) {
        FlakyRenameFileSystem.mode = mode
        val l = new Ledger(spark, dir)
        l.appendBatches(Seq(rec(s"$mode-a", BatchStatus.Open, 1000),
          rec(s"$mode-b", BatchStatus.Open, 3 * day + 1000)))
        l.appendFiles(Seq(ProcessedFile(s"b/k/$mode.csv", 1000, 1, Some(s"$mode-a"))), 1000)
        l.tombstoneFile(s"b/k/$mode.csv", 2000)
        l.appendTargetFiles(Seq((s"b/k/$mode.csv", "jdbc:x", "t", s"$mode-a")), 1000)
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
