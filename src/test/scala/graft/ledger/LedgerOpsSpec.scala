package graft.ledger

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.ops.Ops
import graft.crypto.Keystore

class LedgerOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshLedger() = new Ledger(spark, Files.createTempDirectory("graft-ledger").toString)

  private def rec(id: String, status: BatchStatus, files: Seq[String] = Seq("b/k/f1.csv"),
                  at: Long = System.currentTimeMillis()) =
    BatchRecord("b/k", id, status.name, files.map(BatchEntry(_, 10, at)), 10L * files.size, at)

  test("ledger: latest event wins; describe and status query (§2.9)") {
    val ledger = new Ledger(spark, Files.createTempDirectory("graft-ledger").toString)
    ledger.appendBatch(rec("b1", BatchStatus.Open, at = 1000))
    ledger.appendBatch(rec("b1", BatchStatus.Locked, at = 2000))
    ledger.appendBatch(rec("b1", BatchStatus.Complete, at = 3000))
    ledger.appendBatch(rec("b2", BatchStatus.Open, at = 2500))
    assert(ledger.currentBatches.count() == 2)
    val d = ledger.describeBatch("b/k", "b1").collect()
    assert(d.length == 1 && d.head.getAs[String]("status") == "complete")
    assert(ledger.queryBatches("open").collect().map(_.getAs[String]("batchId")).toSeq == Seq("b2"))
    // time-range form of the GSI query
    assert(ledger.queryBatches("complete", afterMs = Some(2500)).count() == 1)
    assert(ledger.queryBatches("complete", beforeMs = Some(2500)).count() == 0)
  }

  test("ops: unlock requires locked|error (F6 preconditions)") {
    val ledger = freshLedger()
    val ops = new Ops(spark, ledger)
    ledger.appendBatch(rec("b1", BatchStatus.Locked))
    assert(ops.unlockBatch("b/k", "b1").ok)
    // now open — second unlock must refuse, like the conditional write
    assert(!ops.unlockBatch("b/k", "b1").ok)
    assert(!ops.unlockBatch("b/k", "missing").ok)
  }

  test("ops: reprocessBatch guards + omit list + reinject files (T7)") {
    val ledger = freshLedger()
    val ops = new Ops(spark, ledger)
    ledger.appendBatch(rec("open1", BatchStatus.Open))
    assert(!ops.reprocessBatch("b/k", "open1").ok)

    ledger.appendBatch(rec("err1", BatchStatus.Error, Seq("b/k/f1.csv", "b/k/f2.csv", "b/k/f3.csv")))
    val r = ops.reprocessBatch("b/k", "err1", omitFiles = Set("b/k/f2.csv"))
    assert(r.ok && r.reinject == Seq("b/k/f1.csv", "b/k/f3.csv"))
    assert(ledger.describeBatch("b/k", "err1").collect().head.getAs[String]("status") == "reprocessed")
    // repeated reprocess refused (reference CAS: locked|error only) —
    // prevents double-loading an already-reprocessed batch
    assert(!ops.reprocessBatch("b/k", "err1").ok)
    ledger.appendBatch(rec("done1", BatchStatus.Complete))
    assert(!ops.reprocessBatch("b/k", "done1").ok)
  }

  test("ops: deleteBatches dry-run by default, deletes when forced") {
    val ledger = freshLedger()
    val ops = new Ops(spark, ledger)
    ledger.appendBatch(rec("c1", BatchStatus.Complete))
    val dry = ops.deleteBatches("complete")
    assert(dry.count() == 1)
    assert(ledger.queryBatches("complete").count() == 1) // untouched
    ops.deleteBatches("complete", dryRun = false)
    assert(ledger.queryBatches("complete").count() == 0)
    // truly gone from every current-state view, not error-tombstoned
    assert(ledger.currentBatches.count() == 0)
    assert(ledger.queryBatches("error").count() == 0)
  }

  test("ops: deleteBatch returns ALL_OLD and compaction drops the row") {
    val ledger = freshLedger()
    val ops = new Ops(spark, ledger)
    ledger.appendBatch(rec("d1", BatchStatus.Complete, at = 1000))
    ledger.appendBatch(rec("keep1", BatchStatus.Open, at = 1000))
    val (res, old) = ops.deleteBatch("b/k", "d1")
    assert(res.ok && old.isDefined)
    assert(old.get.status == "complete" && old.get.batchId == "d1") // ALL_OLD
    assert(ops.deleteBatch("b/k", "d1")._1.ok == false) // already gone
    assert(ledger.describeBatch("b/k", "d1").count() == 0)
    ledger.compact()
    // physically dropped: the raw log keeps only the survivor
    assert(ledger.batchLog.collect().map(_.batchId).toSeq == Seq("keep1"))
  }

  test("ops: deleteProcessedFile tombstones the dedup entry (processedFiles --delete)") {
    val ledger = freshLedger()
    val ops = new Ops(spark, ledger)
    ledger.appendFile(ProcessedFile("b/k/f1.csv", 1000, 1, Some("batchA")), 1000)
    ledger.appendFile(ProcessedFile("b/k/f2.csv", 1000, 1, Some("batchA")), 1000)
    val (res, old) = ops.deleteProcessedFile("b/k/f1.csv")
    assert(res.ok && old.get.getAs[String]("batchId") == "batchA") // ALL_OLD
    assert(ledger.processedFiles.collect().map(_.getAs[String]("loadFile")).toSeq
      == Seq("b/k/f2.csv"))
    assert(!ops.deleteProcessedFile("b/k/f1.csv")._1.ok)
    ledger.compact()
    assert(ledger.fileLog.count() == 1) // tombstone physically dropped
  }

  test("ops: reprocessFile unlinks batch into previousBatches (common.js:842-916)") {
    val ledger = freshLedger()
    val ops = new Ops(spark, ledger)
    ledger.appendFile(ProcessedFile("b/k/f1.csv", 1000, 1, Some("batchA")), 1000)
    val r = ops.reprocessFile("b/k/f1.csv")
    assert(r.ok && r.reinject == Seq("b/k/f1.csv"))
    val cur = ledger.processedFiles.collect().head
    assert(cur.getAs[String]("batchId") == "")
    assert(cur.getAs[scala.collection.Seq[String]]("previousBatches").toSeq == Seq("batchA"))
    assert(!ops.reprocessFile("b/k/unknown.csv").ok)
  }

  test("ledger: same-millisecond transitions resolve by seq, not luck") {
    val ledger = freshLedger()
    // reprocessing → reprocessed in the SAME millisecond (the Ops
    // transition shape): latest state must be the later append
    ledger.appendBatch(rec("b1", BatchStatus.Reprocessing, at = 5000))
    ledger.appendBatch(rec("b1", BatchStatus.Reprocessed, at = 5000))
    val st = ledger.describeBatch("b/k", "b1").collect().head.getAs[String]("status")
    assert(st == BatchStatus.Reprocessed.name)
    // and the counter survives a reopen of the same ledger dir
  }

  test("ledger: seq counter resumes across Ledger instances") {
    val dir = Files.createTempDirectory("graft-ledger").toString
    val l1 = new Ledger(spark, dir)
    l1.appendBatch(rec("b1", BatchStatus.Reprocessing, at = 7000))
    val l2 = new Ledger(spark, dir)
    l2.appendBatch(rec("b1", BatchStatus.Reprocessed, at = 7000))
    assert(l2.describeBatch("b/k", "b1").collect().head
      .getAs[String]("status") == BatchStatus.Reprocessed.name)
  }

  test("ledger: appendFiles writes ONE parquet file per flush entry set") {
    val dir = Files.createTempDirectory("graft-ledger").toString
    val ledger = new Ledger(spark, dir)
    ledger.appendFiles((1 to 20).map(i =>
      ProcessedFile(s"b/k/f$i.csv", 1000, 1, Some("batchA"))), 1000)
    val parts = Files.walk(java.nio.file.Paths.get(dir, "files")).iterator()
    val partFiles = Iterator.continually(parts).takeWhile(_ => parts.hasNext)
      .map(_.next().toString).count(_.endsWith(".parquet"))
    assert(partFiles == 1, s"expected 1 part file for 20 entries, got $partFiles")
    assert(ledger.processedFiles.count() == 20)
  }

  test("ledger: a log mixing Spark-job appends and driver appends reads as one") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mixed").toString
    val day = 86400000L
    val (d1, d2) = (1000L, 3 * day + 1000L)
    def date(ms: Long) = new java.sql.Date(ms - ms % day)
    def sparkAppend[T](ds: org.apache.spark.sql.Dataset[T], sub: String): Unit =
      ds.coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("eventDate").parquet(s"$dir/$sub")
    // the fixture: events appended by a Spark job, as the log was written before
    sparkAppend(Seq(
      BatchLedgerEvent("b/k", "b1", "open", Seq("b/k/b1.csv"), Seq(10L), 10L, "",
        Map.empty, "", "", d1, 1L, date(d1)),
      BatchLedgerEvent("b/k", "b2", "open", Seq("b/k/b2.csv"), Seq(10L), 10L, "",
        Map.empty, "", "", d2, 2L, date(d2))).toDS(), "batches")
    sparkAppend(Seq(FileLedgerEvent("b/k/b1.csv", d1, 1, "b1", Seq.empty,
      deleted = false, 3L, date(d1))).toDS(), "files")
    def listing(sub: String): Map[String, Seq[java.nio.file.Path]] = {
      val dirs = Files.list(java.nio.file.Paths.get(dir, sub)).iterator().asScala
        .filter(Files.isDirectory(_)).toSeq
      dirs.map(d => d.getFileName.toString -> Files.list(d).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sorted).toMap
    }
    val sparkDirs = listing("batches").keySet

    val ledger = new Ledger(spark, dir)
    ledger.appendBatch(rec("b1", BatchStatus.Complete, at = d1 + 1))
    ledger.appendBatch(rec("b2", BatchStatus.Error, at = d2 + 1))
    ledger.appendFiles(Seq(ProcessedFile("b/k/b2.csv", d2, 1, Some("b2"))), d2)
    // the driver appends joined Spark's own eventDate= directories
    val after = listing("batches")
    assert(after.keySet == sparkDirs && sparkDirs.size == 2)
    assert(after.values.forall(_.size == 2))
    assert(listing("files").keySet.size == 2)
    // same parquet schema and footer metadata whichever path wrote a file
    val conf = spark.sparkContext.hadoopConfiguration
    def footer(p: java.nio.file.Path) = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf))
      try {
        val m = r.getFooter.getFileMetaData
        (m.getSchema, m.getKeyValueMetaData.asScala.toMap)
      } finally r.close()
    }
    after.values.foreach { files =>
      val Seq(a, b) = files.map(footer)
      assert(a == b)
    }
    // seq resumed past the fixture's events: appends win every tie
    assert(ledger.batchLog.collect().map(_.seq).sorted.toSeq == Seq(1L, 2L, 4L, 5L))
    val states = () => ledger.currentBatches.collect().map(r =>
      r.getAs[String]("batchId") -> r.getAs[String]("status")).toMap
    assert(states() == Map("b1" -> "complete", "b2" -> "error"))
    assert(ledger.processedFiles.collect().map(_.getAs[String]("loadFile")).toSet ==
      Set("b/k/b1.csv", "b/k/b2.csv"))
    ledger.compact()
    assert(ledger.batchLog.count() == 2)
    assert(states() == Map("b1" -> "complete", "b2" -> "error"))
    assert(ledger.processedFiles.count() == 2)
  }

  test("ledger: corrupted log surfaces an error instead of reading empty") {
    val dir = Files.createTempDirectory("graft-ledger").toString
    val ledger = new Ledger(spark, dir)
    ledger.appendBatch(rec("b1", BatchStatus.Open))
    // stomp a parquet footer
    val parts = Files.walk(java.nio.file.Paths.get(dir, "batches")).iterator()
    val part = Iterator.continually(parts).takeWhile(_ => parts.hasNext)
      .map(_.next()).find(_.toString.endsWith(".parquet")).get
    Files.write(part, Array.fill[Byte](16)(0x00))
    intercept[Exception](ledger.currentBatches.collect())
  }

  test("ledger: compaction keeps current state, bounds file count") {
    val dir = Files.createTempDirectory("graft-ledger").toString
    val ledger = new Ledger(spark, dir)
    (1 to 6).foreach(i => ledger.appendBatch(rec("b1", BatchStatus.Open, at = 1000L + i)))
    ledger.appendBatch(rec("b1", BatchStatus.Complete, at = 2000))
    ledger.appendBatch(rec("b2", BatchStatus.Open, at = 2000))
    ledger.appendFile(ProcessedFile("b/k/f1.csv", 1000, 1, Some("b1")), 1000)
    ledger.compact()
    assert(ledger.batchLog.count() == 2) // history folded to latest state
    val cur = ledger.currentBatches.collect().map(r =>
      r.getAs[String]("batchId") -> r.getAs[String]("status")).toMap
    assert(cur == Map("b1" -> "complete", "b2" -> "open"))
    assert(ledger.processedFiles.count() == 1)
    // appends still work post-compaction and win over compacted state
    ledger.appendBatch(rec("b2", BatchStatus.Locked, at = 3000))
    assert(ledger.describeBatch("b/k", "b2").collect().head
      .getAs[String]("status") == "locked")
  }

  test("keystore: AES-GCM round-trips single/array/map; wrong context fails (kmsCrypto parity)") {
    val dir = Files.createTempDirectory("graft-keys").toString
    val ks = Keystore(dir)
    val ct = ks.encrypt("secret-password")
    assert(ct != "secret-password" && ks.decrypt(ct) == "secret-password")
    // fresh ciphertexts differ (random IV) but both decrypt
    val ct2 = ks.encrypt("secret-password")
    assert(ct != ct2 && ks.decrypt(ct2) == "secret-password")
    assert(ks.decryptAll(ks.encryptAll(Seq("a", "b"))) == Seq("a", "b"))
    assert(ks.decryptMap(ks.encryptMap(Map("u" -> "p"))) == Map("u" -> "p"))
    // same key file, different AAD context → auth failure, like
    // mismatched KMS EncryptionContext
    val other = new Keystore(java.nio.file.Paths.get(dir, "graft-master.key"), "other-module")
    intercept[Exception](other.decrypt(ct))
  }

  test("ops: resetCurrentBatch clears the config marker (resetCurrentBatch.js parity)") {
    val store = new graft.config.ConfigStore(
      Files.createTempDirectory("graft-rcb").toString)
    store.put(LoadConfig(s3Prefix = "b/k", currentBatch = "b-123"))
    val ops = new Ops(spark, freshLedger())
    assert(ops.resetCurrentBatch(store, "b/k").ok)
    assert(store.get("b/k").get.currentBatch == "")
    assert(!ops.resetCurrentBatch(store, "missing").ok)
  }
}
