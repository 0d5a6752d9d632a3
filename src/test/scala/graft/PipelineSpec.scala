package graft

import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.ledger.Ledger
import graft.notify.CollectingNotifier

/** Grand end-to-end: files on disk → streaming discovery → stateful
  * batching → transactional Derby load → ledger + notifications. The
  * reference's sample walkthrough (sample/README.md) as one test.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  /** Manifest files in `dir`, without the `.crc` siblings a checksummed
    * Hadoop filesystem writes beside them. */
  private def jsonFiles(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".json")).toSeq
    finally s.close()
  }

  test("files → batches → Derby rows → ledger complete → success notifications") {
    val root = Files.createTempDirectory("graft-pipe").toString
    val ledgerDir = Files.createTempDirectory("graft-pipe-ledger").toString
    val ckpt = Files.createTempDirectory("graft-pipe-ckpt").toString
    Files.createDirectories(Paths.get(s"$root/bucket/input"))

    val url = "jdbc:derby:memory:pipespec;create=true"
    val c0 = DriverManager.getConnection(url)
    c0.createStatement().execute(
      "CREATE TABLE pipe_target(column_a INT, column_b INT, column_c INT)")

    val schema = StructType(Seq(
      StructField("column_a", IntegerType),
      StructField("column_b", IntegerType),
      StructField("column_c", IntegerType)))
    val cfg = LoadConfig(
      s3Prefix = "bucket/input", dataFormat = DataFormat.Csv, csvDelimiter = "|",
      batchSize = 2, batchTimeoutSecs = Some(10),
      successTopic = Some("arn:ok"),
      targets = Seq(LoadTarget(url, "", "", "pipe_target")))
    val notifier = new CollectingNotifier
    val okTopic = new CollectingNotifier

    // five sample files, values 7..36 (FIXTURES.md §1)
    (0 until 5).foreach { i =>
      val b = 7 + i * 6
      Files.write(Paths.get(s"$root/bucket/input/s$i.csv"),
        s"$b|${b + 1}|${b + 2}\n${b + 3}|${b + 4}|${b + 5}\n".getBytes)
    }

    val q = Pipeline.start(spark,
      Pipeline.Settings(root, ledgerDir, ckpt, triggerInterval = "1 second",
        schemas = Map("pipe_target" -> schema)),
      Map("bucket/input" -> cfg), notifier, topicNotifiers = Map("arn:ok" -> okTopic))

    try {
      def rows(): Long = {
        val rs = c0.createStatement().executeQuery("SELECT count(*) FROM pipe_target")
        rs.next(); val n = rs.getLong(1); rs.close(); n
      }
      val deadline = System.currentTimeMillis() + 120000
      while (rows() < 10 && System.currentTimeMillis() < deadline) Thread.sleep(500)
      assert(rows() == 10, "all five files (2 count-batches + 1 age batch) loaded")
      val rs = c0.createStatement().executeQuery(
        "SELECT sum(column_a)+sum(column_b)+sum(column_c) FROM pipe_target")
      rs.next(); assert(rs.getLong(1) == (7 to 36).sum)

      // the JDBC commit lands before the ledger append — poll the ledger
      // for the trailing batch instead of asserting immediately
      val ledger = new Ledger(spark, ledgerDir)
      def completeCount(): Long =
        try ledger.queryBatches("complete").count() catch { case _: Throwable => 0L }
      val ledgerDeadline = System.currentTimeMillis() + 60000
      while (completeCount() < 3 && System.currentTimeMillis() < ledgerDeadline)
        Thread.sleep(500)
      assert(completeCount() == 3)
      assert(ledger.processedFiles.count() == 5)
      // T12 routing: the configured successTopic receives the complete
      // notifications; the default notifier gets none
      assert(okTopic.received.count(_.status == "complete") == 3)
      assert(okTopic.received.forall(_.error.isEmpty))
      assert(notifier.received.isEmpty)
      // S5: every completed batch has a manifest audit artifact on disk
      assert(jsonFiles(s"$ledgerDir/manifests").size == 3)
    } finally q.stop()
  }

  test("failure path: error status, failed manifest, failureTopic routing + suppression (S12/T8/T12)") {
    val root = Files.createTempDirectory("graft-pipef").toString
    val ledgerDir = Files.createTempDirectory("graft-pipef-ledger").toString
    val ckpt = Files.createTempDirectory("graft-pipef-ckpt").toString
    Files.createDirectories(Paths.get(s"$root/bucket/inputa"))
    Files.createDirectories(Paths.get(s"$root/bucket/inputb"))
    val schema = StructType(Seq(StructField("column_a", IntegerType)))
    val badTarget = Seq(LoadTarget("jdbc:derby:memory:doesnotexist", "", "", "no_table"))
    // prefix A: no topic — failures land on the default notifier and retry
    val cfgA = LoadConfig(s3Prefix = "bucket/inputa", dataFormat = DataFormat.Csv,
      batchSize = 1, targets = badTarget)
    // prefix B: failureTopic routed to a SUPPRESSING notifier — delivery
    // downgrades the hard failure, so the T8 retry is not taken
    val cfgB = LoadConfig(s3Prefix = "bucket/inputb", dataFormat = DataFormat.Csv,
      batchSize = 1, failureTopic = Some("arn:fail"), targets = badTarget)
    val notifier = new CollectingNotifier
    val failTopic = new CollectingNotifier {
      override def suppressFailureOnDelivery: Boolean = true
    }
    Files.write(Paths.get(s"$root/bucket/inputa/f.csv"), "1\n".getBytes)
    Files.write(Paths.get(s"$root/bucket/inputb/g.csv"), "2\n".getBytes)

    val q = Pipeline.start(spark,
      Pipeline.Settings(root, ledgerDir, ckpt, triggerInterval = "1 second",
        schemas = Map("no_table" -> schema), maxAutoReprocess = 1),
      Map("bucket/inputa" -> cfgA, "bucket/inputb" -> cfgB), notifier,
      topicNotifiers = Map("arn:fail" -> failTopic))
    try {
      val deadline = System.currentTimeMillis() + 90000
      while ((notifier.received.size < 2 || failTopic.received.isEmpty) &&
             System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      // let the trigger in flight end, and one more run, so any trailing
      // auto-reprocess attempt has finished
      StreamProgress.awaitTriggers(q, 2)
      // default notifier saw ONLY prefix A: one failure + one auto-retry
      assert(notifier.received.size == 2)
      assert(notifier.received.forall(n =>
        n.s3Prefix == "bucket/inputa" && n.status == "error" &&
          n.error.isDefined && n.failedManifest.isDefined))
      // configured failureTopic saw ONLY prefix B, and its delivered
      // failure suppressed the retry → exactly one notification
      assert(failTopic.received.size == 1)
      assert(failTopic.received.forall(n =>
        n.s3Prefix == "bucket/inputb" && n.status == "error"))
      assert(jsonFiles(s"$ledgerDir/failed-manifests").size >= 2)
      val ledger = new Ledger(spark, ledgerDir)
      assert(ledger.queryBatches("error").count() == 2)
    } finally q.stop()
  }

  test("error batch notifies BOTH topics; success topic is unconditional (index.js:1507-1541)") {
    val root = Files.createTempDirectory("graft-pipeb").toString
    val ledgerDir = Files.createTempDirectory("graft-pipeb-ledger").toString
    val ckpt = Files.createTempDirectory("graft-pipeb-ckpt").toString
    Files.createDirectories(Paths.get(s"$root/bucket/inputa"))
    Files.createDirectories(Paths.get(s"$root/bucket/inputb"))
    val schema = StructType(Seq(StructField("column_a", IntegerType)))
    val badTarget = Seq(LoadTarget("jdbc:derby:memory:doesnotexist", "", "", "no_table"))
    // prefix A: both topics configured — an error reaches BOTH
    val cfgA = LoadConfig(s3Prefix = "bucket/inputa", dataFormat = DataFormat.Csv,
      batchSize = 1, successTopic = Some("arn:okA"), failureTopic = Some("arn:failA"),
      targets = badTarget)
    // prefix B: ONLY a success topic — the failure leg falls back to the
    // default notifier, and the success topic still sees the error status
    val cfgB = LoadConfig(s3Prefix = "bucket/inputb", dataFormat = DataFormat.Csv,
      batchSize = 1, successTopic = Some("arn:okB"), targets = badTarget)
    val notifier = new CollectingNotifier
    val okA = new CollectingNotifier
    val failA = new CollectingNotifier
    val okB = new CollectingNotifier
    Files.write(Paths.get(s"$root/bucket/inputa/f.csv"), "1\n".getBytes)
    Files.write(Paths.get(s"$root/bucket/inputb/g.csv"), "2\n".getBytes)

    val q = Pipeline.start(spark,
      Pipeline.Settings(root, ledgerDir, ckpt, triggerInterval = "1 second",
        schemas = Map("no_table" -> schema), maxAutoReprocess = 0),
      Map("bucket/inputa" -> cfgA, "bucket/inputb" -> cfgB), notifier,
      topicNotifiers = Map("arn:okA" -> okA, "arn:failA" -> failA, "arn:okB" -> okB))
    try {
      val deadline = System.currentTimeMillis() + 90000
      while ((okA.received.isEmpty || okB.received.isEmpty || failA.received.isEmpty ||
              notifier.received.isEmpty) && System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      assert(failA.received.map(n => (n.s3Prefix, n.status)) == Seq(("bucket/inputa", "error")))
      assert(okA.received.map(n => (n.s3Prefix, n.status)) == Seq(("bucket/inputa", "error")),
        "success topic subscribers see error-status batches too")
      assert(okB.received.map(n => (n.s3Prefix, n.status)) == Seq(("bucket/inputb", "error")))
      assert(notifier.received.map(n => (n.s3Prefix, n.status)) == Seq(("bucket/inputb", "error")),
        "default notifier carries only the unconfigured failure leg")
    } finally q.stop()
  }

  test("a file: URI ledger dir keeps the ledger and its manifests under that path") {
    val root = Files.createTempDirectory("graft-pipeu").toString
    val ledgerPath = Files.createTempDirectory("graft-pipeu-ledger").toString
    val ledgerDir = s"file://$ledgerPath"
    val ckpt = Files.createTempDirectory("graft-pipeu-ckpt").toString
    Files.createDirectories(Paths.get(s"$root/bucket/input"))
    val url = "jdbc:derby:memory:pipeuri;create=true"
    val c0 = DriverManager.getConnection(url)
    c0.createStatement().execute("CREATE TABLE uri_target(column_a INT)")
    val cfg = LoadConfig(s3Prefix = "bucket/input", dataFormat = DataFormat.Csv,
      batchSize = 1, targets = Seq(LoadTarget(url, "", "", "uri_target")))
    Files.write(Paths.get(s"$root/bucket/input/u.csv"), "5\n".getBytes)

    val q = Pipeline.start(spark,
      Pipeline.Settings(root, ledgerDir, ckpt, triggerInterval = "1 second",
        schemas = Map("uri_target" -> StructType(Seq(StructField("column_a", IntegerType))))),
      Map("bucket/input" -> cfg), new CollectingNotifier)
    try {
      val ledger = new Ledger(spark, ledgerDir)
      def complete(): Array[org.apache.spark.sql.Row] =
        try ledger.queryBatches("complete").collect() catch { case _: Throwable => Array.empty }
      val deadline = System.currentTimeMillis() + 90000
      while (complete().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(500)
      val batchId = complete().head.getAs[String]("batchId")
      // the manifest lands beside the ledger, not in a relative
      // directory named after the URI
      assert(jsonFiles(s"$ledgerPath/manifests") == Seq(s"$batchId.json"))
      assert(Files.readString(Paths.get(s"$ledgerPath/manifests/$batchId.json"))
        .contains("bucket/input/u.csv"))
      val manifestFile = ledger.describeBatch("bucket/input", batchId).collect().head
        .getAs[String]("manifestFile")
      assert(Paths.get(new java.net.URI(manifestFile)) ==
        Paths.get(s"$ledgerPath/manifests/$batchId.json"))
    } finally q.stop()
  }
}
