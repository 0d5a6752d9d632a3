package graft

import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.ledger.Ledger
import graft.notify.CollectingNotifier

/** Crash-recovery: stop the pipeline, restart it on the SAME
  * checkpoint + ledger, and prove exactly-once holds across the
  * restart — already-loaded files never reload (even if their path is
  * rewritten while the pipeline is down), files arriving after the
  * restart load once, and the ledger stays consistent. This is the
  * reference's failure-recovery contract (SURVEY §2.9 T5/T7) at the
  * whole-pipeline level.
  */
class PipelineRestartSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  test("restart from checkpoint: no reload of processed files, new files load once") {
    val root = Files.createTempDirectory("graft-restart").toString
    val ledgerDir = Files.createTempDirectory("graft-restart-ledger").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    Files.createDirectories(Paths.get(s"$root/bucket/input"))

    val url = "jdbc:derby:memory:restartspec;create=true"
    val c0 = DriverManager.getConnection(url)
    c0.createStatement().execute(
      "CREATE TABLE restart_target(column_a INT, column_b INT, column_c INT)")
    def rows(): Long = {
      val rs = c0.createStatement().executeQuery(
        "SELECT count(*) FROM restart_target")
      rs.next(); val n = rs.getLong(1); rs.close(); n
    }

    val schema = StructType(Seq(
      StructField("column_a", IntegerType),
      StructField("column_b", IntegerType),
      StructField("column_c", IntegerType)))
    val cfg = LoadConfig(
      s3Prefix = "bucket/input", dataFormat = DataFormat.Csv, csvDelimiter = "|",
      batchSize = 1,
      targets = Seq(LoadTarget(url, "", "", "restart_target")))
    val settings = Pipeline.Settings(root, ledgerDir, ckpt,
      triggerInterval = "1 second", schemas = Map("restart_target" -> schema))
    val notifier = new CollectingNotifier

    // phase 1: one file → one single-file batch loads (2 rows)
    Files.write(Paths.get(s"$root/bucket/input/s0.csv"),
      "1|2|3\n4|5|6\n".getBytes)
    val q1 = Pipeline.start(spark, settings, Map("bucket/input" -> cfg), notifier)
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (rows() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(500)
      assert(rows() == 2, "phase-1 file loaded")
    } finally q1.stop()

    // while down: rewrite the PROCESSED path and add a genuinely new file
    Files.write(Paths.get(s"$root/bucket/input/s0.csv"),
      "7|8|9\n10|11|12\n".getBytes)
    Files.write(Paths.get(s"$root/bucket/input/s1.csv"),
      "13|14|15\n".getBytes)

    // phase 2: restart on the same checkpoint + ledger
    val q2 = Pipeline.start(spark, settings, Map("bucket/input" -> cfg), notifier)
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (rows() < 3 && System.currentTimeMillis() < deadline) Thread.sleep(500)
      assert(rows() == 3, "exactly the new file's row arrived")
      // settle the trigger in flight and one more to catch any duplicate load
      StreamProgress.awaitTriggers(q2, 2)
      assert(rows() == 3, "processed file must not reload after restart")
      val rs = c0.createStatement().executeQuery(
        "SELECT sum(column_a)+sum(column_b)+sum(column_c) FROM restart_target")
      rs.next()
      assert(rs.getLong(1) == (1 + 2 + 3) + (4 + 5 + 6) + (13 + 14 + 15),
        "the rewritten content of the processed path must never land")

      // ledger appends land AFTER the JDBC commit and can be interrupted
      // by stop() (benign — the restart replays them), so poll with a
      // catch like PipelineSpec does rather than asserting immediately
      val ledger = new Ledger(spark, ledgerDir)
      def filesCount(): Long =
        try ledger.processedFiles.count() catch { case _: Throwable => 0L }
      def completeCount(): Long =
        try ledger.queryBatches("complete").count() catch { case _: Throwable => 0L }
      val ledgerDeadline = System.currentTimeMillis() + 60000
      while ((filesCount() < 2 || completeCount() < 2) &&
             System.currentTimeMillis() < ledgerDeadline) Thread.sleep(500)
      assert(filesCount() == 2, "one ledger row per path")
      assert(completeCount() == 2)
    } finally q2.stop()
  }
}
