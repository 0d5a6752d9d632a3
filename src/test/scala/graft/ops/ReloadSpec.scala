package graft.ops

import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.ledger.Ledger
import graft.streaming.Batcher
import graft.GraftSession

class ReloadSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  test("reloadBatch loads an errored batch's files under a fresh id (T7/T8)") {
    val root = Files.createTempDirectory("graft-reload").toString
    Files.createDirectories(Paths.get(s"$root/bucket/input"))
    Files.write(Paths.get(s"$root/bucket/input/a.csv"), "1|2|3\n".getBytes)
    Files.write(Paths.get(s"$root/bucket/input/b.csv"), "4|5|6\n".getBytes)
    val url = "jdbc:derby:memory:reload;create=true"
    val c0 = DriverManager.getConnection(url)
    c0.createStatement().execute("CREATE TABLE rl(a INT, b INT, c INT)")
    val schema = StructType(Seq("a", "b", "c").map(StructField(_, IntegerType)))
    val cfg = LoadConfig("bucket/input", DataFormat.Csv, csvDelimiter = "|",
      targets = Seq(LoadTarget(url, "", "", "rl")))
    val ledger = new Ledger(spark, Files.createTempDirectory("graft-reload-l").toString)
    val ops = new Ops(spark, ledger)
    // an errored batch in the ledger whose files exist on disk
    ledger.appendBatch(BatchRecord("bucket/input", "bad1", BatchStatus.Error.name,
      Seq(BatchEntry("bucket/input/a.csv", 6, 0), BatchEntry("bucket/input/b.csv", 6, 0)),
      12, System.currentTimeMillis()))

    val r = ops.reloadBatch("bucket/input", "bad1", cfg, root, Some(schema))
    assert(r.ok, r.message)
    val rs = c0.createStatement().executeQuery("SELECT count(*), sum(a+b+c) FROM rl")
    rs.next()
    assert(rs.getLong(1) == 2 && rs.getLong(2) == 21)
    // original batch stamped reprocessed; reload batch recorded complete
    assert(ledger.describeBatch("bucket/input", "bad1")
      .collect().head.getAs[String]("status") == "reprocessed")
    assert(ledger.queryBatches("complete").count() == 1)
    // guard: reloading an open batch refuses
    ledger.appendBatch(BatchRecord("bucket/input", "open1", BatchStatus.Open.name,
      Seq(BatchEntry("bucket/input/a.csv", 6, 0)), 6, System.currentTimeMillis()))
    assert(!ops.reloadBatch("bucket/input", "open1", cfg, root, Some(schema)).ok)
  }

  test("no cap: the first of 100,010 admitted files is still a duplicate") {
    val cfg = LoadConfig("b/in", batchSize = 1000000)
    val configs = Map("b/in" -> cfg)
    val n = 100000 + 10
    val events = (1 to n).iterator.map(i => FileEvent("b", s"in/f$i.csv", 1, 1000L))
    val (st, seen, _) = Batcher.processPrefix(configs, () => 1000L)(
      "b/in", events, Batcher.initialState(), Set.empty)
    assert(seen.size == n)
    assert(seen.contains("b/in/f1.csv") && seen.contains(s"b/in/f$n.csv"))
    // a re-delivery of the oldest admission is counted, not admitted again
    val (again, seenAgain, flushes) = Batcher.processPrefix(configs, () => 2000L)(
      "b/in", Iterator(FileEvent("b", "in/f1.csv", 1, 2000L)), st, seen)
    assert(flushes.isEmpty)
    assert(again == st && again.entries.size == n, "the re-delivery is not admitted")
    assert(seenAgain == seen)
  }
}
