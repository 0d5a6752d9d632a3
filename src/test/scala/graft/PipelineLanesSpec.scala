package graft

import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.ledger.Ledger
import graft.notify.{CollectingNotifier, Notification}

/** Lanes: a trigger's flushes split into connected components of shared
  * targets, the components loaded at the same time, joined before the
  * trigger returns.
  */
class PipelineLanesSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def cmd(prefix: String, seq: Int): FlushCommand =
    FlushCommand(prefix, s"$prefix-$seq", Seq(BatchEntry(s"$prefix/f$seq.csv", 1L, 0L)),
      1L, FlushReason.Count.name, 0L)

  private def cfg(prefix: String, targets: (String, String)*): (String, LoadConfig) =
    prefix -> LoadConfig(s3Prefix = prefix, dataFormat = DataFormat.Csv,
      targets = targets.map { case (url, table) => LoadTarget(url, "", "", table) })

  private def ids(lanes: Seq[Seq[FlushCommand]]): Seq[Seq[String]] = lanes.map(_.map(_.batchId))

  test("lanes: disjoint targets give one lane per prefix") {
    val configs = Map(cfg("a", "jdbc:x" -> "t_a"), cfg("b", "jdbc:x" -> "t_b"),
      cfg("c", "jdbc:y" -> "t_a"))
    assert(ids(Pipeline.lanes(Seq(cmd("a", 1), cmd("b", 1), cmd("c", 1)), configs)) ==
      Seq(Seq("a-1"), Seq("b-1"), Seq("c-1")))
  }

  test("lanes: prefixes sharing a table, matched case-insensitively, share one lane in order") {
    val configs = Map(cfg("a", "jdbc:x" -> "Shared"), cfg("b", "jdbc:x" -> "SHARED"),
      cfg("c", "jdbc:x" -> "other"))
    assert(ids(Pipeline.lanes(Seq(cmd("b", 1), cmd("c", 1), cmd("a", 1)), configs)) ==
      Seq(Seq("b-1", "a-1"), Seq("c-1")))
    // a prefix loading both tables joins their lanes into one
    val bridged = configs + cfg("d", "jdbc:x" -> "shared", "jdbc:x" -> "OTHER")
    assert(ids(Pipeline.lanes(Seq(cmd("a", 1), cmd("c", 1), cmd("d", 1)), bridged)) ==
      Seq(Seq("a-1", "c-1", "d-1")))
  }

  test("lanes: batches of one prefix share one lane in batch order") {
    val configs = Map(cfg("a", "jdbc:x" -> "t_a"), cfg("b", "jdbc:x" -> "t_b"))
    assert(ids(Pipeline.lanes(
      Seq(cmd("a", 1), cmd("b", 1), cmd("a", 2), cmd("b", 2), cmd("a", 3)), configs)) ==
      Seq(Seq("a-1", "a-2", "a-3"), Seq("b-1", "b-2")))
  }

  private val schema = StructType(Seq(StructField("column_a", IntegerType)))

  /** Two prefixes, each loading its own table of one Derby database, with
    * one pre-written single-file batch each: the first trigger flushes
    * both, so they form two lanes of one trigger. */
  private final class TwoPrefixes(name: String) {
    val root: String = Files.createTempDirectory(s"graft-$name").toString
    val ledgerDir: String = Files.createTempDirectory(s"graft-$name-ledger").toString
    val ckpt: String = Files.createTempDirectory(s"graft-$name-ckpt").toString
    val url = s"jdbc:derby:memory:$name;create=true"
    val conn: java.sql.Connection = DriverManager.getConnection(url)
    Seq("a", "b").foreach { p =>
      conn.createStatement().execute(s"CREATE TABLE ${name}_$p(column_a INT)")
      Files.createDirectories(Paths.get(s"$root/bucket/$p"))
      Files.write(Paths.get(s"$root/bucket/$p/f.csv"), "1\n".getBytes)
    }
    val configs: Map[String, LoadConfig] = Seq("a", "b").map(p => s"bucket/$p" -> LoadConfig(
      s3Prefix = s"bucket/$p", dataFormat = DataFormat.Csv, batchSize = 1,
      successTopic = Some(s"arn:$p"),
      targets = Seq(LoadTarget(url, "", "", s"${name}_$p")))).toMap

    def start(a: CollectingNotifier, b: CollectingNotifier) =
      Pipeline.start(spark,
        Pipeline.Settings(root, ledgerDir, ckpt, triggerInterval = "1 second",
          schemas = Seq("a", "b").map(p => s"${name}_$p" -> schema).toMap),
        configs, new CollectingNotifier, topicNotifiers = Map("arn:a" -> a, "arn:b" -> b))

    def count(sql: String): Long = {
      val rs = conn.createStatement().executeQuery(sql)
      try { rs.next(); rs.getLong(1) } finally rs.close()
    }
  }

  private def awaitUntil(what: String, secs: Int)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + secs * 1000L
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(cond, what)
  }

  test("two prefixes' flushes of one trigger overlap in time") {
    val rig = new TwoPrefixes("lanesoverlap")
    // each notifier returns only once the other lane's has been reached:
    // run one after the other, the first would wait out its timeout
    val both = new CountDownLatch(2)
    final class Rendezvous extends CollectingNotifier {
      @volatile var met = false
      override def notify(n: Notification): Unit = {
        both.countDown()
        met = both.await(30, TimeUnit.SECONDS)
        super.notify(n)
      }
    }
    val (a, b) = (new Rendezvous, new Rendezvous)
    val q = rig.start(a, b)
    try {
      awaitUntil("both prefixes notified", 120)(a.received.nonEmpty && b.received.nonEmpty)
      assert(a.met && b.met, "the two lanes' notifications were in flight together")
      assert(a.received.map(_.status) == Seq("complete"))
      assert(b.received.map(_.status) == Seq("complete"))
    } finally q.stop()
  }

  test("stop() while lanes are blocked ends every lane before it returns") {
    val rig = new TwoPrefixes("lanesstop")
    val entered = new CountDownLatch(2)
    val laneThreads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    // blocks in delivery until interrupted; counts a delivery it completes
    final class Blocker extends CollectingNotifier {
      override def notify(n: Notification): Unit = {
        laneThreads.add(Thread.currentThread())
        entered.countDown()
        new CountDownLatch(1).await()
        super.notify(n)
      }
    }
    val (a, b) = (new Blocker, new Blocker)
    val q = rig.start(a, b)
    val ledger = new Ledger(spark, rig.ledgerDir)
    var rowsAtStop = -1L
    try {
      assert(entered.await(120, TimeUnit.SECONDS), "both lanes reached delivery")
      assert(q.isActive)
    } finally {
      q.stop()
      rowsAtStop = ledger.batchLog.count()
    }
    import scala.jdk.CollectionConverters._
    val threads = laneThreads.asScala.toSeq
    assert(threads.size == 2 && threads.distinct.size == 2)
    assert(threads.forall(_.getName.startsWith(Pipeline.LaneThreadPrefix)))
    assert(threads.forall(!_.isAlive), "no lane thread outlives stop()")
    // each lane wrote its locked and complete rows before it blocked;
    // nothing is written or delivered after stop() returns
    assert(rowsAtStop == 4)
    Thread.sleep(1000)
    assert(ledger.batchLog.count() == rowsAtStop)
    assert(a.received.isEmpty && b.received.isEmpty)
  }

  test("two prefixes load two tables of one database in one trigger: two registry rows") {
    val rig = new TwoPrefixes("lanesregistry")
    val (a, b) = (new CollectingNotifier, new CollectingNotifier)
    val q = rig.start(a, b)
    try {
      awaitUntil("both prefixes notified", 120)(a.received.nonEmpty && b.received.nonEmpty)
      assert((a.received ++ b.received).map(_.status) == Seq("complete", "complete"))
      assert(rig.count("SELECT count(*) FROM lanesregistry_a") == 1)
      assert(rig.count("SELECT count(*) FROM lanesregistry_b") == 1)
      assert(rig.count("SELECT count(*) FROM graft_batch_commits") == 2)
    } finally q.stop()
  }
}
