package graft

import java.nio.file.{Files, Path => NioPath, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.DriverManager
import scala.jdk.CollectionConverters._
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.ledger.Ledger
import graft.notify.CollectingNotifier
import graft.sources.FileEventSource

/** The loader's control plane starts no process on local paths. Without
  * native Hadoop, Hadoop's local file system starts a `chmod` for every
  * file and directory it makes and `FileContext` `readlink`s for every
  * rename, all on the micro-batch thread. Under a JFR recording of
  * `jdk.ProcessStart` this spec runs a pipeline through a count flush and
  * an age flush, a ledger compaction, and writes a manifest-bearing
  * ledger, a tick marker and an unlink marker; no recorded process start
  * may have graft or a checkpoint manager on its stack. The files it
  * wrote then carry the modes Hadoop's own local file system gives.
  */
class ProcessStartSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private val name = "procstart"
  private lazy val root = Files.createTempDirectory(s"graft-$name").toString
  private lazy val ledgerDir = Files.createTempDirectory(s"graft-$name-ledger").toString

  /** A process start JFR recorded: its command line and its stack,
    * innermost frame first, as `Class.method`. */
  private final case class Start(command: String, frames: Seq[String])

  /** Every process start JFR records while `body` runs. The spec then
    * starts a `true` of its own and waits for the stream to deliver it:
    * the stream delivers events in order, so every start `body` caused
    * has arrived by then, and the sentinel shows the recording works. */
  private def recordStarts(body: => Unit): Seq[Start] = {
    val sentinel = s"graft-jfr-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Start]
    val done = new java.util.concurrent.CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", e => {
        val s = Start(e.getString("command"), Option(e.getStackTrace).toSeq.flatMap(
          _.getFrames.asScala.map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")))
        if (s.command.contains(sentinel)) done.countDown() else seen.add(s)
      })
      rs.startAsync()
      body
      new ProcessBuilder("true", sentinel).start().waitFor()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the recording delivered the spec's own process start")
    } finally rs.close()
    seen.asScala.toSeq
  }

  /** The recorded run: three one-row files under a batch size of 2 (a
    * count flush, then an age flush through a tick marker), a ledger
    * compaction, and one unlink marker and one tick marker written by
    * hand. */
  private lazy val starts: Seq[Start] = {
    val url = s"jdbc:derby:memory:$name;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(s"CREATE TABLE $name(column_a INT)")
    Files.createDirectories(Paths.get(s"$root/bucket/input"))
    val cfg = LoadConfig(s3Prefix = "bucket/input", dataFormat = DataFormat.Csv,
      batchSize = 2, batchTimeoutSecs = Some(1), targets = Seq(LoadTarget(url, "", "", name)))
    val ckpt = Files.createTempDirectory(s"graft-$name-ckpt").toString
    val ledger = new Ledger(spark, ledgerDir)
    def rows(): Long = {
      val rs = conn.createStatement().executeQuery(s"SELECT count(*) FROM $name")
      try { rs.next(); rs.getLong(1) } finally rs.close()
    }
    def completes(): Long =
      try ledger.queryBatches("complete").count() catch { case _: Throwable => 0L }
    spark.range(1).count() // the session's own start-up is not under test
    recordStarts {
      val q = Pipeline.start(spark,
        Pipeline.Settings(root, ledgerDir, ckpt, triggerInterval = "200 milliseconds",
          schemas = Map(name -> StructType(Seq(StructField("column_a", IntegerType))))),
        Map("bucket/input" -> cfg), new CollectingNotifier)
      try {
        (0 until 3).foreach(i =>
          Files.write(Paths.get(s"$root/bucket/input/s$i.csv"), s"$i\n".getBytes))
        val deadline = System.currentTimeMillis() + 120000
        while ((rows() < 3 || completes() < 2) && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        assert(rows() == 3 && completes() == 2, "a count flush and an age flush loaded")
        StreamProgress.awaitTriggers(q, 2)
      } finally q.stop()
      ledger.compact()
      val conf = spark.sparkContext.hadoopConfiguration
      FileEventSource.writeUnlinkMarker(conf, root, "bucket/input/s0.csv")
      FileEventSource.writeControlMarker(conf, root, s"${FileEventSource.TickKey}spec/1-marker")
    }
  }

  test("no process start on the control plane has graft or a checkpoint manager on its stack") {
    val ours = starts.filter(
      _.frames.exists(f => f.startsWith("graft.") || f.contains("CheckpointFileManager")))
    assert(ours.isEmpty, s"${ours.size} process starts from the control plane, first: " +
      ours.take(3).map(s => s"${s.command} at ${s.frames.take(30).mkString(" <- ")}").mkString("; "))
  }

  private def mode(p: NioPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def tree(dir: String): Seq[NioPath] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.toSeq.filterNot(_ == Paths.get(dir)) finally s.close()
  }

  test("part files, eventDate directories, manifests and markers keep Hadoop's modes") {
    starts
    // what Hadoop's own local file system writes under the same configuration
    val conf = spark.sparkContext.hadoopConfiguration
    val probeDir = Files.createTempDirectory(s"graft-$name-probe")
    val stock = FileSystem.getLocal(conf)
    val probe = new Path(probeDir.toString, "d/f")
    stock.create(probe, true).close()
    val (fileMode, dirMode) = (mode(Paths.get(probe.toUri.getPath)), mode(probeDir.resolve("d")))

    val ledgerFiles = tree(ledgerDir)
    val parts = ledgerFiles.filter(_.getFileName.toString.startsWith("part-"))
    val dates = ledgerFiles.filter(_.getFileName.toString.startsWith("eventDate="))
    val manifests = ledgerFiles.filter(_.getFileName.toString.endsWith(".json"))
    val crcs = ledgerFiles.filter(_.getFileName.toString.endsWith(".crc"))
    val markers = tree(s"$root/${FileEventSource.ControlDir}")
    assert(parts.nonEmpty && dates.nonEmpty && manifests.size == 2 && crcs.nonEmpty)
    assert(markers.exists(_.toString.contains("unlink")) && markers.exists(_.toString.contains("1-marker")))
    for (f <- parts ++ manifests ++ crcs ++ markers.filter(Files.isRegularFile(_)))
      assert(mode(f) == fileMode, s"$f")
    for (d <- dates ++ markers.filter(Files.isDirectory(_)) :+ Paths.get(s"$ledgerDir/manifests"))
      assert(mode(d) == dirMode, s"$d")
  }
}
