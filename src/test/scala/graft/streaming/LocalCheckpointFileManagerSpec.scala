package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import java.util.concurrent.CyclicBarrier
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, Pipeline, StreamProgress}
import graft.core._
import graft.notify.CollectingNotifier

/** [[LocalCheckpointFileManager]] is a drop-in for Spark's checkpoint
  * manager: the same atomic-create contract on local paths, checkpoints
  * that resume across the two managers, Spark's own choice on other
  * schemes, and an explicit session setting left alone. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def conf = new Configuration()

  private def dir(tag: String): Path =
    new Path(Files.createTempDirectory(s"graft-ckfm-$tag").toUri)

  private def write(fm: CheckpointFileManager, p: Path, s: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(s.getBytes(UTF_8))
    out.close()
  }

  private def read(p: Path): String = new String(Files.readAllBytes(Paths.get(p.toUri)), UTF_8)

  private def names(d: Path): Set[String] = {
    val s = Files.list(Paths.get(d.toUri))
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("a no-overwrite create over an existing file fails and keeps the original") {
    val d = dir("exists")
    val fm = new LocalCheckpointFileManager(d, conf)
    val p = new Path(d, "0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(read(p) == "first")
    write(fm, p, "third", overwrite = true)
    assert(read(p) == "third")
    assert(names(d) == Set("0"), "no temp file left behind")
  }

  test("of two racing creates of one batch file exactly one wins") {
    val d = dir("race")
    val fm = new LocalCheckpointFileManager(d, conf)
    val p = new Path(d, "7")
    (1 to 20).foreach { round =>
      val barrier = new CyclicBarrier(2)
      val outcomes = Seq("a", "b").map { who =>
        val out = fm.createAtomic(p, false)
        out.write(s"$who$round".getBytes(UTF_8))
        val t = new java.util.concurrent.FutureTask[Boolean](() => {
          barrier.await()
          try { out.close(); true } catch { case _: FileAlreadyExistsException => false }
        })
        new Thread(t).start()
        who -> t
      }.map { case (who, t) => who -> t.get() }
      val winners = outcomes.filter(_._2).map(_._1)
      assert(winners.size == 1, s"round $round: $outcomes")
      assert(read(p) == s"${winners.head}$round")
      assert(names(d) == Set("7"), "the loser's temp file is gone")
      fm.delete(p)
    }
  }

  test("cancel leaves neither the file nor its temp file") {
    val d = dir("cancel")
    val fm = new LocalCheckpointFileManager(d, conf)
    val out = fm.createAtomic(new Path(d, "3"), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close()
    assert(names(d).isEmpty)
  }

  test("delete removes the .crc Spark's FileContext manager leaves; list hides it") {
    val d = dir("crc")
    val p = new Path(d, "5")
    write(new FileContextBasedCheckpointFileManager(d, conf), p, "legacy", overwrite = false)
    assert(names(d) == Set("5", ".5.crc"), "the FileContext manager writes a checksum file")
    val fm = new LocalCheckpointFileManager(d, conf)
    assert(fm.list(d).map(_.getPath.getName).toSeq == Seq("5"))
    assert(new String(fm.open(p).readAllBytes(), UTF_8) == "legacy")
    fm.delete(p)
    assert(names(d).isEmpty)
  }

  test("a path of another scheme gets Spark's own manager") {
    val c = conf
    c.set("fs.flaky.impl", classOf[graft.ledger.FlakyRenameFileSystem].getName)
    val p = new Path("flaky:" + Files.createTempDirectory("graft-ckfm-flaky"))
    val fm = new LocalCheckpointFileManager(p, c)
    assert(fm.delegate.isInstanceOf[FileSystemBasedCheckpointFileManager],
      "a scheme without FileContext falls back as CheckpointFileManager.create does")
    assert(fm.delegate.getClass == CheckpointFileManager.create(p, c).getClass)
    assert(fm.delegate.isLocal == CheckpointFileManager.create(p, c).isLocal)
    assert(!new LocalCheckpointFileManager(dir("local"), c).delegate
      .isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("install leaves a session's explicit checkpoint manager alone") {
    val key = LocalCheckpointFileManager.ConfKey
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, classOf[FileSystemBasedCheckpointFileManager].getName)
      LocalCheckpointFileManager.install(spark)
      assert(spark.conf.get(key) == classOf[FileSystemBasedCheckpointFileManager].getName)
      spark.conf.unset(key)
      LocalCheckpointFileManager.install(spark)
      assert(spark.conf.get(key) == classOf[LocalCheckpointFileManager].getName)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Load one file under `first`'s manager, stop, restart the same
    * checkpoint under `second`'s and load one more: the restart resumes
    * the first run's offsets and every row lands once. */
  private def resume(tag: String, first: String, second: String): Unit = {
    val key = LocalCheckpointFileManager.ConfKey
    val before = spark.conf.getOption(key)
    val root = Files.createTempDirectory(s"graft-ckfm-$tag").toString
    val ledgerDir = Files.createTempDirectory(s"graft-ckfm-$tag-ledger").toString
    val ckpt = Files.createTempDirectory(s"graft-ckfm-$tag-ckpt").toString
    val url = s"jdbc:derby:memory:ckfm$tag;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(s"CREATE TABLE ckfm$tag(column_a INT)")
    Files.createDirectories(Paths.get(s"$root/bucket/input"))
    val cfg = LoadConfig(s3Prefix = "bucket/input", dataFormat = DataFormat.Csv,
      batchSize = 1, targets = Seq(LoadTarget(url, "", "", s"ckfm$tag")))
    def long(sql: String): Long = {
      val rs = conn.createStatement().executeQuery(sql)
      try { rs.next(); rs.getLong(1) } finally rs.close()
    }
    def run(manager: String, file: String, v: Int, rows: Long): Long = {
      spark.conf.set(key, manager)
      val q = Pipeline.start(spark,
        Pipeline.Settings(root, ledgerDir, ckpt, triggerInterval = "200 milliseconds",
          schemas = Map(s"ckfm$tag" -> StructType(Seq(StructField("column_a", IntegerType))))),
        Map("bucket/input" -> cfg), new CollectingNotifier)
      try {
        Files.write(Paths.get(s"$root/bucket/input/$file"), s"$v\n".getBytes)
        val deadline = System.currentTimeMillis() + 120000
        while (long(s"SELECT count(*) FROM ckfm$tag") < rows && System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        StreamProgress.awaitTriggers(q, 2)
        q.lastProgress.batchId
      } finally q.stop()
    }
    try {
      val firstBatch = run(first, "s0.csv", 1, 1)
      val offsetsAfterFirst = names(new Path(new java.io.File(ckpt, "offsets").toURI))
      val secondBatch = run(second, "s1.csv", 2, 2)
      assert(secondBatch > firstBatch, "the restart continued the checkpoint's batch ids")
      assert(names(new Path(new java.io.File(ckpt, "offsets").toURI)).filterNot(_.startsWith("."))
        .map(_.toLong).max > offsetsAfterFirst.filterNot(_.startsWith(".")).map(_.toLong).max)
      assert(long(s"SELECT count(*) FROM ckfm$tag") == 2 &&
        long(s"SELECT sum(column_a) FROM ckfm$tag") == 3, "every row landed once")
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a pipeline resumes a checkpoint written by Spark's default manager") {
    resume("fwd", classOf[FileContextBasedCheckpointFileManager].getName,
      classOf[LocalCheckpointFileManager].getName)
  }

  test("Spark's default manager resumes a checkpoint written by this one") {
    resume("back", classOf[LocalCheckpointFileManager].getName,
      classOf[FileContextBasedCheckpointFileManager].getName)
  }
}
