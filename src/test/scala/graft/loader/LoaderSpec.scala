package graft.loader

import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** End-to-end load tests against embedded Derby — the closest local
  * stand-in for the reference's Redshift target. Reproduces the sample
  * acceptance scenario (FIXTURES.md §1: five pipe-delimited 2-row CSVs
  * into a 3-int-column table).
  */
class LoaderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dbUrl = "jdbc:derby:memory:loaderspec;create=true"

  private def sql(q: String): Unit = {
    val c = DriverManager.getConnection(dbUrl)
    try { val s = c.createStatement(); try s.execute(q) finally s.close() }
    finally c.close()
  }
  private def queryLong(q: String): Long = {
    val c = DriverManager.getConnection(dbUrl)
    try {
      val s = c.createStatement()
      try { val rs = s.executeQuery(q); rs.next(); rs.getLong(1) } finally s.close()
    } finally c.close()
  }

  private lazy val root: String = {
    val dir = Files.createTempDirectory("graft-loader").toString
    Files.createDirectories(Paths.get(s"$dir/bucket/input"))
    // sample/data values 7..36: file i holds rows (6i+1,..) — FIXTURES.md §1
    (0 until 5).foreach { i =>
      val base = 7 + i * 6
      Files.write(Paths.get(s"$dir/bucket/input/sample$i.csv"),
        s"$base|${base + 1}|${base + 2}\n${base + 3}|${base + 4}|${base + 5}\n".getBytes)
    }
    dir
  }

  private val schema = StructType(Seq(
    StructField("column_a", IntegerType),
    StructField("column_b", IntegerType),
    StructField("column_c", IntegerType)))

  private def target(table: String, presql: Option[String] = None,
                     postsql: Option[String] = None, truncate: Boolean = false) =
    LoadTarget(dbUrl, "", "", table, truncateTarget = truncate,
      presql = presql, postsql = postsql)

  private val cfg = LoadConfig(
    s3Prefix = "bucket/input", dataFormat = DataFormat.Csv,
    csvDelimiter = "|", batchSize = 2)

  private def cmd(id: String, files: Seq[String]) =
    FlushCommand("bucket/input", id,
      files.map(f => BatchEntry(s"bucket/input/$f", 24, 1000L)), 24L * files.size, "count", 2000L)

  test("sample acceptance: two batches of two files load 8 rows transactionally") {
    sql("CREATE TABLE lambda_sample(column_a INT, column_b INT, column_c INT)")
    val c = cfg.copy(targets = Seq(target("lambda_sample")))
    val out1 = Loader.loadBatch(spark, c, cmd("b1", Seq("sample0.csv", "sample1.csv")), root, Some(schema))
    val out2 = Loader.loadBatch(spark, c, cmd("b2", Seq("sample2.csv", "sample3.csv")), root, Some(schema))
    assert(out1.status == "complete" && out2.status == "complete")
    assert(out1.results.head.rows == 4 && out2.results.head.rows == 4)
    assert(queryLong("SELECT count(*) FROM lambda_sample") == 8)
    // loaded values are exactly rows 7..30
    assert(queryLong("SELECT sum(column_a)+sum(column_b)+sum(column_c) FROM lambda_sample") == (7 to 30).sum)
    // staging drained
    assert(queryLong("SELECT count(*) FROM lambda_sample_graft_stage") == 0)
  }

  test("replayed batch is a no-op (exactly-once under foreachBatch retry)") {
    sql("CREATE TABLE replay_t(column_a INT, column_b INT, column_c INT)")
    val c = cfg.copy(targets = Seq(target("replay_t")))
    val first = Loader.loadBatch(spark, c, cmd("rb1", Seq("sample0.csv")), root, Some(schema))
    assert(first.status == "complete" && !first.results.head.skipped)
    val replay = Loader.loadBatch(spark, c, cmd("rb1", Seq("sample0.csv")), root, Some(schema))
    assert(replay.status == "complete" && replay.results.head.skipped)
    assert(queryLong("SELECT count(*) FROM replay_t") == 2)
  }

  test("presql/postsql run inside the same transaction; truncate honored (T10)") {
    sql("CREATE TABLE hooks_t(column_a INT, column_b INT, column_c INT)")
    sql("CREATE TABLE hook_log(tag VARCHAR(20))")
    sql("INSERT INTO hooks_t VALUES (999, 999, 999)") // should be truncated away
    val c = cfg.copy(targets = Seq(target("hooks_t",
      presql = Some("INSERT INTO hook_log VALUES ('pre')"),
      postsql = Some("INSERT INTO hook_log VALUES ('post')"),
      truncate = true)))
    val out = Loader.loadBatch(spark, c, cmd("hb1", Seq("sample0.csv")), root, Some(schema))
    assert(out.status == "complete")
    assert(queryLong("SELECT count(*) FROM hooks_t") == 2)
    assert(queryLong("SELECT count(*) FROM hooks_t WHERE column_a = 999") == 0)
    assert(queryLong("SELECT count(*) FROM hook_log") == 2)
  }

  test("failed postsql rolls back the whole transaction (A4 error fold)") {
    sql("CREATE TABLE rollback_t(column_a INT, column_b INT, column_c INT)")
    val c = cfg.copy(targets = Seq(target("rollback_t",
      postsql = Some("INSERT INTO does_not_exist VALUES (1)"))))
    val out = Loader.loadBatch(spark, c, cmd("fb1", Seq("sample0.csv")), root, Some(schema))
    assert(out.status == "error")
    assert(out.results.head.error.isDefined)
    assert(queryLong("SELECT count(*) FROM rollback_t") == 0)
    // a later good batch with a new id still loads (registry rolled back too)
    val ok = Loader.loadBatch(spark, c.copy(targets = Seq(target("rollback_t"))),
      cmd("fb2", Seq("sample1.csv")), root, Some(schema))
    assert(ok.status == "complete")
    assert(queryLong("SELECT count(*) FROM rollback_t") == 2)
  }

  test("an interrupted loadBatch propagates the interrupt instead of an error outcome") {
    // query.stop() interrupts the micro-batch thread while it waits on
    // the target fan-out: the batch must replay on restart, not be
    // recorded (and notified, and auto-reprocessed) as an error
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var outcome: Either[Throwable, Loader.BatchLoadOutcome] = null
    val loading = new Thread(() =>
      outcome =
        try Right(Loader.loadBatch(spark, cfg.copy(targets = Seq(target("interrupt_t"))),
          cmd("ib1", Seq("sample0.csv")), root, Some(schema),
          skipTarget = _ => { entered.countDown(); release.await(); true }))
        catch { case e: Throwable => Left(e) })
    loading.start()
    try {
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
      loading.interrupt()
      loading.join(60000)
    } finally release.countDown()
    assert(!loading.isAlive)
    assert(outcome.left.exists(_.isInstanceOf[InterruptedException]), s"got $outcome")
  }

  test("multi-target fan-out: one bad target fails the batch, good target still commits (§7.5.7 wart)") {
    sql("CREATE TABLE fan_good(column_a INT, column_b INT, column_c INT)")
    val bad = LoadTarget("jdbc:derby:memory:nonexistent", "", "", "fan_bad")
    val c = cfg.copy(targets = Seq(target("fan_good"), bad))
    val out = Loader.loadBatch(spark, c, cmd("mb1", Seq("sample0.csv")), root, Some(schema))
    assert(out.status == "error")
    assert(out.results.count(_.ok) == 1 && out.results.count(!_.ok) == 1)
    // faithful to the reference: the good cluster keeps its data
    assert(queryLong("SELECT count(*) FROM fan_good") == 2)
  }

  test("per-(file,target) dedup flag: retry after partial failure loads ONLY the failed target (§7.5.7 fix)") {
    // second target lives in its OWN database (clusters are separate
    // DBs); its table doesn't exist yet, so the first attempt fails
    val fixUrl = "jdbc:derby:memory:ptfix;create=true"
    def sqlAt(url: String, q: String): Unit = {
      val c = DriverManager.getConnection(url)
      try { val s = c.createStatement(); try s.execute(q) finally s.close() }
      finally c.close()
    }
    def countAt(url: String, table: String): Long = {
      val c = DriverManager.getConnection(url)
      try {
        val s = c.createStatement()
        try { val rs = s.executeQuery(s"SELECT count(*) FROM $table"); rs.next(); rs.getLong(1) }
        finally s.close()
      } finally c.close()
    }
    sql("CREATE TABLE pt_good(column_a INT, column_b INT, column_c INT)")
    val other = LoadTarget(fixUrl, "", "", "pt_other")
    val c = cfg.copy(targets = Seq(target("pt_good"), other))
    val files = Seq("sample0.csv")
    val ledgerDir = Files.createTempDirectory("graft-pt-ledger").toString
    val ledger = new graft.ledger.Ledger(spark, ledgerDir)

    val out1 = Loader.loadBatch(spark, c, cmd("pt1", files), root, Some(schema))
    assert(out1.status == "error", "pt_other's table is missing — partial failure")
    assert(queryLong("SELECT count(*) FROM pt_good") == 2)
    // record what Pipeline records under the flag: (file, target) facts
    // for the target that committed
    ledger.appendTargetFiles(
      for {
        (t, r) <- c.targets.zip(out1.results) if r.ok && !r.skipped
        e <- cmd("pt1", files).entries
      } yield (e.file, t.jdbcUrl, t.targetTable, "pt1"),
      System.currentTimeMillis())

    // reprocess forms a NEW batch of the same files; the fixed target
    // must load, the committed one must be gated off
    sqlAt(fixUrl, "CREATE TABLE pt_other(column_a INT, column_b INT, column_c INT)")
    val done = ledger.targetsFullyLoaded(cmd("pt1", files).entries.map(_.file))
    assert(done == Set((dbUrl, "pt_good")))
    val out2 = Loader.loadBatch(spark, c, cmd("pt2", files), root, Some(schema),
      skipTarget = t => done.contains((t.jdbcUrl, t.targetTable)))
    assert(out2.status == "complete")
    assert(out2.results.head.skipped && out2.results.head.ok,
      "the committed target must be skipped, not re-loaded")
    assert(queryLong("SELECT count(*) FROM pt_good") == 2,
      "per-target gate must prevent the double load")
    assert(countAt(fixUrl, "pt_other") == 2, "the failed target must load on retry")

    // DEFAULT behavior unchanged — the reference's faithful wart: a
    // reprocess without the gate re-loads the committed cluster
    val out3 = Loader.loadBatch(spark, c, cmd("pt3", files), root, Some(schema))
    assert(out3.status == "complete")
    assert(queryLong("SELECT count(*) FROM pt_good") == 4,
      "default path must keep the reference's per-file-only dedup")
  }

  test("column list reorders into target columns (S6 COPY (cols))") {
    sql("CREATE TABLE colmap_t(x INT, y INT, z INT)")
    val t = target("colmap_t").copy(columnList = Some(Seq("z", "y", "x")))
    val c = cfg.copy(targets = Seq(t))
    val out = Loader.loadBatch(spark, c, cmd("cb1", Seq("sample0.csv")), root, Some(schema))
    assert(out.status == "complete")
    // sample0: first row 7|8|9 → z=7, y=8, x=9
    assert(queryLong("SELECT count(*) FROM colmap_t WHERE z = 7 AND y = 8 AND x = 9") == 1)
  }

  test("DECIMAL precision/scale survives the staging clone") {
    sql("CREATE TABLE dec_t(column_a INT, column_b DECIMAL(18,6), column_c VARCHAR(40))")
    val decSchema = StructType(Seq(
      StructField("column_a", IntegerType),
      StructField("column_b", DecimalType(18, 6)),
      StructField("column_c", StringType)))
    val d = Files.createTempDirectory("graft-dec").toString
    Files.createDirectories(Paths.get(s"$d/bucket/input"))
    Files.write(Paths.get(s"$d/bucket/input/dec.csv"),
      "1|123456789012.654321|x\n2|0.000001|y\n".getBytes)
    val c = cfg.copy(targets = Seq(target("dec_t")))
    val out = Loader.loadBatch(spark, c, cmd("dec1", Seq("dec.csv")), d, Some(decSchema))
    assert(out.status == "complete", out.results.head.error.getOrElse(""))
    // the fractional part must survive staging: a bare DECIMAL staging
    // column (scale 0) would have rounded both values
    val conn = DriverManager.getConnection(dbUrl)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT column_b FROM dec_t ORDER BY column_a")
      rs.next(); assert(rs.getBigDecimal(1) == new java.math.BigDecimal("123456789012.654321"))
      rs.next(); assert(rs.getBigDecimal(1) == new java.math.BigDecimal("0.000001"))
    } finally conn.close()
  }

  test("C11 incident override redirects a RUNNING pipeline at connection time") {
    // stored config points at DB "ovr_a"; the override (JVM-property form
    // of GRAFT_OVERRIDE_DBSTRING) points at DB "ovr_b" — rows must land
    // in b, proving resolution happens per-connection, not at setup
    val urlA = "jdbc:derby:memory:ovrspecA;create=true"
    val urlB = "jdbc:derby:memory:ovrspecB;create=true"
    def ddl(url: String): Unit = {
      val c = DriverManager.getConnection(url)
      try c.createStatement().execute(
        "CREATE TABLE ovr_t(column_a INT, column_b INT, column_c INT)")
      finally c.close()
    }
    ddl(urlA); ddl(urlB)
    val c = cfg.copy(targets = Seq(
      LoadTarget(urlA, "", "", "ovr_t")))
    System.setProperty(graft.config.Setup.OverrideEnvVar, urlB)
    try {
      val out = Loader.loadBatch(spark, c, cmd("ov1", Seq("sample0.csv")), root, Some(schema))
      assert(out.status == "complete")
    } finally System.clearProperty(graft.config.Setup.OverrideEnvVar)
    def count(url: String): Long = {
      val conn = DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery("SELECT count(*) FROM ovr_t")
        rs.next(); rs.getLong(1)
      } finally conn.close()
    }
    assert(count(urlB) == 2, "override target received the load")
    assert(count(urlA) == 0, "configured target untouched while override active")
  }

  test("manifest JSON matches reference shape (S5)") {
    val m = Manifest(Seq(ManifestEntry("file:/a/b.csv", mandatory = true, 24)))
    assert(Loader.manifestJson(m) ==
      """{"entries": [{"url": "file:/a/b.csv", "mandatory": true, "meta": {"content_length": 24}}]}""")
  }
}
