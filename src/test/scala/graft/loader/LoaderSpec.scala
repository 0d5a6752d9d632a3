package graft.loader

import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.GraftSession

/** End-to-end load tests against embedded Derby — the closest local
  * stand-in for the reference's Redshift target. Reproduces the sample
  * acceptance scenario (FIXTURES.md §1: five pipe-delimited 2-row CSVs
  * into a 3-int-column table).
  */
class LoaderSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private val dbUrl = "jdbc:derby:memory:loaderspec;create=true"

  private def sqlAt(url: String, q: String): Unit = {
    val c = DriverManager.getConnection(url)
    try { val s = c.createStatement(); try s.execute(q) finally s.close() }
    finally c.close()
  }
  private def queryLongAt(url: String, q: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val s = c.createStatement()
      try { val rs = s.executeQuery(q); rs.next(); rs.getLong(1) } finally s.close()
    } finally c.close()
  }
  private def sql(q: String): Unit = sqlAt(dbUrl, q)
  private def queryLong(q: String): Long = queryLongAt(dbUrl, q)
  /** Names of the tables of `url` that match the `LIKE` pattern `like`
    * (Derby stores unquoted names in upper case). */
  private def tablesAt(url: String, like: String): Seq[String] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.getMetaData.getTables(null, null, like, null)
      try Iterator.continually(rs).takeWhile(_.next()).map(_.getString("TABLE_NAME")).toList
      finally rs.close()
    } finally c.close()
  }
  private def tables(like: String): Seq[String] = tablesAt(dbUrl, like)

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
    // every batch's staging table dropped
    assert(tables("LAMBDA_SAMPLE_GS%").isEmpty)
  }

  test("replayed batch is a no-op (exactly-once under foreachBatch retry)") {
    sql("CREATE TABLE replay_t(column_a INT, column_b INT, column_c INT)")
    val c = cfg.copy(targets = Seq(target("replay_t")))
    val first = Loader.loadBatch(spark, c, cmd("rb1", Seq("sample0.csv")), root, Some(schema))
    assert(first.status == "complete" && !first.results.head.skipped)
    val replay = Loader.loadBatch(spark, c, cmd("rb1", Seq("sample0.csv")), root, Some(schema))
    assert(replay.status == "complete" && replay.results.head.skipped)
    assert(queryLong("SELECT count(*) FROM replay_t") == 2)
    assert(tables("REPLAY_T_GS%").isEmpty, "the replay's staging table is dropped")
  }

  test("one batch into two tables of one database: both get their rows; a replay is a no-op for both") {
    // a fresh database: both targets also ensure its registry at once
    val url = "jdbc:derby:memory:twintables;create=true"
    val tables = Seq("twin_a", "twin_b")
    tables.foreach(t => sqlAt(url, s"CREATE TABLE $t(column_a INT, column_b INT, column_c INT)"))
    val c = cfg.copy(targets = tables.map(LoadTarget(url, "", "", _)))
    val first = Loader.loadBatch(spark, c, cmd("tw1", Seq("sample0.csv")), root, Some(schema))
    assert(first.status == "complete", first.results)
    assert(first.results.forall(r => r.ok && !r.skipped && r.rows == 2), first.results)
    tables.foreach(t => assert(tablesAt(url, s"${t.toUpperCase}_GS%").isEmpty, t))
    val replay = Loader.loadBatch(spark, c, cmd("tw1", Seq("sample0.csv")), root, Some(schema))
    assert(replay.status == "complete" && replay.results.forall(_.skipped), replay.results)
    tables.foreach(t => assert(queryLongAt(url, s"SELECT count(*) FROM $t") == 2, t))
  }

  test("a registry keyed on batch_id alone fails the second table's load instead of skipping it") {
    val url = "jdbc:derby:memory:legacyregistry;create=true"
    sqlAt(url, s"CREATE TABLE ${JdbcWriter.CommitTable} (batch_id VARCHAR(128) PRIMARY KEY, " +
      "target_table VARCHAR(128), committed_at TIMESTAMP)")
    sqlAt(url, "CREATE TABLE legacy_a(column_a INT, column_b INT, column_c INT)")
    sqlAt(url, "CREATE TABLE legacy_b(column_a INT, column_b INT, column_c INT)")
    val c = cfg.copy(targets = Seq("legacy_a", "legacy_b").map(LoadTarget(url, "", "", _)))
    val out = Loader.loadBatch(spark, c, cmd("lg1", Seq("sample0.csv")), root, Some(schema))
    assert(out.status == "error")
    assert(out.results.count(r => r.ok && !r.skipped && r.rows == 2) == 1, out.results)
    val failed = out.results.filter(!_.ok)
    assert(failed.size == 1 && failed.head.error.exists(_.contains("keyed on batch_id alone")),
      out.results)
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
    assert(tables("ROLLBACK_T_GS%").isEmpty, "the failed load drops its staging table")
    // a later good batch with a new id still loads (registry rolled back too)
    val ok = Loader.loadBatch(spark, c.copy(targets = Seq(target("rollback_t"))),
      cmd("fb2", Seq("sample1.csv")), root, Some(schema))
    assert(ok.status == "complete")
    assert(queryLong("SELECT count(*) FROM rollback_t") == 2)
    assert(tables("ROLLBACK_T_GS%").isEmpty)
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

  test("an interrupted two-target loadBatch ends every target load before the interrupt propagates") {
    // a target load still running after its trigger gave up would race
    // the replay of its batch: the interrupt must reach every target
    val entered = new java.util.concurrent.CountDownLatch(2)
    val release = new java.util.concurrent.CountDownLatch(1)
    val targetThreads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    val ended = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var outcome: Either[Throwable, Loader.BatchLoadOutcome] = null
    @volatile var endedAtReturn = -1
    @volatile var aliveAtReturn = -1
    val loading = new Thread(() => {
      outcome =
        try Right(Loader.loadBatch(spark,
          cfg.copy(targets = Seq(target("interrupt2_a"), target("interrupt2_b"))),
          cmd("ib2", Seq("sample0.csv")), root, Some(schema),
          skipTarget = _ => {
            targetThreads.add(Thread.currentThread())
            entered.countDown()
            try release.await() finally ended.incrementAndGet()
            true
          }))
        catch { case e: Throwable => Left(e) }
      endedAtReturn = ended.get
      aliveAtReturn = targetThreads.toArray(Array.empty[Thread]).count(_.isAlive)
    })
    loading.start()
    try {
      assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS), "both targets started")
      loading.interrupt()
      loading.join(60000)
    } finally release.countDown()
    assert(!loading.isAlive)
    assert(outcome.left.exists(_.isInstanceOf[InterruptedException]), s"got $outcome")
    assert(endedAtReturn == 2, "every target load ended before the interrupt propagated")
    assert(aliveAtReturn == 0, "no target thread outlives loadBatch")
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

  test("a target whose password resolver throws fails alone; the other target's commit is reported") {
    sql("CREATE TABLE pw_good(column_a INT, column_b INT, column_c INT)")
    sql("CREATE TABLE pw_bad(column_a INT, column_b INT, column_c INT)")
    val c = cfg.copy(targets = Seq(target("pw_good"), target("pw_bad").copy(encryptedPassword = "locked")))
    val out = Loader.loadBatch(spark, c, cmd("pw1", Seq("sample0.csv")), root, Some(schema),
      resolvePassword = p => if (p == "locked") throw new IllegalStateException("no key") else p)
    assert(out.status == "error")
    assert(out.results.size == 2, out.results)
    assert(out.results.head.ok && !out.results.head.skipped && out.results.head.rows == 2, out.results)
    assert(!out.results(1).ok && out.results(1).error.contains("no key"), out.results)
    assert(out.results.forall(_.target == dbUrl))
    assert(queryLong("SELECT count(*) FROM pw_good") == 2)
    assert(queryLong("SELECT count(*) FROM pw_bad") == 0)
  }

  test("per-(file,target) dedup flag: retry after partial failure loads ONLY the failed target (§7.5.7 fix)") {
    // second target lives in its OWN database (clusters are separate
    // DBs); its table doesn't exist yet, so the first attempt fails
    val fixUrl = "jdbc:derby:memory:ptfix;create=true"
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
    assert(queryLongAt(fixUrl, "SELECT count(*) FROM pt_other") == 2,
      "the failed target must load on retry")

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
    Seq(urlA, urlB).foreach(sqlAt(_, "CREATE TABLE ovr_t(column_a INT, column_b INT, column_c INT)"))
    val c = cfg.copy(targets = Seq(
      LoadTarget(urlA, "", "", "ovr_t")))
    System.setProperty(graft.config.Setup.OverrideEnvVar, urlB)
    try {
      val out = Loader.loadBatch(spark, c, cmd("ov1", Seq("sample0.csv")), root, Some(schema))
      assert(out.status == "complete")
    } finally System.clearProperty(graft.config.Setup.OverrideEnvVar)
    def count(url: String): Long = queryLongAt(url, "SELECT count(*) FROM ovr_t")
    assert(count(urlB) == 2, "override target received the load")
    assert(count(urlA) == 0, "configured target untouched while override active")
  }

  /** The tasks of every Spark job `body` runs on this thread. Listener
    * events arrive asynchronously, so a marker job run after `body`
    * fences them: by its start event, every earlier job's has arrived.
    */
  private def tasksOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val scope = java.util.UUID.randomUUID().toString
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty(ScopeKey)) match {
          case Some(`scope`) => tasks.addAndGet(js.stageInfos.map(_.numTasks).sum)
          case Some(s) if s == s"$scope-fence" => fenced.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(ScopeKey, scope)
      body
      sc.setLocalProperty(ScopeKey, s"$scope-fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS), "the fence job was seen")
      tasks.get
    } finally {
      sc.setLocalProperty(ScopeKey, null)
      sc.removeSparkListener(listener)
    }
  }
  private val ScopeKey = "graft.test.scope"

  /** (rows, checksum) of a three-int-column table, and of a frame. */
  private val checksumSql =
    "CAST(column_a AS BIGINT) * 1000003 + CAST(column_b AS BIGINT) * 1009 + column_c"
  private def tableSums(table: String): (Long, Long) = {
    val c = DriverManager.getConnection(dbUrl)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT count(*), sum($checksumSql) FROM $table")
      rs.next(); (rs.getLong(1), rs.getLong(2))
    } finally c.close()
  }
  private def frameSums(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = df.selectExpr("count(*)", s"sum($checksumSql)").collect().head
    (r.getLong(0), r.getLong(1))
  }

  private def sampleRead(files: Int) =
    Formats.read(spark, cfg, (0 until files).map(i => s"$root/bucket/input/sample$i.csv"),
      Some(schema))

  test("a multi-file batch staged while every task slot has a load stages through one writer") {
    sql("CREATE TABLE onewriter_t(column_a INT, column_b INT, column_c INT)")
    val t = target("onewriter_t")
    val df = sampleRead(5)
    assert(df.rdd.getNumPartitions > 1, "the read packs the files into several partitions")
    JdbcWriter.ensureAuxTables(t, "")
    val slots = spark.sparkContext.defaultParallelism
    assert(JdbcWriter.loading(slots)(tasksOf(JdbcWriter.stage(df, t, "", "ow1"))) == 1,
      "one staging writer")
    assert(JdbcWriter.commit(t, "", "ow1") == (true, 10L))
    assert(tableSums("onewriter_t") == frameSums(df))
  }

  test("the staging writers are the slots' share of the loads in flight, never more than the read's partitions") {
    sql("CREATE TABLE sharedwriters_t(column_a INT, column_b INT, column_c INT)")
    val t = target("sharedwriters_t", truncate = true)
    JdbcWriter.ensureAuxTables(t, "")
    val slots = spark.sparkContext.defaultParallelism
    // (loads in flight besides this one, files read)
    Seq((0, 5), (1, 5), (0, 2), (2 * slots, 5)).foreach { case (others, files) =>
      val df = sampleRead(files)
      val writers = math.min(df.rdd.getNumPartitions, math.max(1, slots / (others + 1)))
      val id = s"sw-$others-$files"
      val staged = JdbcWriter.loading(1)(JdbcWriter.loading(others)(
        tasksOf(JdbcWriter.stage(df, t, "", id))))
      assert(staged == writers, s"$others other loads, $files files")
      assert(JdbcWriter.commit(t, "", id) == (true, 2L * files))
      assert(tableSums("sharedwriters_t") == frameSums(df))
    }
  }

  test("loadBatch counts its targets in flight: four targets on four slots stage one writer each") {
    val tables = (0 until 4).map(i => s"fanwriters_t$i")
    tables.foreach(n => sql(s"CREATE TABLE $n(column_a INT, column_b INT, column_c INT)"))
    val c = cfg.copy(targets = tables.map(target(_)))
    val files = (0 until 5).map(i => s"sample$i.csv")
    var out: Loader.BatchLoadOutcome = null
    val staged = tasksOf { out = Loader.loadBatch(spark, c, cmd("fw1", files), root, Some(schema)) }
    assert(out.status == "complete" && out.results.map(_.rows) == Seq.fill(4)(10L))
    val slots = spark.sparkContext.defaultParallelism
    assert(staged == 4 * math.min(sampleRead(5).rdd.getNumPartitions, math.max(1, slots / 4)),
      "the targets share the slots, not one writer per file each")
    val expected = frameSums(sampleRead(5))
    tables.foreach(n => assert(tableSums(n) == expected, n))
  }

  test("the staging write plans the batch's read once") {
    sql("CREATE TABLE oneplan_t(column_a INT, column_b INT, column_c INT)")
    val t = target("oneplan_t")
    JdbcWriter.ensureAuxTables(t, "")
    val sc = spark.sparkContext
    def nextBroadcastId(): Long = { val b = sc.broadcast(0); try b.id finally b.destroy() }
    val df = sampleRead(5)
    assert(df.rdd.getNumPartitions > 1, "the read packs the files into several partitions")
    val before = nextBroadcastId()
    // every slot has a load: the write coalesces the read to one writer
    JdbcWriter.loading(sc.defaultParallelism)(JdbcWriter.stage(df, t, "", "op1"))
    // each plan of the file scan broadcasts its Hadoop configuration, and
    // the write's one job its task binary
    assert(nextBroadcastId() - before - 1 == 2, "one scan plan, one job")
    assert(JdbcWriter.commit(t, "", "op1") == (true, 10L))
    assert(tableSums("oneplan_t") == frameSums(df))
  }

  test("a batch staged twice, as after a failed first attempt, commits its rows once") {
    sql("CREATE TABLE restage_t(column_a INT, column_b INT, column_c INT)")
    val t = target("restage_t")
    val df = sampleRead(3)
    JdbcWriter.ensureAuxTables(t, "")
    JdbcWriter.stage(df, t, "", "x")
    JdbcWriter.stage(df, t, "", "x")
    assert(JdbcWriter.commit(t, "", "x") == (true, 6L))
    assert(tableSums("restage_t") == frameSums(df))
    assert(tables("RESTAGE_T_GS%").isEmpty, "no staging table remains")
  }

  test("two batches of one target staged before either commits: each commit moves its own rows") {
    sql("CREATE TABLE twobatch_t(column_a INT, column_b INT, column_c INT)")
    val t = target("twobatch_t")
    val (d1, d2) = (sampleRead(1), sampleRead(3))
    JdbcWriter.ensureAuxTables(t, "")
    JdbcWriter.stage(d1, t, "", "b1")
    JdbcWriter.stage(d2, t, "", "b2")
    assert(JdbcWriter.commit(t, "", "b1") == (true, 2L))
    assert(tableSums("twobatch_t") == frameSums(d1))
    assert(JdbcWriter.commit(t, "", "b2") == (true, 6L))
    assert(tableSums("twobatch_t") == frameSums(d1.union(d2)))
    assert(tables("TWOBATCH_T_GS%").isEmpty, "no staging table remains")
  }

  test("stagingTable: one plain identifier per (target, batch), in the target's schema") {
    val a = JdbcWriter.stagingTable("t", "batch-1")
    assert(a.matches("t_gs_[0-9a-f]{16}"), a)
    assert(JdbcWriter.stagingTable("t", "batch-1") == a, "deterministic")
    assert(JdbcWriter.stagingTable("t", "batch-2") != a)
    assert(JdbcWriter.stagingTable("sch.t", "batch-1").matches("sch\\.t_gs_[0-9a-f]{16}"))
    Seq("it's", "a b", "a;b", "x'; DROP TABLE t; --").foreach { id =>
      assert(JdbcWriter.stagingTable("t", id).matches("t_gs_[0-9a-f]{16}"), id)
    }
  }

  test("retry retries a transient failure raised in a task, and only a transient one") {
    // a task's exception reaches the driver wrapped in a SparkException
    def failTasks(e: () => Exception): Unit =
      spark.sparkContext.parallelize(1 to 4, 4).foreachPartition(_ => throw e())
    var attempts = 0
    val out = JdbcWriter.retry() {
      attempts += 1
      if (attempts == 1)
        failTasks(() => new java.sql.SQLTransientConnectionException("connection reset"))
      "staged"
    }
    assert(out == "staged" && attempts == 2, s"$attempts attempts")
    var permanent = 0
    val e = intercept[org.apache.spark.SparkException](JdbcWriter.retry() {
      permanent += 1
      failTasks(() => new java.sql.SQLSyntaxErrorException("no such table"))
    })
    assert(permanent == 1, "a non-transient failure is not retried")
    assert(e.getCause.isInstanceOf[java.sql.SQLSyntaxErrorException], e)
    // a statement cancelled past its timeout used up the load's budget
    var timedOut = 0
    val t = intercept[org.apache.spark.SparkException](JdbcWriter.retry() {
      timedOut += 1
      failTasks(() => new java.sql.SQLTimeoutException("statement cancelled"))
    })
    assert(timedOut == 1, "a timed-out statement is not retried")
    assert(t.getCause.isInstanceOf[java.sql.SQLTimeoutException], t)
  }

  test("manifest JSON matches reference shape (S5)") {
    val m = Manifest(Seq(ManifestEntry("file:/a/b.csv", mandatory = true, 24)))
    assert(Loader.manifestJson(m) ==
      """{"entries": [{"url": "file:/a/b.csv", "mandatory": true, "meta": {"content_length": 24}}]}""")
  }
}
