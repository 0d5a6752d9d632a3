package graft.config

import java.nio.file.{Files, Paths}
import java.sql.DriverManager
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.config.Setup.SetupException
import graft.GraftSession

/** File-driven setup parity (`setup-file.js`, `setup.js:213-258`):
  * validation rules, field translation, URL assembly + override escape,
  * and the full path config-file → ConfigStore → working Pipeline watch.
  */
class SetupSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def setupJson(extra: String = "",
                        df: String = "CSV",
                        delim: String = "\"csvDelimiter\": \"|\",") =
    s"""{
       |  "s3Prefix": "s3://bucket/input/",
       |  "clusterEndpoint": "db.example.internal",
       |  "clusterPort": 5439,
       |  "clusterDB": "dev",
       |  "useSSL": "N",
       |  "userName": "loader",
       |  "userPwd": "hunter2",
       |  "table": "setup_target",
       |  "truncateTable": "N",
       |  "df": "$df",
       |  $delim
       |  "ignoreCsvHeader": "Y",
       |  "manifestBucket": "mbucket",
       |  "manifestPrefix": "manifests",
       |  "failedManifestPrefix": "failed",
       |  "batchSize": 2,
       |  "batchTimeoutSecs": 10,
       |  "filenameFilter": ".*\\\\.csv$$"$extra
       |}""".stripMargin

  test("translates the setup-file shape: url assembly, prefix norm, booleans, ints") {
    val cfg = Setup.fromJson(setupJson(), pw => s"enc($pw)")
    assert(cfg.s3Prefix == "bucket/input") // s3:// stripped, right-trimmed
    assert(cfg.dataFormat == DataFormat.Csv && cfg.csvDelimiter == "|")
    assert(cfg.ignoreCsvHeader && cfg.batchSize == 2 && cfg.batchTimeoutSecs.contains(10))
    assert(cfg.filenameFilterRegex.contains(".*\\.csv$"))
    assert(cfg.manifestDir.contains("mbucket/manifests"))
    assert(cfg.failedManifestDir.contains("mbucket/failed"))
    val t = cfg.targets.head
    assert(t.jdbcUrl == "jdbc:postgresql://db.example.internal:5439/dev")
    assert(t.user == "loader" && t.encryptedPassword == "enc(hunter2)")
    assert(t.targetTable == "setup_target" && !t.truncateTarget)
  }

  test("validation parity: required fields, format allow-list, csv delimiter, int parse") {
    def without(field: String): String =
      setupJson().linesIterator.filterNot(_.contains("\"" + field + "\"")).mkString("\n")
    intercept[SetupException](Setup.fromJson(without("s3Prefix")))
    intercept[SetupException](Setup.fromJson(without("clusterEndpoint")))
    intercept[SetupException](Setup.fromJson(without("userName")))
    intercept[SetupException](Setup.fromJson(without("userPwd")))
    intercept[SetupException](Setup.fromJson(without("table")))
    intercept[SetupException](Setup.fromJson(without("manifestBucket")))
    intercept[SetupException](Setup.fromJson(setupJson(df = "XML")))
    // CSV without a delimiter refused; PARQUET without one fine
    intercept[SetupException](Setup.fromJson(setupJson(delim = "")))
    Setup.fromJson(setupJson(df = "PARQUET", delim = ""))
    intercept[SetupException](
      Setup.fromJson(setupJson().replace("\"clusterPort\": 5439", "\"clusterPort\": \"abc\"")))
  }

  test("useSSL appends the non-validating factory; override env wins (C11)") {
    assert(Setup.buildJdbcUrl("h", 5439, None, useSSL = true)
      == "jdbc:postgresql://h:5439?ssl=true&sslfactory=org.postgresql.ssl.NonValidatingFactory")
    assert(Setup.resolveJdbcUrl("jdbc:a", _ => Some("jdbc:override")) == "jdbc:override")
    assert(Setup.resolveJdbcUrl("jdbc:a", _ => None) == "jdbc:a")
  }

  test("jsonpaths file location is read Redshift-style at setup time") {
    val jp = Files.createTempFile("graft-jp", ".json")
    Files.writeString(jp, """{"jsonpaths": ["$.a.b", "$.c"]}""")
    val cfg = Setup.fromJson(setupJson(
      extra = s""",\n  "jsonPaths": "${jp.toString}"""", df = "JSON", delim = ""))
    assert(cfg.jsonPaths.contains(Seq("$.a.b", "$.c")))
  }

  test("interactive waterfall: scripted answers, conditional questions, copyOptions") {
    val answers = scala.collection.mutable.Map(
      "Enter the S3 Bucket & Prefix to watch for files" -> "s3://bucket/in",
      "Enter a Filename Filter Regex" -> "",                 // blank = skip
      "Enter the Cluster Endpoint" -> "db.example.internal",
      "Enter the Cluster Port" -> "5439",
      "Does your cluster use SSL? (Y/N)" -> "N",
      "Enter the Database Name" -> "dev",
      "Enter the Table to be Loaded" -> "t1",
      "Enter the comma-delimited column list (or NULL for all columns)" -> "NULL",
      "Should the Table be Truncated before Load? (Y/N)" -> "Y",
      "Enter the Database Username" -> "u",
      "Enter the Database Password" -> "pw",
      "Enter the Data Format (CSV, JSON, AVRO, PARQUET, and ORC)" -> "parquet",
      "Ignore Header (first line) of the CSV file? (Y/N)" -> "N",
      "Enter the Bucket for COPY Manifests" -> "mb",
      "Enter the Prefix for Manifests" -> "m",
      "Enter the Prefix to use for Failed Load Manifest Storage" -> "fm",
      "Enter the Topic ARN for Successful Loads" -> "",
      "Enter the Topic ARN for Failed Loads" -> "",
      "How many files should be buffered before loading?" -> "7",
      "How many bytes should be buffered before loading? (or NULL)" -> "NULL",
      "How old should we allow a Batch to be before loading (seconds)?" -> "30",
      "Additional Copy Options (k=v, comma separated, or NULL)" -> "mergeSchema=true")
    val asked = scala.collection.mutable.ArrayBuffer.empty[String]
    val cfg = Setup.interactive({ p =>
      val q = p.stripSuffix(" > ")
      asked += q
      answers.getOrElse(q, fail(s"unexpected question: $q"))
    }, pw => s"enc($pw)")
    // CSV delimiter and jsonpaths questions must NOT fire for PARQUET
    assert(!asked.exists(_.contains("CSV Delimiter")))
    assert(!asked.exists(_.contains("JSON Paths")))
    assert(cfg.s3Prefix == "bucket/in" && cfg.dataFormat == DataFormat.Parquet)
    assert(cfg.batchSize == 7 && cfg.batchTimeoutSecs.contains(30) && cfg.batchSizeBytes.isEmpty)
    assert(cfg.readerOptions == Map("mergeSchema" -> "true"))
    assert(cfg.targets.head.truncateTarget && cfg.targets.head.encryptedPassword == "enc(pw)")
    // missing required answer → same validation as file mode
    answers.remove("Enter the Table to be Loaded")
    intercept[SetupException](Setup.interactive({ p =>
      answers.getOrElse(p.stripSuffix(" > "), "") }, identity))
  }

  test("e2e: setup CLI -> ConfigStore -> Pipeline watch loads files") {
    val root = Files.createTempDirectory("graft-setup-pipe").toString
    val ledgerDir = Files.createTempDirectory("graft-setup-ledger").toString
    val ckpt = Files.createTempDirectory("graft-setup-ckpt").toString
    val storeDir = Files.createTempDirectory("graft-setup-store").toString
    val keyDir = Files.createTempDirectory("graft-setup-keys").toString
    Files.createDirectories(Paths.get(s"$root/bucket/input"))

    val url = "jdbc:derby:memory:setupspec;create=true"
    val c0 = DriverManager.getConnection(url)
    c0.createStatement().execute("CREATE TABLE setup_e2e(column_a INT, column_b INT)")

    // the CLI input, pointing at Derby via the override escape hatch
    // (the assembled postgres URL has no server behind it in this test)
    val file = Files.createTempFile("graft-setup", ".json")
    Files.writeString(file, setupJson().replace("setup_target", "setup_e2e"))
    val stored = Setup.run(file.toString, storeDir, keyDir)

    val store = new ConfigStore(storeDir)
    val ks = graft.crypto.Keystore(keyDir)
    val got = store.get("bucket/input").get
    assert(ks.decrypt(got.targets.head.encryptedPassword) == "hunter2")
    assert(stored.copy(version = ConfigCodec.CurrentVersion) == got)

    // swap the assembled URL for the local Derby target (the override
    // seam applied at config level) and start the watch from the STORE
    val runCfg = got.copy(targets =
      got.targets.map(_.copy(jdbcUrl = url, user = "", encryptedPassword = "")))
    val schema = StructType(Seq(
      StructField("column_a", IntegerType), StructField("column_b", IntegerType)))
    // setup file says ignoreCsvHeader=Y — the header line must be skipped
    Files.write(Paths.get(s"$root/bucket/input/a.csv"),
      "column_a|column_b\n1|2\n3|4\n".getBytes)

    val q = graft.Pipeline.start(spark,
      graft.Pipeline.Settings(root, ledgerDir, ckpt, triggerInterval = "1 second",
        schemas = Map("setup_e2e" -> schema)),
      Map(runCfg.s3Prefix -> runCfg))
    try {
      def rows(): Long = {
        val rs = c0.createStatement().executeQuery("SELECT count(*) FROM setup_e2e")
        rs.next(); val n = rs.getLong(1); rs.close(); n
      }
      val deadline = System.currentTimeMillis() + 90000
      while (rows() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(500)
      assert(rows() == 2, "file under the setup-registered prefix loaded")
    } finally q.stop()
  }

  test("updateConfig: set/remove single attributes, typed validation, unknown refused") {
    val store = new ConfigStore(Files.createTempDirectory("graft-upd").toString)
    store.put(LoadConfig(s3Prefix = "bucket/input", dataFormat = DataFormat.Csv,
      batchSize = 10, successTopic = Some("arn:old")))

    // set: typed scalar + optional string
    val c1 = Setup.updateConfigAttribute(store, "s3://bucket/input/",
      "batchSize", Some("250")).get
    assert(c1.batchSize == 250)
    val c2 = Setup.updateConfigAttribute(store, "bucket/input",
      "failureTopic", Some("arn:fail")).get
    assert(c2.failureTopic.contains("arn:fail") && c2.batchSize == 250,
      "updates accumulate in the store")
    // remove: empty value resets optionals to None, scalars to defaults
    assert(Setup.updateConfigAttribute(store, "bucket/input",
      "successTopic", None).get.successTopic.isEmpty)
    assert(Setup.updateConfigAttribute(store, "bucket/input",
      "batchSize", Some("")).get.batchSize == 1000)
    // validation parity with setup
    val bad = intercept[SetupException] {
      Setup.updateConfigAttribute(store, "bucket/input", "batchSize", Some("ten"))
    }
    assert(bad.field == "batchSize")
    assert(intercept[SetupException] {
      Setup.updateConfigAttribute(store, "bucket/input", "df", Some("XML"))
    }.field == "df")
    // structural / unknown attributes refused loudly
    assert(intercept[SetupException] {
      Setup.updateConfigAttribute(store, "bucket/input", "targets", Some("x"))
    }.field == "targets")
    // unknown prefix -> None
    assert(Setup.updateConfigAttribute(store, "bucket/other", "batchSize", Some("1")).isEmpty)
  }

  test("updateConfig: manifest bucket/prefix replace ONLY their composite segment") {
    val store = new ConfigStore(Files.createTempDirectory("graft-updm").toString)
    store.put(LoadConfig(s3Prefix = "bucket/input", dataFormat = DataFormat.Csv,
      manifestDir = Some("mbkt/man"), failedManifestDir = Some("mbkt/failed/deep")))

    val c1 = Setup.updateConfigAttribute(store, "bucket/input",
      "manifestPrefix", Some("man2")).get
    assert(c1.manifestDir.contains("mbkt/man2"), "bucket half preserved")
    assert(c1.failedManifestDir.contains("mbkt/failed/deep"), "failed composite untouched")

    val c2 = Setup.updateConfigAttribute(store, "bucket/input",
      "failedManifestPrefix", Some("failed2")).get
    assert(c2.failedManifestDir.contains("mbkt/failed2"))
    assert(c2.manifestDir.contains("mbkt/man2"))

    // the bucket half is shared by both composites, exactly as in fromMap
    val c3 = Setup.updateConfigAttribute(store, "bucket/input",
      "manifestBucket", Some("nbkt")).get
    assert(c3.manifestDir.contains("nbkt/man2"))
    assert(c3.failedManifestDir.contains("nbkt/failed2"))

    // required composites cannot be removed
    assert(intercept[SetupException] {
      Setup.updateConfigAttribute(store, "bucket/input", "manifestPrefix", None)
    }.field == "manifestPrefix")
    assert(intercept[SetupException] {
      Setup.updateConfigAttribute(store, "bucket/input", "manifestBucket", Some(""))
    }.field == "manifestBucket")
  }

  test("addAdditionalClusterEndpoint: validated append; load fans out to BOTH targets") {
    val storeDir = Files.createTempDirectory("graft-addce").toString
    val store = new ConfigStore(storeDir)
    val urlA = "jdbc:derby:memory:addceA;create=true"
    val urlB = "jdbc:derby:memory:addceB;create=true"
    def ddl(url: String): Unit = {
      val c = DriverManager.getConnection(url)
      try c.createStatement().execute("CREATE TABLE addce_t(column_a INT, column_b INT)")
      finally c.close()
    }
    ddl(urlA); ddl(urlB)
    store.put(LoadConfig(s3Prefix = "bucket/input", dataFormat = DataFormat.Csv,
      csvDelimiter = "|", batchSize = 1,
      targets = Seq(LoadTarget(urlA, "", "", "addce_t"))))

    // validation rules are the setup rules
    val bad = intercept[SetupException] {
      Setup.addClusterEndpoint(store, "bucket/input", Map(
        "clusterPort" -> 5439, "userName" -> "u", "userPwd" -> "p", "table" -> "t"))
    }
    assert(bad.field == "clusterEndpoint")
    assert(Setup.addClusterEndpoint(store, "bucket/none", Map(
      "clusterEndpoint" -> "e", "clusterPort" -> 5439, "userName" -> "u",
      "userPwd" -> "p", "table" -> "t")).isEmpty, "unknown prefix refuses")

    // append a second endpoint (s3:// form of the prefix accepted, like the CLI)
    val updated = Setup.addClusterEndpoint(store, "s3://bucket/input", Map(
      "clusterEndpoint" -> "ignored.local", "clusterPort" -> 5439,
      "userName" -> "loader", "userPwd" -> "secret", "table" -> "addce_t")).get
    assert(updated.targets.size == 2)
    assert(updated.targets(1).jdbcUrl == "jdbc:postgresql://ignored.local:5439")

    // swap the assembled URL for the second Derby target and verify fan-out
    val runCfg = updated.copy(targets = Seq(
      updated.targets.head,
      updated.targets(1).copy(jdbcUrl = urlB, user = "", encryptedPassword = "")))
    val root = Files.createTempDirectory("graft-addce-data").toString
    Files.createDirectories(Paths.get(s"$root/bucket/input"))
    Files.write(Paths.get(s"$root/bucket/input/x.csv"), "1|2\n3|4\n".getBytes)
    val schema = StructType(Seq(
      StructField("column_a", IntegerType), StructField("column_b", IntegerType)))
    val cmd = FlushCommand("bucket/input", "ce1",
      Seq(BatchEntry("bucket/input/x.csv", 8, 1000L)), 8L, "count", 2000L)
    val out = graft.loader.Loader.loadBatch(spark, runCfg, cmd, root, Some(schema))
    assert(out.status == "complete" && out.results.size == 2)
    def count(url: String): Long = {
      val c = DriverManager.getConnection(url)
      try {
        val rs = c.createStatement().executeQuery("SELECT count(*) FROM addce_t")
        rs.next(); rs.getLong(1)
      } finally c.close()
    }
    assert(count(urlA) == 2 && count(urlB) == 2, "both endpoints loaded")
  }
}
