package graft.ops

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.ledger.Ledger
import graft.GraftSession

/** Mass prefix reprocess, bulk-delete append behavior, and the CLI
  * dispatch over a seeded ledger.
  */
class OpsCliSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def rec(id: String, status: BatchStatus, at: Long) =
    BatchRecord("b/k", id, status.name, Seq(BatchEntry(s"b/k/$id.csv", 10, at)), 10L, at)

  test("reprocessPrefix: regex excludes one file; unlink markers + ledger unlinks for the rest") {
    val root = Files.createTempDirectory("graft-rpp").toString
    Files.createDirectories(Paths.get(s"$root/bucket/input"))
    Seq("a.csv", "b.csv", "skip.log").foreach { f =>
      Files.write(Paths.get(s"$root/bucket/input/$f"), "1|2\n".getBytes)
    }
    val ledgerDir = Files.createTempDirectory("graft-rpp-ledger").toString
    val ledger = new Ledger(spark, ledgerDir)
    // a.csv and skip.log are in the processed ledger; b.csv never was
    ledger.appendFiles(Seq(
      ProcessedFile("bucket/input/a.csv", 1000, 1, Some("b1")),
      ProcessedFile("bucket/input/skip.log", 1000, 1, Some("b1"))), 1000)
    val ops = new Ops(spark, ledger)

    val r = ops.reprocessPrefix(root, "bucket/input", Some("\\.csv$"))
    assert(r.ok && r.reinject == Seq("bucket/input/a.csv"),
      s"only the processed csv qualifies, got $r")
    // ledger unlink recorded: batchId cleared, previous batch archived
    val row = ops.queryProcessedFile("bucket/input/a.csv").collect().head
    assert(row.getAs[String]("batchId") == "")
    assert(row.getAs[scala.collection.Seq[String]]("previousBatches").toSeq == Seq("b1"))
    // regex-excluded file untouched
    val skip = ops.queryProcessedFile("bucket/input/skip.log").collect().head
    assert(skip.getAs[String]("batchId") == "b1")
    // exactly one unlink marker dropped, for a.csv
    val markers = java.nio.file.Files.list(
      Paths.get(root, graft.sources.FileEventSource.ControlDir, "unlink")).toArray
    assert(markers.length == 1)
    assert(markers.head.toString.endsWith(
      graft.sources.FileEventSource.encodeControlTarget("bucket/input/a.csv")))
  }

  test("deleteBatches --force appends ONE parquet file for the whole doomed set") {
    val ledgerDir = Files.createTempDirectory("graft-bulk-ledger").toString
    val ledger = new Ledger(spark, ledgerDir)
    (1 to 3).foreach(i => ledger.appendBatch(rec(s"e$i", BatchStatus.Error, 1000L * i)))
    val ops = new Ops(spark, ledger)
    def dataFiles(): Long = java.nio.file.Files.walk(Paths.get(s"$ledgerDir/batches"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val before = dataFiles()
    val doomed = ops.deleteBatches("error", dryRun = false)
    assert(doomed.count() == 3)
    assert(dataFiles() == before + 1, "bulk delete writes one file, not one per row")
    assert(ledger.currentBatches.count() == 0)
  }

  test("CLI dispatch: describe/query/unlock/delete/processedFiles over a seeded ledger") {
    val ledgerDir = Files.createTempDirectory("graft-cli-ledger").toString
    val ledger = new Ledger(spark, ledgerDir)
    ledger.appendBatch(rec("b1", BatchStatus.Locked, 1000))
    ledger.appendBatch(rec("b2", BatchStatus.Error, 2000))
    ledger.appendFiles(Seq(ProcessedFile("b/k/b1.csv", 1000, 1, Some("b1"))), 1000)
    val ops = new Ops(spark, ledger)

    assert(OpsCli.run(spark, ops, "describeBatch", List("b/k", "b1")) == 0)
    assert(OpsCli.run(spark, ops, "describeBatch", List("b/k", "nope")) == 1)
    assert(OpsCli.run(spark, ops, "queryBatches", List("error")) == 0)
    assert(OpsCli.run(spark, ops, "unlockBatch", List("b/k", "b1")) == 0)
    assert(OpsCli.run(spark, ops, "unlockBatch", List("b/k", "b1")) == 1, "now open — refused")
    assert(OpsCli.run(spark, ops, "reprocessBatch", List("b/k", "b2")) == 0)
    assert(OpsCli.run(spark, ops, "deleteBatch", List("b/k", "b2")) == 0)
    assert(OpsCli.run(spark, ops, "processedFiles", List("--query", "b/k/b1.csv")) == 0)
    assert(OpsCli.run(spark, ops, "processedFiles", List("--delete", "b/k/b1.csv")) == 0)
    assert(OpsCli.run(spark, ops, "processedFiles", List("--query", "b/k/b1.csv")) == 1)
    assert(OpsCli.run(spark, ops, "bogus", Nil) == 2)
  }

  test("CLI resetCurrentBatch: clears the config pointer; missing config refused") {
    val ledgerDir = Files.createTempDirectory("graft-rcb-ledger").toString
    val ops = new Ops(spark, new Ledger(spark, ledgerDir))
    val configDir = Files.createTempDirectory("graft-rcb-cfg").toString
    val store = new graft.config.ConfigStore(configDir)
    store.put(graft.core.LoadConfig(s3Prefix = "bucket/input",
      dataFormat = graft.core.DataFormat.Csv, batchSize = 10,
      currentBatch = "batch-42"))
    assert(OpsCli.run(spark, ops, "resetCurrentBatch",
      List(configDir, "bucket/input")) == 0)
    assert(store.get("bucket/input").get.currentBatch == "")
    assert(OpsCli.run(spark, ops, "resetCurrentBatch",
      List(configDir, "bucket/other")) == 1)
  }

  test("CLI curationIngest --once: drains a docs directory through the composed chain and exits") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max}
    val t0 = System.nanoTime()
    val dedup = s"clici_${t0}_dedup"
    val lm = s"clici_${t0}_lm"
    try {
      val corpus = Seq((0L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text")
      graft.operators.DedupIndex.saveCorpus(spark, corpus, "doc_id", "text", dedup)
      graft.operators.NgramLM.store(
        graft.operators.NgramLM.fit(corpus, "doc_id", "text"), lm)
      val root = Files.createTempDirectory("graft-clici").toString
      Seq((1L, "the quick brown fox jumps over the lazy dog"), // stored dup
          (2L, "a completely different sentence about river mills and flour"))
        .toDF("doc_id", "text").write.parquet(s"$root/docs")
      val ledgerDir = Files.createTempDirectory("graft-clici-ledger").toString
      val ops = new Ops(spark, new Ledger(spark, ledgerDir))
      // --packSlices exercises the flag parse AND the sliced pack path
      // through the CLI (row-identity of slices>1 is spec'd elsewhere;
      // here the drain must simply work end-to-end with it on)
      val code = OpsCli.run(spark, ops, "curationIngest",
        List(s"$root/docs", dedup, lm, s"$root/offsets", "0.0",
          s"$root/labeled", s"$root/manifest", s"$root/ckpt", "--once",
          "--packSlices", "2"))
      assert(code == 0)
      val buckets = spark.read.parquet(s"$root/labeled")
        .select(col("doc_id"), col("bucket")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(buckets(1L) == "drop:stored_dup", s"stored dup must drop: $buckets")
      assert(!buckets(2L).startsWith("drop:"), s"fresh doc must admit: $buckets")
      // the CLI seeded the offsets table itself and the drain committed
      val last = graft.operators.StoredMerge.readBuckets(spark, s"$root/offsets")
        .agg(max(col("last_batch"))).head.getLong(0)
      assert(last >= 0L, "offsets high-water must advance past the drained batch")
    } finally {
      Seq(s"${dedup}_buckets", s"${dedup}_sets", s"${dedup}_bloom",
        s"${lm}_bigrams", s"${lm}_prefixes", s"${lm}_vocab", s"${lm}_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("CLI curationIngest --packSlices validation: missing, non-integer, and < 1 values are usage errors (exit 2), not silent defaults or raw exceptions") {
    // (r14 ADVICE + verdict item 4) the old sliding-window parse
    // silently defaulted a trailing --packSlices to 1 and let a
    // non-integer escape as a raw NumberFormatException — every other
    // arm fails loudly with the usage text
    val ops = new Ops(spark, new Ledger(spark,
      Files.createTempDirectory("graft-ps-ledger").toString))
    val root = Files.createTempDirectory("graft-ps").toString
    val base = List(s"$root/docs", "psd", "pslm", s"$root/offsets", "0.0",
      s"$root/labeled", s"$root/manifest", s"$root/ckpt", "--once")
    assert(OpsCli.run(spark, ops, "curationIngest",
      base :+ "--packSlices") == 2, "trailing flag with no value")
    assert(OpsCli.run(spark, ops, "curationIngest",
      base ++ List("--packSlices", "eight")) == 2, "non-integer value")
    assert(OpsCli.run(spark, ops, "curationIngest",
      base ++ List("--packSlices", "0")) == 2, "slices below 1")
    // a flag followed by another flag reads as missing, not as that flag
    assert(OpsCli.run(spark, ops, "curationIngest",
      List(s"$root/docs", "psd", "pslm", s"$root/offsets", "0.0",
        s"$root/labeled", s"$root/manifest", s"$root/ckpt",
        "--packSlices", "--once")) == 2)
    // none of the rejected parses may touch stored state
    assert(!java.nio.file.Files.exists(Paths.get(s"$root/offsets")),
      "a usage error must exit before seeding the offsets table")
  }

  test("CLI curationIngest: stored-state refusals surface as ONE root-cause line and exit 3 — at launch (foreign lease) and mid-stream (foreign corpus stamp)") {
    // (r15 verdict item 3) the guards throw
    // ConcurrentModificationException — at launch directly, mid-stream
    // wrapped in StreamingQueryException through foreachBatch. An
    // operator needs the refusal line, not a streaming stack, and a
    // distinct exit code (3: refused; 2: usage; 1: generic failure)
    import spark.implicits._
    import graft.operators.{DedupIndex, NgramLM, WriterLease}
    val t0 = System.nanoTime()
    val dedup = s"cliref_${t0}_dedup"
    val lm = s"cliref_${t0}_lm"
    try {
      val corpus = Seq((0L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text")
      DedupIndex.saveCorpus(spark, corpus, "doc_id", "text", dedup)
      NgramLM.store(NgramLM.fit(corpus, "doc_id", "text"), lm)
      val root = Files.createTempDirectory("graft-cliref").toString
      Seq((2L, "a completely different sentence about river mills and flour"))
        .toDF("doc_id", "text").write.parquet(s"$root/docs")
      val ops = new Ops(spark, new Ledger(spark,
        Files.createTempDirectory("graft-cliref-ledger").toString))
      def runCli(ckpt: String): (Int, String) = {
        val buf = new java.io.ByteArrayOutputStream()
        val old = System.err
        System.setErr(new java.io.PrintStream(buf, true))
        val code =
          try OpsCli.run(spark, ops, "curationIngest",
            List(s"$root/docs", dedup, lm, s"$root/offsets", "0.0",
              s"$root/labeled", s"$root/manifest", ckpt, "--once"))
          finally System.setErr(old)
        (code, buf.toString("UTF-8"))
      }
      // LAUNCH refusal: a live foreign lease on the offsets path — the
      // job-lifetime acquire throws before any batch runs
      WriterLease.acquire(spark, s"$root/offsets", owner = "foreign-job")
      val (c1, e1) = runCli(s"$root/ckpt1")
      assert(c1 == 3, s"launch refusal must exit 3, got $c1: $e1")
      assert(e1.contains("curationIngest refused:") &&
        e1.contains("lease-held"), s"root-cause line expected: $e1")
      assert(e1.linesIterator.count(_.contains("curationIngest refused:")) == 1)
      WriterLease.release(spark, s"$root/offsets", owner = "foreign-job")
      // MID-STREAM refusal: this job's batch 0 already stamped by a
      // DIFFERENT writer in the shared corpus — the commit's provenance
      // guard throws inside foreachBatch, wrapped by the streaming
      // engine; the CLI must still print the one refusal line
      DedupIndex.appendCorpus(spark,
        Seq((50L, "some other foreign writer document text")).toDF("doc_id", "text"),
        "doc_id", "text", dedup, 32, 8, 3, setBuckets = 32,
        batchId = 0L, owner = "foreign-writer")
      val (c2, e2) = runCli(s"$root/ckpt2")
      assert(c2 == 3, s"mid-stream refusal must exit 3, got $c2: $e2")
      assert(e2.contains("curationIngest refused:") &&
        e2.contains("DIFFERENT writer"), s"root-cause line expected: $e2")
      // and the refused job's lease must not stay stranded: a repair
      // arm can take the offsets path immediately
      assert(WriterLease.holder(spark, s"$root/offsets").isEmpty,
        "the refused job must release its own lease on the way out")
    } finally {
      Seq(s"${dedup}_buckets", s"${dedup}_sets", s"${dedup}_bloom",
        s"${lm}_bigrams", s"${lm}_prefixes", s"${lm}_vocab", s"${lm}_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("CLI compactLm: folds pending delta appends into the base model; a live foreign lease refuses the repair") {
    import spark.implicits._
    import graft.operators.{NgramLM, WriterLease}
    val lm = s"clicompact_${System.nanoTime()}"
    try {
      val corpus = Seq((0L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text")
      val day2 = Seq((1L, "river mills grind golden flour")).toDF("doc_id", "text")
      NgramLM.store(NgramLM.fit(corpus, "doc_id", "text"), lm, buckets = 4)
      NgramLM.appendDeltaToStored(spark, lm, day2, "doc_id", "text", "d2")
      val ops = new Ops(spark, new Ledger(spark,
        Files.createTempDirectory("graft-clicompact-ledger").toString))
      // a live foreign holder refuses the repair (exit 1, state intact)
      val statePath = WriterLease.tableStatePath(spark, lm)
      WriterLease.acquire(spark, statePath, owner = "other-job")
      assert(OpsCli.run(spark, ops, "compactLm", List(lm, "4")) == 1)
      assert(spark.catalog.tableExists(s"${lm}_delta_tags"),
        "a refused repair must not touch the deltas")
      WriterLease.release(spark, statePath, owner = "other-job")
      // malformed optional args are usage errors, not silent defaults
      assert(OpsCli.run(spark, ops, "compactLm", List(lm, "four")) == 2)
      assert(OpsCli.run(spark, ops, "compactLm", List(lm, "4", "0")) == 2)
      assert(spark.catalog.tableExists(s"${lm}_delta_tags"))
      // freed: the compaction folds the delta in
      assert(OpsCli.run(spark, ops, "compactLm", List(lm, "4")) == 0)
      assert(!spark.catalog.tableExists(s"${lm}_delta_tags"))
      def m(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m(NgramLM.load(spark, lm).bigrams) ==
        m(NgramLM.fit(corpus.union(day2), "doc_id", "text").bigrams))
    } finally Seq("_bigrams", "_prefixes", "_vocab", "_meta", "_tags",
      "_delta_bigrams", "_delta_prefixes", "_delta_vocab", "_delta_tags")
      .foreach(s => spark.sql(s"DROP TABLE IF EXISTS $lm$s"))
  }

  test("CLI crash-repair arms: pendingSwap status + recoverMerge roll an interrupted bucket swap back") {
    import spark.implicits._
    val ops = new Ops(spark, new Ledger(spark,
      Files.createTempDirectory("graft-rm-ledger").toString))
    val dir = Files.createTempDirectory("graft-rm").toString + "/t"
    graft.operators.StoredMerge.writeBuckets(
      Seq((1L, "v1"), (2L, "v2")).toDF("k", "v"), dir, Seq("k"), nBuckets = 4)
    // fabricate the crash window recoverMerge exists for: a live bucket
    // renamed aside, its replacement never renamed in
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).find(_.getName.startsWith("__bucket=")).get
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir.old_tmp"))
    assert(fs.rename(live, new org.apache.hadoop.fs.Path(s"$dir.old_tmp/${live.getName}")))
    assert(OpsCli.run(spark, ops, "pendingSwap", List(dir)) == 1,
      "a mid-swap table must read as pending")
    assert(OpsCli.run(spark, ops, "recoverMerge", List(dir)) == 0)
    assert(OpsCli.run(spark, ops, "pendingSwap", List(dir)) == 0,
      "recovery must clear the pending state")
    val rows = graft.operators.StoredMerge.readBuckets(spark, dir)
      .drop("__bucket").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "v1", 2L -> "v2"),
      "the rolled-back bucket must return whole")
    // leaseStatus readout: unheld -> 0, live -> 1, released -> 0
    assert(OpsCli.run(spark, ops, "leaseStatus", List(dir)) == 0)
    graft.operators.WriterLease.acquire(spark, dir, owner = "job-x")
    assert(OpsCli.run(spark, ops, "leaseStatus", List(dir)) == 1,
      "a live lease must read as blocking")
    // repairs under a LIVE lease are refused (repairing would roll
    // back the holder's in-flight swap) and resume after release
    val errSave = System.err
    try {
      System.setErr(new java.io.PrintStream(new java.io.ByteArrayOutputStream()))
      assert(OpsCli.run(spark, ops, "recoverMerge", List(dir)) == 1,
        "a repair must refuse while a live job holds the lease")
    } finally System.setErr(errSave)
    graft.operators.WriterLease.release(spark, dir, "job-x")
    assert(OpsCli.run(spark, ops, "leaseStatus", List(dir)) == 0)
    assert(OpsCli.run(spark, ops, "recoverMerge", List(dir)) == 0,
      "the repair lands once the lease frees")
  }

  test("CLI crash-repair arms: rebuildBloom restores a lost bloom; recoverLm finishes an interrupted LM append") {
    import spark.implicits._
    val ops = new Ops(spark, new Ledger(spark,
      Files.createTempDirectory("graft-rb-ledger").toString))
    val t0 = System.nanoTime()
    val dedup = s"clirb_${t0}_dedup"
    val lm = s"clirb_${t0}_lm"
    try {
      val corpus = Seq((0L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text")
      graft.operators.DedupIndex.saveCorpus(spark, corpus, "doc_id", "text", dedup)
      spark.sql(s"DROP TABLE ${dedup}_bloom") // the crash casualty
      assert(OpsCli.run(spark, ops, "rebuildBloom", List(dedup)) == 0)
      val pruned = graft.operators.DedupIndex.bloomPrune(spark, dedup,
        graft.operators.DedupIndex.batchBuckets(
          Seq((9L, "zxqv blorp wug snarf glip norb quux zelch vrump"))
            .toDF("doc_id", "text"), "doc_id", "text"))
      assert(pruned.count() == 0, "the rebuilt bloom must prune a clean batch")

      graft.operators.NgramLM.store(
        graft.operators.NgramLM.fit(corpus, "doc_id", "text"), lm, buckets = 4)
      // die after the commit marker: the staged model is complete and
      // recoverLm must roll it FORWARD
      intercept[IllegalStateException] {
        graft.operators.NgramLM.appendToStoredImpl(spark, lm,
          Seq((1L, "a new dog barks")).toDF("doc_id", "text"), "doc_id", "text",
          buckets = 4, batchTag = Some("b1"), crashAfterStep = 2)
      }
      assert(OpsCli.run(spark, ops, "recoverLm", List(lm)) == 0)
      assert(!spark.catalog.tableExists(s"${lm}__commit"),
        "recovery must consume the commit marker")
      val model = graft.operators.NgramLM.load(spark, lm)
      assert(model.vocabSize > 9L, "the staged append must have landed")
    } finally Seq(s"${dedup}_buckets", s"${dedup}_sets", s"${dedup}_bloom",
      s"${lm}_bigrams", s"${lm}_prefixes", s"${lm}_vocab", s"${lm}_meta",
      s"${lm}_tags", s"${lm}__stage_bigrams", s"${lm}__stage_prefixes",
      s"${lm}__stage_vocab", s"${lm}__stage_meta", s"${lm}__stage_tags",
      s"${lm}__commit")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("CLI curationIngest: an empty docs directory without --schema fails with a clear message and exit 2; --schema starts") {
    import spark.implicits._
    val ops = new Ops(spark, new Ledger(spark,
      Files.createTempDirectory("graft-sch-ledger").toString))
    val t0 = System.nanoTime()
    val dedup = s"clisch_${t0}_dedup"
    val lm = s"clisch_${t0}_lm"
    try {
      val corpus = Seq((0L, "the quick brown fox jumps over the lazy dog"))
        .toDF("doc_id", "text")
      graft.operators.DedupIndex.saveCorpus(spark, corpus, "doc_id", "text", dedup)
      graft.operators.NgramLM.store(
        graft.operators.NgramLM.fit(corpus, "doc_id", "text"), lm)
      val root = Files.createTempDirectory("graft-clisch").toString
      // no docs written: the pre-r13 path threw a raw AnalysisException
      val err = new java.io.ByteArrayOutputStream()
      val realErr = System.err
      val code = try {
        System.setErr(new java.io.PrintStream(err))
        OpsCli.run(spark, ops, "curationIngest",
          List(s"$root/docs", dedup, lm, s"$root/offsets", "0.0",
            s"$root/labeled", s"$root/manifest", s"$root/ckpt", "--once"))
      } finally System.setErr(realErr)
      assert(code == 2, "schema probe failure must exit 2, not throw")
      assert(err.toString.contains("--schema"),
        s"the error must point at the --schema escape hatch: $err")
      // with --schema the stream starts (and drains zero batches)
      Files.createDirectories(Paths.get(s"$root/docs"))
      val code2 = OpsCli.run(spark, ops, "curationIngest",
        List(s"$root/docs", dedup, lm, s"$root/offsets", "0.0",
          s"$root/labeled", s"$root/manifest", s"$root/ckpt", "--once",
          "--schema", "doc_id BIGINT, text STRING"))
      assert(code2 == 0, "an explicit schema must start the stream on an empty dir")
    } finally Seq(s"${dedup}_buckets", s"${dedup}_sets", s"${dedup}_bloom",
      s"${lm}_bigrams", s"${lm}_prefixes", s"${lm}_vocab", s"${lm}_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("CLI encryptValue: round-trips through the keystore (encrypt + decrypt-verify)") {
    val ledgerDir = Files.createTempDirectory("graft-ev-ledger").toString
    val ops = new Ops(spark, new Ledger(spark, ledgerDir))
    val keyPath = Files.createTempDirectory("graft-ev-key").resolve("master.key")
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(out)) {
      OpsCli.run(spark, ops, "encryptValue", List(keyPath.toString, "s3cret"))
    }
    assert(code == 0)
    val ct = out.toString.trim
    assert(ct.nonEmpty && ct != "s3cret")
    assert(new graft.crypto.Keystore(keyPath).decrypt(ct) == "s3cret")
  }
}
