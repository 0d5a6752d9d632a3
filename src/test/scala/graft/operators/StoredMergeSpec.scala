package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Hadoop signals most rename failures by RETURNING FALSE, not throwing
  * (the LedgerCrashSpec recipe). This local filesystem makes the two
  * bucket-swap renames do exactly that, selected by path shape so the
  * parquet write-commit renames INSIDE `.merge_tmp` are untouched.
  */
class FlakyMergeRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "flakym"
  override def getUri: java.net.URI = java.net.URI.create("flakym:///")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = {
    val aside = dst.toString.contains(".old_tmp/")
    val in = src.toString.contains(".merge_tmp/") &&
      !dst.toString.contains(".merge_tmp")
    FlakyMergeRenameFileSystem.mode match {
      case "fail-aside" if aside => false
      case "fail-in" if in => false
      case _ => super.rename(src, dst)
    }
  }
}
object FlakyMergeRenameFileSystem { @volatile var mode: String = "off" }

class StoredMergeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-merge-wh").toString)
    .getOrCreate()
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
    df.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
      r.getAs[Long]("ver"))).toSet

  test("upsert: replace on key match, insert new keys, pass through the rest") {
    val stored = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L)).toDF("k", "v", "ver")
    val updates = Seq((2L, "B", 2L), (4L, "d", 2L)).toDF("k", "v", "ver")
    val got = rows(StoredMerge.upsert(stored, updates, Seq("k")))
    assert(got == Set((1L, "a", 1L), (2L, "B", 2L), (3L, "c", 1L), (4L, "d", 2L)))
  }

  test("upsertLatest: a stale update must not clobber a newer stored row") {
    val stored = Seq((1L, "new", 5L), (2L, "old", 1L)).toDF("k", "v", "ver")
    val updates = Seq((1L, "stale", 3L), (2L, "fresh", 4L), (3L, "ins", 1L))
      .toDF("k", "v", "ver")
    val got = rows(StoredMerge.upsertLatest(stored, updates, Seq("k"), "ver", "v"))
    assert(got == Set((1L, "new", 5L), (2L, "fresh", 4L), (3L, "ins", 1L)))
  }

  test("upsertLatest: version ties resolve by the tie-break column, deterministically") {
    val stored = Seq((1L, "aa", 7L)).toDF("k", "v", "ver")
    val updates = Seq((1L, "zz", 7L)).toDF("k", "v", "ver")
    val got = rows(StoredMerge.upsertLatest(stored, updates, Seq("k"), "ver", "v"))
    assert(got == Set((1L, "zz", 7L))) // 'zz' > 'aa'
  }

  test("requireUniqueKeys rejects a batch with duplicate keys") {
    val dup = Seq((1L, "a", 1L), (1L, "b", 2L)).toDF("k", "v", "ver")
    intercept[IllegalArgumentException] {
      StoredMerge.requireUniqueKeys(dup, Seq("k"))
    }
    StoredMerge.requireUniqueKeys(dup.limit(1), Seq("k")) // unique: fine
  }

  test("upsertBuckets: only touched bucket dirs rewrite; the rest are byte-identical") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-bktmerge").toString + "/t"
    val base = spark.range(0, 1000)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"),
        lit(1L).as("ver"))
    StoredMerge.writeBuckets(base, dir, Seq("k"), nBuckets = 8)

    def snapshot(): Map[String, String] = {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map { p =>
          val md = java.security.MessageDigest.getInstance("MD5")
          p.toString -> md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
        }.toMap
    }
    val before = snapshot()

    // a narrow batch: 3 updated keys + 2 inserts → a few touched buckets
    val updates = Seq((5L, "V5", 2L), (17L, "V17", 2L), (500L, "V500", 2L),
      (2000L, "new", 2L), (2001L, "new", 2L)).toDF("k", "v", "ver")
    val touched = updates
      .select(pmod(xxhash64(col("k")), lit(8L)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(touched.size < 8, s"test needs untouched buckets, got $touched")
    StoredMerge.upsertBuckets(spark, dir, updates, Seq("k"), nBuckets = 8)

    // content: exactly the batch-wins merge
    val got = StoredMerge.readBuckets(spark, dir).drop("__bucket")
    assert(rows(got) == rows(StoredMerge.upsert(base, updates, Seq("k"))))

    // untouched buckets: same files, byte-identical; touched: rewritten
    val after = snapshot()
    def bucketOfPath(p: String): Long =
      "__bucket=(\\d+)".r.findFirstMatchIn(p).get.group(1).toLong
    val beforeUntouched = before.filter(e => !touched(bucketOfPath(e._1)))
    val afterUntouched = after.filter(e => !touched(bucketOfPath(e._1)))
    assert(beforeUntouched == afterUntouched,
      "untouched bucket files must not be rewritten")
    assert(before.keySet.filter(p => touched(bucketOfPath(p)))
      .forall(p => !after.contains(p)),
      "touched bucket files must have been swapped out")

    // second merge accretes (replace one of the inserts)
    StoredMerge.upsertBuckets(spark,
      dir, Seq((2000L, "NEW", 3L)).toDF("k", "v", "ver"), Seq("k"), nBuckets = 8)
    val twice = rows(StoredMerge.readBuckets(spark, dir).drop("__bucket"))
    assert(twice.contains((2000L, "NEW", 3L)) && twice.size == 1002)
  }

  test("upsertBuckets: the stored scan prunes to touched buckets only") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-bktprune").toString + "/t"
    val base = spark.range(0, 200)
      .select(col("id").as("k"), lit("x").as("v"), lit(1L).as("ver"))
    StoredMerge.writeBuckets(base, dir, Seq("k"), nBuckets = 8)
    // the pruning the merge relies on: a touched-bucket filter must cut
    // the partition count at the scan, not post-read
    val one = StoredMerge.readBuckets(spark, dir).filter(col("__bucket").isin(3L))
    val scan = one.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("__bucket"),
      s"expected partition pruning in scan:\n$scan")
  }

  // ---- crash-atomicity of the bucket swap ------------------------------
  // Each test stages a table + a batch touching ≥ 2 buckets, crashes the
  // swap at one of its three steps, and asserts the three-part contract:
  // (1) the live tree is READABLE immediately (no aside debris inside it —
  // the pre-fix bug parked `__bucket=N.old` in the live tree, an
  // unparseable partition value that bricked discovery); (2) recoverMerge
  // leaves every bucket fully old or fully new; (3) retrying the same
  // batch converges to the exact merged state with zero debris.

  private def crashFixture(tag: String) = {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory(s"graft-crash-$tag")
      .toString + "/t"
    val base = spark.range(0, 400)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"),
        lit(1L).as("ver"))
    StoredMerge.writeBuckets(base, dir, Seq("k"), nBuckets = 4)
    // keys spread over several buckets so the swap loop has >1 iteration
    val updates = Seq((1L, "U1", 2L), (2L, "U2", 2L), (3L, "U3", 2L),
      (7L, "U7", 2L), (900L, "ins", 2L)).toDF("k", "v", "ver")
    (dir, base, updates)
  }

  private def noDebris(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir + ".old_tmp")), "stray aside root")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir + ".merge_tmp")), "stray merge tmp")
    import scala.jdk.CollectionConverters._
    val stray = java.nio.file.Files.list(p).iterator().asScala
      .map(_.getFileName.toString).filter(_.contains(".old")).toSeq
    assert(stray.isEmpty, s"aside debris inside the live tree: $stray")
  }

  for (step <- 1 to 3)
    test(s"upsertBuckets crash after step $step: readable now, retry converges") {
      val (dir, base, updates) = crashFixture(s"s$step")
      intercept[IllegalStateException] {
        StoredMerge.upsertBucketsImpl(spark, dir, updates, Seq("k"),
          nBuckets = 4, crashAfterStep = step)
      }
      // (1) READER VISIBILITY mid-crash (r11 contract): before any
      // rename (step 1) the live tree is untouched — a reader sees the
      // OLD table exactly; once asides exist (steps 2/3, when a live
      // bucket can be transiently absent) the open FAILS LOUDLY
      // instead of silently missing a bucket's rows.
      if (step == 1) {
        assert(!StoredMerge.pendingSwap(spark, dir))
        val mid = rows(StoredMerge.readBuckets(spark, dir).drop("__bucket"))
        assert(mid == rows(base.toDF("k", "v", "ver")),
          "pre-swap crash: reader must see the old table bit-exactly")
      } else {
        assert(StoredMerge.pendingSwap(spark, dir))
        val e = intercept[IllegalStateException] {
          StoredMerge.readBuckets(spark, dir)
        }
        assert(e.getMessage.contains("unfinished bucket swap"))
      }
      // (2) explicit repair: every bucket complete (old or new), table
      // row-for-row consistent with a per-bucket old/new choice
      StoredMerge.recoverMerge(spark, dir)
      val oldRows = rows(base.toDF("k", "v", "ver"))
      val newRows = rows(StoredMerge.upsert(base, updates, Seq("k")))
      val recovered = rows(StoredMerge.readBuckets(spark, dir).drop("__bucket"))
      assert(recovered.forall(r => oldRows(r) || newRows(r)))
      assert(oldRows.intersect(newRows).subsetOf(recovered),
        "rows common to both states must survive any per-bucket choice")
      // (3) retry of the SAME batch (entry recovery runs implicitly)
      StoredMerge.upsertBuckets(spark, dir, updates, Seq("k"), nBuckets = 4)
      assert(rows(StoredMerge.readBuckets(spark, dir).drop("__bucket")) == newRows)
      noDebris(dir)
    }

  test("a frame opened BEFORE a swap fails loudly when its files rename away — never silent missing rows") {
    val dir = java.nio.file.Files.createTempDirectory("smv").toString + "/t"
    import spark.implicits._
    StoredMerge.writeBuckets(
      Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L), (6L, "d", 1L))
        .toDF("k", "v", "ver"), dir, Seq("k"), nBuckets = 4)
    val preOpened = StoredMerge.readBuckets(spark, dir) // pins the file listing
    // simulate the swap window: one live bucket renamed aside
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buckets = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).filter(_.getName.startsWith("__bucket="))
    assert(buckets.nonEmpty)
    val victim = buckets.head
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + ".old_tmp"))
    assert(fs.rename(victim,
      new org.apache.hadoop.fs.Path(dir + ".old_tmp/" + victim.getName)))
    // the pre-opened frame must not silently return a partial table
    intercept[Exception] { preOpened.collect() }
    // and a NEW open refuses while the swap is pending
    intercept[IllegalStateException] { StoredMerge.readBuckets(spark, dir) }
    // recovery rolls the bucket home; reads heal
    StoredMerge.recoverMerge(spark, dir)
    assert(StoredMerge.readBuckets(spark, dir).count() == 4L)
  }

  test("upsertBuckets: rename returning FALSE aborts before any delete") {
    import org.apache.spark.sql.functions._
    spark.sparkContext.hadoopConfiguration.set(
      "fs.flakym.impl", classOf[FlakyMergeRenameFileSystem].getName)
    FlakyMergeRenameFileSystem.mode = "off"
    val dir = "flakym:" + java.nio.file.Files
      .createTempDirectory("graft-flakymerge").toString + "/t"
    val base = spark.range(0, 200)
      .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"),
        lit(1L).as("ver"))
    StoredMerge.writeBuckets(base, dir, Seq("k"), nBuckets = 4)
    val updates = Seq((1L, "U1", 2L), (2L, "U2", 2L)).toDF("k", "v", "ver")
    try {
      // aside rename fails silently → abort with the live table untouched
      FlakyMergeRenameFileSystem.mode = "fail-aside"
      val ex = intercept[java.io.IOException] {
        StoredMerge.upsertBuckets(spark, dir, updates, Seq("k"), nBuckets = 4)
      }
      assert(ex.getMessage.contains("rename"))
      FlakyMergeRenameFileSystem.mode = "off"
      assert(rows(StoredMerge.readBuckets(spark, dir).drop("__bucket")) ==
        rows(base.toDF("k", "v", "ver")))

      // rename-IN fails after the live bucket moved aside: abort loudly,
      // and the next merge's entry recovery self-heals before retrying
      FlakyMergeRenameFileSystem.mode = "fail-in"
      intercept[java.io.IOException] {
        StoredMerge.upsertBuckets(spark, dir, updates, Seq("k"), nBuckets = 4)
      }
      FlakyMergeRenameFileSystem.mode = "off"
      StoredMerge.upsertBuckets(spark, dir, updates, Seq("k"), nBuckets = 4)
      assert(rows(StoredMerge.readBuckets(spark, dir).drop("__bucket")) ==
        rows(StoredMerge.upsert(base, updates, Seq("k"))))
    } finally FlakyMergeRenameFileSystem.mode = "off"
  }

  test("upsertStored: a crash at either swap step converges on retry (entry repair for the dangling-name window)") {
    for (step <- 1 to 2) {
      val tbl = s"mergecr${step}_${System.nanoTime()}"
      try {
        Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ver")
          .write.bucketBy(4, "k").sortBy("k").saveAsTable(tbl)
        val updates = Seq((2L, "B", 2L), (3L, "c", 2L)).toDF("k", "v", "ver")
        intercept[IllegalStateException] {
          StoredMerge.upsertStoredImpl(spark, tbl, updates, Seq("k"),
            buckets = 4, crashAfterStep = step)
        }
        if (step == 2) // the dangling window: name dropped, result in tmp
          assert(!spark.catalog.tableExists(tbl) &&
            spark.catalog.tableExists(s"${tbl}__merge_tmp"))
        // retry the SAME merge (batch-wins ⇒ idempotent) — entry repair
        // completes the interrupted swap first
        StoredMerge.upsertStored(spark, tbl, updates, Seq("k"), buckets = 4)
        assert(rows(spark.table(tbl)) ==
          Set((1L, "a", 1L), (2L, "B", 2L), (3L, "c", 2L)), s"step $step")
        assert(!spark.catalog.tableExists(s"${tbl}__merge_tmp"), s"step $step: no stale tmp")
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        spark.sql(s"DROP TABLE IF EXISTS ${tbl}__merge_tmp")
      }
    }
  }

  test("upsertStored: two successive merges accrete correctly and keep the bucket layout") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val tbl = s"merge${System.nanoTime()}"
    try {
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ver")
        .write.bucketBy(4, "k").sortBy("k").saveAsTable(tbl)
      StoredMerge.upsertStored(spark, tbl,
        Seq((2L, "B", 2L), (3L, "c", 2L)).toDF("k", "v", "ver"), Seq("k"), buckets = 4)
      StoredMerge.upsertStored(spark, tbl,
        Seq((3L, "C", 3L), (4L, "d", 3L)).toDF("k", "v", "ver"), Seq("k"), buckets = 4)
      assert(rows(spark.table(tbl)) ==
        Set((1L, "a", 1L), (2L, "B", 2L), (3L, "C", 3L), (4L, "d", 3L)))

      // the stored side of the NEXT merge's anti-join rides its
      // bucketing — no exchange over the stored scan (forced SMJ)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val next = StoredMerge.upsert(spark.table(tbl),
          Seq((4L, "D", 4L)).toDF("k", "v", "ver"), Seq("k"))
        next.collect()
        val plan = next.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        def overStored(p: SparkPlan): Boolean =
          p.collectLeaves().exists(_.toString.contains(tbl))
        val shuffles = plan.collect {
          case s: ShuffleExchangeExec if overStored(s) => s
        }
        assert(shuffles.isEmpty, s"stored side must ride its bucketing:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }
}
