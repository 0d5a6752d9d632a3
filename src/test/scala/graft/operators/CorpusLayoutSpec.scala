package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class CorpusLayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-layout-wh").toString)
    .getOrCreate()

  private def freshTable(prefix: String) = s"$prefix${System.nanoTime()}"

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  test("partitioned+bucketed write: slice reads prune partitions, id joins skip the stored exchange") {
    val tbl = freshTable("layout")
    try {
      CorpusLayout.writeCurated(docs, tbl,
        partitionCols = Seq("lang"), bucketCol = "doc_id", buckets = 8)

      // identical content
      assert(spark.table(tbl).count() == docs.count())

      // 1) partition pruning: the 'en' slice scan filters partitions
      val slice = CorpusLayout.readSlice(spark, tbl, "lang", "en")
      val p = slice.queryExecution.explainString(FormattedMode)
      assert(p.contains("PartitionFilters") && p.contains("lang"),
        s"expected a partition-pruned scan:\n$p")
      val enCount = docs.filter(col("lang") === "en").count()
      assert(slice.count() == enCount)

      // 2) bucketed join: stored side needs no Exchange on doc_id
      val probe = docs.select(col("doc_id")).limit(10)
      val joined = spark.table(tbl).join(
        probe.hint("SHUFFLE_HASH"), Seq("doc_id"))
      val jp = joined.queryExecution.explainString(FormattedMode)
      assert(jp.contains("SelectedBucketsCount") || jp.contains("Bucketed: true"),
        s"stored side should scan bucketed:\n$jp")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("maxRecordsPerFile bounds file sizes") {
    val tbl = freshTable("layoutsz")
    try {
      CorpusLayout.writeCurated(docs, tbl,
        partitionCols = Seq.empty, bucketCol = "doc_id", buckets = 2,
        maxRecordsPerFile = 20L)
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
        .filter(col("col_name") === "Location")
        .collect().head.getString(1).stripPrefix("file:")
      val files = new java.io.File(loc).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
      assert(files.nonEmpty)
      files.foreach { f =>
        val n = spark.read.parquet(f.getAbsolutePath).count()
        assert(n <= 20, s"${f.getName} holds $n rows > 20")
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("planCompaction: bins match a sequential driver reference; oversized items fill bins alone; no low-cardinality window sort in the plan") {
    import spark.implicits._
    val rnd = new scala.util.Random(83)
    val rows = (for {
      g <- Seq("a", "b"); i <- 1 to 200
    } yield (g, i.toLong, (rnd.nextInt(40) + 1).toLong)) ++
      Seq(("a", 500L, 1000L), ("a", 501L, 7L)) // 1000 >> target: fills bins alone
    val out = CorpusLayout.planCompaction(
        rows.toDF("g", "id", "bytes"), Seq("g"), "id", "bytes",
        targetBytes = 100L, slices = 4)
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("id")) ->
        (r.getAs[Long]("cum_bytes"), r.getAs[Long]("bin"))).toMap

    rows.groupBy(_._1).foreach { case (g, items) =>
      var cum = 0L
      items.sortBy(_._2).foreach { case (_, id, sz) =>
        val bin = cum / 100L // first byte of this item
        cum += sz
        assert(out((g, id)) == ((cum, bin)), s"($g,$id)")
      }
    }
    // the straddler after the 1000-byte item starts in the giant's last bin
    val (bigCum, bigBin) = out(("a", 500L))
    val (_, afterBin) = out(("a", 501L))
    assert(afterBin == bigCum / 100L && bigBin < afterBin)

    // scale audit: every window sort in the plan partitions by the
    // sliced key, never by the raw low-cardinality group alone
    val plan = CorpusLayout.planCompaction(
      rows.toDF("g", "id", "bytes"), Seq("g"), "id", "bytes", 100L, 4)
      .queryExecution.explainString(FormattedMode)
    assert(plan.contains("__slice"), "expected the sliced-cumsum shape")
  }

  test("zOrderKey: exhaustive 8-bit interleave matches the bit-spec reference") {
    import spark.implicits._
    def ref(a: Long, b: Long): Long =
      (0 until 8).map(i => (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))).sum
    val got = (0 until 256).flatMap(a => Seq((a.toLong, (a * 37 + 11) % 256L)))
      .toDF("a", "b")
      .withColumn("z", CorpusLayout.zOrderKey(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"), 8))
      .collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("z")))
    got.foreach { case (a, b, z) => assert(z == ref(a, b), s"a=$a b=$b") }
  }

  test("zOrderKey locality: an aligned 4^k z-block is a 2^k x 2^k square in dim space") {
    import spark.implicits._
    // exhaustive 6-bit domain: every aligned 4^3 block must span <= 2^3 per dim
    val rows = for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong)
    val spans = rows.toDF("a", "b")
      .withColumn("z", CorpusLayout.zOrderKey(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"), 6))
      .selectExpr("z div 64 AS blk", "a", "b")
      .groupBy("blk")
      .agg(org.apache.spark.sql.functions.expr("max(a) - min(a)").as("sa"),
        org.apache.spark.sql.functions.expr("max(b) - min(b)").as("sb"))
      .collect()
    spans.foreach { r =>
      assert(r.getAs[Long]("sa") <= 7L && r.getAs[Long]("sb") <= 7L,
        s"block ${r.getAs[Long]("blk")} spans ${r.getAs[Long]("sa")}x${r.getAs[Long]("sb")}")
    }
  }

  test("zOrderKey: out-of-budget bits are masked, not overflowed") {
    import spark.implicits._
    val z = Seq((256L + 3L, 0L)).toDF("a", "b")
      .withColumn("z", CorpusLayout.zOrderKey(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"), 8))
      .head().getAs[Long]("z")
    // 259 masked to 8 bits = 3 -> interleaved 0b101 at even positions = 5
    assert(z == 5L)
  }

  test("zOrderKeyN: 2-dim form equals zOrderKey; 3-dim matches the bit-spec reference") {
    import spark.implicits._
    def refN(vals: Seq[Long], bits: Int): Long = {
      var out = 0L
      for (i <- 0 until bits; c <- vals.indices)
        out |= (((vals(c) >> i) & 1L) << (i * vals.size + c))
      out
    }
    val pairs = for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)
    val two = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        CorpusLayout.zOrderKey(col("a"), col("b"), 4).as("z2"),
        CorpusLayout.zOrderKeyN(Seq(col("a"), col("b")), 4).as("zn"))
      .collect()
    assert(two.forall(r => r.getAs[Long]("z2") == r.getAs[Long]("zn")))

    val triples = for (a <- 0L until 8L; b <- 0L until 8L; c <- 0L until 8L)
      yield (a, b, c)
    val three = triples.toDF("a", "b", "c")
      .select(col("a"), col("b"), col("c"),
        CorpusLayout.zOrderKeyN(Seq(col("a"), col("b"), col("c")), 3).as("z"))
      .collect()
    assert(three.forall { r =>
      r.getAs[Long]("z") == refN(
        Seq(r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Long]("c")), 3)
    })
    // distinct inputs -> distinct keys within the budget
    assert(three.map(_.getAs[Long]("z")).distinct.length == triples.size)
  }

  test("pruneEstimate: sorted layout prunes, shuffled layout reads everything") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // 100 values 0..99; sorted layout = 10 tight buckets of 10, shuffled
    // layout = value mod 10 (every bucket's envelope spans ~the domain)
    val df = (0L until 100L).toDF("v")
    val sorted = CorpusLayout.pruneEstimate(df, expr("v div 10"), col("v"),
      Seq((0L, 9L), (35L, 44L), (200L, 300L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    assert(sorted((0L, 9L)) == ((10L, 1L, 100L, 10L, 10L)))
    assert(sorted((35L, 44L)) == ((10L, 2L, 100L, 20L, 10L)),
      "straddling range touches both neighbor buckets")
    assert(sorted((200L, 300L)) == ((10L, 0L, 100L, 0L, 0L)),
      "out-of-domain predicate touches nothing")
    val shuffled = CorpusLayout.pruneEstimate(df, expr("v % 10"), col("v"),
      Seq((35L, 44L))).head()
    assert(shuffled.getLong(3) == 10L && shuffled.getLong(5) == 100L,
      "mod layout: every bucket touched, full scan for 10 matches")
    // zone maps are null-aware: a null-only bucket is never touched
    val withNulls = Seq((0L, Some(5L)), (1L, None), (1L, None))
      .toDF("b", "v")
    val np = CorpusLayout.pruneEstimate(withNulls, col("b"), col("v"),
      Seq((0L, 10L))).head()
    assert(np.getLong(3) == 1L && np.getLong(4) == 3L &&
      np.getLong(5) == 1L && np.getLong(6) == 1L)
  }
}
