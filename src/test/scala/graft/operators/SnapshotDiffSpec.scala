package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class SnapshotDiffSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  test("diff classifies added/removed/changed/unchanged, null-safely") {
    val prev = Seq(
      (1L, Some("a"), 10), (2L, Some("b"), 20), (3L, None: Option[String], 30),
      (4L, Some("d"), 40), (5L, None: Option[String], 50)
    ).toDF("k", "v", "x")
    val next = Seq(
      (1L, Some("a"), 10),              // unchanged
      (2L, Some("B"), 20),              // changed (v)
      (3L, None: Option[String], 31),   // changed (x; null v compares equal)
      (5L, None: Option[String], 50),   // unchanged (null <=> null)
      (6L, Some("f"), 60)               // added
    ).toDF("k", "v", "x")
    val got = SnapshotDiff.diff(prev, next, Seq("k"), Seq("v", "x"))
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("change_type")).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "unchanged", 6L -> "added"))
  }

  test("summary counts per change type") {
    val prev = Seq((1L, 1), (2L, 2)).toDF("k", "v")
    val next = Seq((2L, 9), (3L, 3)).toDF("k", "v")
    val got = SnapshotDiff.summary(prev, next, Seq("k"), Seq("v"))
      .collect().map(r => r.getAs[String]("change_type") -> r.getAs[Long]("n_keys")).toMap
    assert(got == Map("added" -> 1L, "removed" -> 1L, "changed" -> 1L))
  }

  test("multi-column keys") {
    val prev = Seq((1L, "x", 10), (1L, "y", 20)).toDF("k1", "k2", "v")
    val next = Seq((1L, "x", 10), (1L, "z", 30)).toDF("k1", "k2", "v")
    val got = SnapshotDiff.diff(prev, next, Seq("k1", "k2"), Seq("v"))
      .collect().map(r => (r.getAs[Long]("k1"), r.getAs[String]("k2")) ->
        r.getAs[String]("change_type")).toMap
    assert(got == Map((1L, "x") -> "unchanged", (1L, "y") -> "removed",
      (1L, "z") -> "added"))
  }

  test("summaryByBuckets equals the naive summary, dense in all four types") {
    import org.apache.spark.sql.functions._
    val prev = spark.range(0, 2000)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
    // mutate: drop %131, change %17, add 2000..2009
    val next = prev.filter(col("k") % 131 =!= 0)
      .withColumn("v", when(col("k") % 17 === 0, col("v") + 100).otherwise(col("v")))
      .unionByName(spark.range(2000, 2010)
        .select(col("id").as("k"), lit(0L).as("v")))
    def toMapRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val naive = toMapRows(SnapshotDiff.summary(prev, next, Seq("k"), Seq("v")))
    val scoped = toMapRows(
      SnapshotDiff.summaryByBuckets(prev, next, Seq("k"), Seq("v"), nBuckets = 16))
    // the naive summary is sparse; densify for the compare
    val dense = Seq("added", "removed", "changed", "unchanged")
      .map(t => t -> naive.getOrElse(t, 0L)).toMap
    assert(scoped == dense, s"scoped $scoped vs naive $dense")

    // identical states: every bucket agrees, NOTHING joins — all
    // unchanged comes from the checksum reconstitution alone
    val same = toMapRows(
      SnapshotDiff.summaryByBuckets(prev, prev, Seq("k"), Seq("v"), nBuckets = 16))
    assert(same == Map("added" -> 0L, "removed" -> 0L, "changed" -> 0L,
      "unchanged" -> 2000L))
  }
}
