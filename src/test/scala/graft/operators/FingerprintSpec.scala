package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class FingerprintSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def base = spark.range(0, 1000)
    .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))

  private def sums(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("checksum is order- and partitioning-independent, detects any single-row change") {
    val a = Fingerprint.checksumBy(base, col("k") % 8, Seq(col("k"), col("v")))
    val b = Fingerprint.checksumBy(
      base.orderBy(rand(7)).repartition(13), col("k") % 8, Seq(col("k"), col("v")))
    assert(sums(a) == sums(b), "order/partitioning must not matter")

    // flip one row's value: exactly that row's bucket disagrees
    val mutated = base.withColumn("v",
      when(col("k") === 123L, lit("CHANGED")).otherwise(col("v")))
    val c = Fingerprint.checksumBy(mutated, col("k") % 8, Seq(col("k"), col("v")))
    val diff = Fingerprint.diffChecksums(a, c).collect().map(_.getLong(0)).toSet
    assert(diff == Set(123L % 8), s"got $diff")
  }

  test("mergeable: per-shard checksums add to the table checksum (mod 2^61)") {
    val whole = Fingerprint.tableChecksum(base, Seq(col("k"), col("v")))
      .collect().head
    val shards = Fingerprint.checksumBy(base, col("k") % 5, Seq(col("k"), col("v")))
      .collect()
    val folded = shards.map(r => BigInt(r.getLong(2))).sum
      .mod(BigInt(2305843009213693952L)).toLong
    assert(whole.getLong(0) == 1000L)
    assert(folded == whole.getLong(1), "shard checksums must fold to the table checksum")
  }

  test("null-safe canonicalization: field boundaries survive nulls and splits") {
    def sig(c1: String, c2: String): Long =
      Seq((c1, c2)).toDF("c1", "c2")
        .select(Fingerprint.rowSignature(Seq(col("c1"), col("c2"))).as("s"))
        .head.getLong(0)
    // the \u0001 separator keeps field boundaries: a value sliding
    // across columns, or a null, must change the signature
    val aNull = sig("a", null)
    assert(aNull != sig("", "a"), "(a,null) must differ from ('',a)")
    assert(aNull != sig("a", ""), "(a,null) must differ from (a,'') — NULL has its own sentinel")
    assert(aNull != sig("a", "b"))
    assert(sig("ab", "c") != sig("a", "bc"), "boundary shift must change the signature")
    // deterministic: same row, same signature, and it matches the
    // md5('a' + SEP + NUL) parse any engine computes (NULL renders as
    // the chr(0) sentinel, never the empty string)
    assert(aNull == sig("a", null))
    val expected = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest("a\u0001\u0000".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15), 16)
    assert(aNull == expected, "signature must be the md5-hex 15-char parse")
  }

  test("audits upsertBuckets: untouched buckets keep their checksum, touched change") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fpmerge").toString + "/t"
    val t = base.withColumn("ver", lit(1L))
    StoredMerge.writeBuckets(t, dir, Seq("k"), nBuckets = 8)
    def snap() = sums(Fingerprint.checksumBy(
      StoredMerge.readBuckets(spark, dir),
      // the partition column reads back as int — normalize for sums()
      col("__bucket").cast("long"), Seq(col("k"), col("v"), col("ver"))))
    val before = snap()
    val updates = Seq((7L, "V7", 2L), (250L, "V250", 2L)).toDF("k", "v", "ver")
    val touched = updates.select(pmod(xxhash64(col("k")), lit(8L)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSet
    StoredMerge.upsertBuckets(spark, dir, updates, Seq("k"), nBuckets = 8)
    val after = snap()
    assert(before.keySet == after.keySet)
    for (b <- before.keySet) {
      if (touched(b)) assert(before(b) != after(b), s"touched bucket $b must change")
      else assert(before(b) == after(b), s"untouched bucket $b must keep its checksum")
    }
  }

  test("a NULL<->'' single edit changes the checksum and the scoped diff sees it") {
    // the q172 invariant: summaryByBuckets must equal the full diff on
    // EVERY single-row edit — including the one the old ''-for-NULL
    // rendering hid (checksum unchanged => bucket never went hot =>
    // 'unchanged' while diff() said 'changed')
    val prev = base.withColumn("v",
      when(col("k") === 321L, lit(null).cast("string")).otherwise(col("v")))
    val next = base.withColumn("v",
      when(col("k") === 321L, lit("")).otherwise(col("v")))
    val a = Fingerprint.checksumBy(prev, col("k") % 8, Seq(col("k"), col("v")))
    val b = Fingerprint.checksumBy(next, col("k") % 8, Seq(col("k"), col("v")))
    assert(Fingerprint.diffChecksums(a, b).collect().map(_.getLong(0)).toSet
      == Set(321L % 8), "the NULL->'' bucket must go hot")
    def counts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val scoped = counts(SnapshotDiff.summaryByBuckets(
      prev, next, Seq("k"), Seq("v"), nBuckets = 8))
    val full = counts(SnapshotDiff.summary(prev, next, Seq("k"), Seq("v")))
    assert(scoped("changed") == 1L && scoped("unchanged") == 999L)
    assert(scoped.filter(_._2 != 0L) == full.filter(_._2 != 0L),
      "scoped summary must equal the full diff")
  }
}
