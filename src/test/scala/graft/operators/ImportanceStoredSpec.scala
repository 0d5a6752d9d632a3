package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Stored-counts importance scoring: a batch scored against a persisted
  * reference count table must reproduce the masses the inline operator
  * computes from the reference corpus, and appended count deltas must
  * act like the union corpus (mergeability — the sums are linear).
  */
class ImportanceStoredSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-imp-wh").toString)
    .getOrCreate()
  import spark.implicits._

  private def freshTable(prefix: String) = s"$prefix${System.nanoTime()}"

  private def withTable(tbl: String)(body: => Unit): Unit =
    try body finally spark.sql(s"DROP TABLE IF EXISTS $tbl")

  // reference corpus: target slice is lang 't'
  private lazy val reference = Seq(
    (1L, "t", "a b c"),
    (2L, "t", "a b"),
    (3L, "r", "a b x y"),
    (4L, "r", "x y x y")
  ).toDF("doc_id", "lang", "text")

  test("batch scored against stored counts = masses from the reference corpus") {
    val tbl = freshTable("imp")
    withTable(tbl) {
      Importance.saveCounts(reference, "doc_id", "text",
        col("lang") === "t", tbl, buckets = 4)
      // batch doc reusing reference grams + one unseen gram (q z)
      val batch = Seq((100L, "a b c q z")).toDF("doc_id", "text")
      val got = Importance.weightsAgainstStored(spark, tbl, batch, "doc_id", "text")
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("tgt_mass"), r.getAs[Long]("raw_mass"))).head
      // reference counts: (a,b) raw 3 tgt 2; (b,c) raw 1 tgt 1;
      // (c,q) and (q,z) unseen → 0
      assert(got == ((100L, 3L, 4L)))
    }
  }

  test("appended deltas behave like the union corpus (mergeable sums)") {
    val tbl = freshTable("imp")
    withTable(tbl) {
      Importance.saveCounts(reference, "doc_id", "text",
        col("lang") === "t", tbl, buckets = 4)
      val day2 = Seq((5L, "t", "a b"), (6L, "r", "x y")).toDF("doc_id", "lang", "text")
      Importance.appendCounts(day2, "doc_id", "text",
        col("lang") === "t", tbl, buckets = 4)
      val probe = Seq((200L, "a b x y")).toDF("doc_id", "text")
      val got = Importance.weightsAgainstStored(spark, tbl, probe, "doc_id", "text")
        .collect().map(r => (r.getAs[Long]("tgt_mass"),
          r.getAs[Long]("raw_mass"))).head
      // union corpus counts: (a,b) raw 4 tgt 3; (b,x) raw 1 tgt 0;
      // (x,y) raw 4 tgt 0 → masses (3, 9)
      assert(got == ((3L, 9L)))
      // and equals the inline operator over the union corpus
      val inline = Importance.weights(
        reference.union(day2).union(Seq((200L, "p", "a b x y"))
          .toDF("doc_id", "lang", "text")),
        "doc_id", "text", col("lang") === "t")
        .filter(col("doc_id") === 200L)
        .collect().map(r => (r.getAs[Long]("tgt_mass"),
          r.getAs[Long]("raw_mass"))).head
      // inline includes the probe's own grams in the counts (self-inclusion:
      // +1 raw for each of its 3 gram types) — subtract to compare
      assert(inline == ((3L, 9L + 3L)))
    }
  }

  test("stored side of the scoring join is not shuffled (bucketed layout)") {
    val tbl = freshTable("imp")
    withTable(tbl) {
      Importance.saveCounts(reference, "doc_id", "text",
        col("lang") === "t", tbl, buckets = 4)
      val batch = Seq((100L, "a b c")).toDF("doc_id", "text")
      val plan = Importance.weightsAgainstStored(spark, tbl, batch, "doc_id", "text")
        .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      val scanIdx = plan.indexOf(tbl)
      assert(scanIdx >= 0)
      // the stored-table scan section must carry the bucket spec
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"stored table scan should be bucketed:\n$plan")
    }
  }
}
