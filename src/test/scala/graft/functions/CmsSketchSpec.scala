package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** CMS union + probe over Spark's built-in count_min_sketch binaries:
  * the union must equal a single whole-corpus sketch (cell-wise sums
  * are associative), and probes must respect the CMS guarantee.
  */
class CmsSketchSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private val rows: Seq[(Int, String)] =
    (1 to 500).map(i => (i % 5, s"user${i % 37}")) ++
      (1 to 300).map(_ => (1, "heavy")) ++
      (1 to 7).map(_ => (2, "rare"))

  test("sharded cms_union equals the single whole-corpus sketch, probes exact on this scale") {
    val df = rows.toDF("shard", "item")
    val sharded = graft.operators.Sketches.cmsBy(df, Seq("shard"), "item")
    val merged = graft.operators.Sketches.cmsUnion(sharded, Seq.empty)
    val whole = graft.operators.Sketches.cmsBy(df, Seq.empty, "item")
    val a = merged.head().getAs[Array[Byte]]("cms")
    val b = whole.head().getAs[Array[Byte]]("cms")
    assert(java.util.Arrays.equals(a, b),
      "union of per-shard sketches must be byte-identical to one big sketch")
    // probe through the expression: eps 0.001 * 807 rows < 1 ⇒ exact
    val probes = Seq("heavy", "rare", "user3", "never-seen").toDF("item")
    val got = probes.crossJoin(merged)
      .select(col("item"), CmsSketch.cms_estimate(col("cms"), col("item")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(got("heavy") == exact("heavy"))
    assert(got("rare") == exact("rare"))
    assert(got("user3") == exact("user3"))
    assert(got("never-seen") == 0L)
  }

  test("cms_union of zero rows yields null; mismatched shapes throw, not corrupt") {
    val empty = graft.operators.Sketches.cmsBy(
      Seq.empty[(Int, String)].toDF("shard", "item"), Seq("shard"), "item")
    val merged = graft.operators.Sketches.cmsUnion(empty, Seq.empty)
    assert(merged.head().isNullAt(0))
    // two sketches built with different eps (different width) must fail loudly
    val a = graft.operators.Sketches.cmsBy(
      Seq((1, "x")).toDF("shard", "item"), Seq.empty, "item", eps = 0.001)
    val b = graft.operators.Sketches.cmsBy(
      Seq((1, "x")).toDF("shard", "item"), Seq.empty, "item", eps = 0.01)
    val ex = intercept[Exception] {
      graft.operators.Sketches.cmsUnion(a.union(b), Seq.empty).collect()
    }
    assert(ex.toString.toLowerCase.contains("merge") ||
      ex.getCause != null, s"expected an incompatible-merge failure: $ex")
  }

  test("q77 shape: per-day sketches union corpus-wide, top-user probes pass the CMS bound") {
    val rows = graft.queries.Queries.q77CmsRollup(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[Boolean]("pass")),
      s"CMS bound violated: ${rows.mkString(", ")}")
  }
}
