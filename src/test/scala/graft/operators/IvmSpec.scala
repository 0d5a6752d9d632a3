package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class IvmSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("maintain(view, delta) equals recompute over the mutated base") {
    val base = Seq(("a", 10L), ("a", 20L), ("b", 5L), ("c", 7L))
      .toDF("g", "v")
    val v0 = Ivm.view(base, Seq("g"), Seq("sv" -> "v"))
    // delete (a,10), insert (a,100) and (d,1), delete BOTH c rows
    val delta = Seq(("a", -1L, 10L), ("a", 1L, 100L), ("d", 1L, 1L),
      ("c", -1L, 7L)).toDF("g", "sign", "v")
    val got = rows(Ivm.applyDelta(v0, delta, Seq("g"), "sign", Seq("sv" -> "v")))
    val mutated = Seq(("a", 20L), ("a", 100L), ("b", 5L), ("d", 1L))
      .toDF("g", "v")
    val want = rows(Ivm.view(mutated, Seq("g"), Seq("sv" -> "v")))
    assert(got == want, s"$got vs $want")
    // group c emptied: gone from the view, exactly like the recompute
    assert(!got.exists(_._1 == "c"))
  }

  test("batching invariance: two small deltas equal one combined delta") {
    val base = spark.range(0, 500)
      .select((col("id") % 7).cast("string").as("g"), col("id").as("v"))
    val v0 = Ivm.view(base, Seq("g"), Seq("sv" -> "v"))
    val d1 = Seq(("1", -1L, 8L), ("2", 1L, 50L)).toDF("g", "sign", "v")
    val d2 = Seq(("1", 1L, 9L), ("9", 1L, 3L)).toDF("g", "sign", "v")
    val stepwise = Ivm.applyDelta(
      Ivm.applyDelta(v0, d1, Seq("g"), "sign", Seq("sv" -> "v")),
      d2, Seq("g"), "sign", Seq("sv" -> "v"))
    val combined = Ivm.applyDelta(v0, d1.unionByName(d2),
      Seq("g"), "sign", Seq("sv" -> "v"))
    assert(rows(stepwise) == rows(combined))
  }

  test("the base table is never scanned by applyDelta (delta-only plan)") {
    val base = spark.range(0, 1000)
      .select((col("id") % 3).cast("string").as("g"), col("id").as("v"))
    val v0 = Ivm.view(base, Seq("g"), Seq("sv" -> "v"))
      .localCheckpoint() // materialized stored view: cuts base lineage
    val delta = Seq(("0", 1L, 5L)).toDF("g", "sign", "v")
    val out = Ivm.applyDelta(v0, delta, Seq("g"), "sign", Seq("sv" -> "v"))
    out.collect()
    // the maintained plan reads the checkpointed view + the delta; the
    // base Range source must not appear
    val leaves = out.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(!leaves.exists(_.contains("Range")),
      s"base table leaked into the maintenance plan:\n${leaves.mkString("\n")}")
  }
}
