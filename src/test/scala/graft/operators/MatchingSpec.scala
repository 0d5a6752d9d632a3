package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class MatchingSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def matchOf(treated: Seq[(Long, Long)], control: Seq[(Long, Long)],
                      caliper: Long) =
    Matching.nearestWithin(
        treated.toDF("id", "x"), control.toDF("id", "x"), "id", "x", caliper)
      .collect()
      .map(r => r.getAs[Long]("t_id") ->
        ((r.getAs[Long]("c_id"), r.getAs[Long]("c_x"), r.getAs[Long]("diff"))))
      .toMap

  test("nearest control wins; equal distance ties to the smaller control id") {
    val got = matchOf(
      treated = Seq((10L, 100L)),
      control = Seq((1L, 90L), (2L, 110L), (3L, 105L)),
      caliper = 15L)
    assert(got == Map(10L -> ((3L, 105L, 5L))))
    // remove the closest: 90 and 110 are both at distance 10 → id 1
    val tie = matchOf(Seq((10L, 100L)), Seq((1L, 90L), (2L, 110L)), 15L)
    assert(tie == Map(10L -> ((1L, 90L, 10L))))
  }

  test("caliper is inclusive; out-of-caliper treated units drop out") {
    val got = matchOf(
      treated = Seq((10L, 100L), (11L, 500L)),
      control = Seq((1L, 85L)),
      caliper = 15L)
    // diff == caliper (15) matches; 11 has nothing within reach
    assert(got == Map(10L -> ((1L, 85L, 15L))))
  }

  test("negative covariates: bucket adjacency holds across zero") {
    val got = matchOf(
      treated = Seq((10L, -5L)),
      control = Seq((1L, -10L), (2L, 3L)),
      caliper = 5L)
    // both at the caliper boundary around a bucket edge: -10 (diff 5)
    // vs 3 (diff 8 — outside); floor bucketing must not lose either
    assert(got == Map(10L -> ((1L, -10L, 5L))))
  }

  test("matching is with replacement; plan has no window and no cartesian") {
    val out = Matching.nearestWithin(
      Seq((10L, 100L), (11L, 101L)).toDF("id", "x"),
      Seq((1L, 99L)).toDF("id", "x"), "id", "x", 5L)
    val got = out.collect().map(r =>
      r.getAs[Long]("t_id") -> r.getAs[Long]("c_id")).toMap
    assert(got == Map(10L -> 1L, 11L -> 1L), "one control can serve many")
    val p = out.queryExecution.sparkPlan
    assert(p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      "argmin must be the mergeable min_by aggregate, not a window")
    assert(p.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }.isEmpty, "candidate join must be the bucketed equi-join")
  }

  test("fellegiSunter: weights sum per agreement vector, bands split on thresholds") {
    import org.apache.spark.sql.functions._
    import Matching.FsField
    val pairs = Seq(
      (1L, 1L, true, true),    // 3000 + 2000 = 5000 -> link (>= upper)
      (2L, 2L, true, false),   // 3000 - 800 = 2200 -> review
      (3L, 3L, false, true),   // -1000 + 2000 = 1000 -> review
      (4L, 9L, false, false))  // -1800 -> reject
      .toDF("id_a", "id_b", "f1", "f2")
    val got = Matching.fellegiSunter(pairs, "id_a", "id_b",
        Seq(FsField(col("f1"), 3000L, -1000L), FsField(col("f2"), 2000L, -800L)),
        lowerMilli = 0L, upperMilli = 5000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L) == ((2L, 5000L, "link")))
    assert(got(2L) == ((1L, 2200L, "review")))
    assert(got(3L) == ((1L, 1000L, "review")))
    assert(got(4L) == ((0L, -1800L, "reject")))
  }

  test("fellegiSunter: scoring is a pure projection, no shuffle over the candidates") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import Matching.FsField
    val pairs = spark.range(100).select(col("id").as("id_a"),
      col("id").as("id_b"), (col("id") % 2 === 0).as("f1"))
    val scored = Matching.fellegiSunter(pairs, "id_a", "id_b",
      Seq(FsField(col("f1"), 1000L, -500L)), 0L, 800L)
    scored.collect()
    val shuffles = scored.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty, "scoring must add no exchange")
  }
}
