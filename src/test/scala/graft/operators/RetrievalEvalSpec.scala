package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class RetrievalEvalSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  test("topKRanked: (score desc, id asc) ranking with ties, k truncation, no window in the plan") {
    val scored = Seq(
      ("a", 1L, 50L), ("a", 2L, 90L), ("a", 3L, 70L), ("a", 4L, 70L), ("a", 5L, 10L),
      ("b", 9L, 5L)).toDF("q", "doc", "score")
    val ranked = RetrievalEval.topKRanked(scored, "q", "doc", "score", 3)
    val got = ranked.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // a: 90 → doc2 rank1; tie at 70 → doc3 before doc4; k=3 cuts doc1/doc5
    assert(got == Set(("a", 2L, 1L), ("a", 3L, 2L), ("a", 4L, 3L), ("b", 9L, 1L)))
    assert(ranked.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty)
  }

  test("metricsAtK: hits/MRR/precision/recall vs hand-computed, incl. unranked-relevant, no-relevance, dup rows") {
    val ranked = Seq(
      ("a", 10L, 1L), ("a", 11L, 2L), ("a", 12L, 3L),
      ("b", 20L, 1L), ("b", 21L, 2L),
      ("c", 30L, 1L)).toDF("q", "doc", "rank")
    val rel = Seq(
      ("a", 11L), ("a", 11L),   // duplicate relevance row must not double-count
      ("a", 99L),               // relevant but never ranked
      ("b", 77L))               // b's only relevant is unranked; c has none
      .toDF("q", "doc")
    // a deeper-ranked relevant row must NOT leak into metrics@3
    val rankedDeep = ranked.union(Seq(("a", 99L, 4L)).toDF("q", "doc", "rank"))
    val got = RetrievalEval.metricsAtK(rankedDeep, rel, "q", "doc", k = 3)
      .collect().map { r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      }.toMap
    assert(got("a") == ((2L, 1L, Some(2L), 0.5, 1.0 / 3, 0.5)))
    assert(got("b") == ((1L, 0L, None, 0.0, 0.0, 0.0)))
    assert(got("c") == ((0L, 0L, None, 0.0, 0.0, 0.0)))
  }
}
