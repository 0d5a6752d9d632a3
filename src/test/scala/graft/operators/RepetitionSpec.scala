package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class RepetitionSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def run(docs: (Long, String)*) =
    Repetition.signals(docs.toDF("id", "text"), "id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

  test("alternating doc: top 2-gram and full dup-3-gram coverage") {
    val r = run((1L, "a b a b a"))(1L)
    assert(r.getAs[Long]("n_words") == 5L)
    assert(r.getAs[Long]("word_chars") == 5L)
    // "a b" and "b a" both occur twice; tie breaks to the lexicographic min
    assert(r.getAs[String]("top_gram") == "a b")
    assert(r.getAs[Long]("top_gram_count") == 2L)
    assert(r.getAs[Double]("top_gram_frac") == 4.0 / 5.0)
    // "a b a" occurs at positions 0 and 2, covering 0..2 and 2..4 = all 5
    assert(r.getAs[Long]("dup_covered_chars") == 5L)
    assert(r.getAs[Double]("dup_frac") == 1.0)
  }

  test("distinct doc: count-1 top gram, zero dup coverage") {
    val r = run((1L, "alpha beta gamma delta"))(1L)
    assert(r.getAs[Long]("word_chars") == 19L)
    assert(r.getAs[Long]("top_gram_count") == 1L)
    assert(r.getAs[String]("top_gram") == "alpha beta") // lexicographic min of the count-1 tie
    assert(r.getAs[Long]("dup_covered_chars") == 0L)
    assert(r.getAs[Double]("dup_frac") == 0.0)
  }

  test("doc shorter than the gram orders: whole-text fallback gram, never dup") {
    val r = run((1L, "qq ww"))(1L)
    assert(r.getAs[Long]("n_words") == 2L)
    assert(r.getAs[String]("top_gram") == "qq ww")
    assert(r.getAs[Long]("top_gram_count") == 1L)
    assert(r.getAs[Long]("dup_covered_chars") == 0L)
  }

  test("overlapping duplicate occurrences never double-count positions") {
    // "x x x x x": 3-gram "x x x" occurs at 0,1,2 — covers 0..4, 5 chars not 9
    val r = run((1L, "x x x x x"))(1L)
    assert(r.getAs[Long]("dup_covered_chars") == 5L)
    assert(r.getAs[Double]("dup_frac") == 1.0)
  }

  test("partial coverage: dup grams confined to a repeated tail") {
    // tail "k l m k l m": "k l m" twice covering positions 3..8 (but not
    // the distinct head "aa bb cc")
    val r = run((1L, "aa bb cc k l m k l m"))(1L)
    // covered = positions 3..8 = words k l m k l m = 6 chars
    assert(r.getAs[Long]("dup_covered_chars") == 6L)
    assert(r.getAs[Long]("word_chars") == 12L)
    assert(r.getAs[Double]("dup_frac") == 0.5)
  }

  test("signalsInline = signals row-identically on a random corpus (certification transfer)") {
    val rng = new scala.util.Random(57)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val docs = (0L until 40L).map { i =>
      (i, (0 until (2 + rng.nextInt(30))).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("id", "text")
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("word_chars"),
          r.getAs[String]("top_gram"), r.getAs[Long]("top_gram_count"),
          r.getAs[Double]("top_gram_frac"), r.getAs[Long]("dup_covered_chars"),
          r.getAs[Double]("dup_frac")))).toMap
    val rel = canon(Repetition.signals(df, "id", "text").collect())
    val inl = canon(Repetition.signalsInline(df, "id", "text").collect())
    assert(inl == rel)
    // no explode/shuffle in the inline plan: a single projection stage
    val plan = Repetition.signalsInline(df, "id", "text").queryExecution.executedPlan
    assert(plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, "inline signals must not shuffle")
  }

  test("gate keeps clean docs and drops repetitive ones") {
    val got = Repetition.gate(
        Seq((1L, "the quick brown fox jumps over lazy dogs now"),
            (2L, "spam spam spam spam spam spam")).toDF("id", "text"),
        "id", "text", maxTopGramFrac = 0.3, maxDupFrac = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(got(1L) && !got(2L))
  }
}
