package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class SpanDedupSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private val common = (1 to 10).map(i => s"c$i").mkString(" ")
  private lazy val corpus = Seq(
    // A and B share a 10-token run at different offsets
    (1L, s"a1 a2 $common a3 a4"),
    (2L, s"b1 $common b2 b3 b4"),
    // C is unique (>= 8 tokens so it produces grams, but none repeat)
    (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
    // D repeats an 8-token run within itself, separated by one token
    (4L, ((1 to 8).map(i => s"d$i") ++ Seq("x") ++ (1 to 8).map(i => s"d$i")).mkString(" "))
  ).toDF("doc_id", "text")

  test("cross-doc shared run becomes one maximal span at each offset") {
    val stats = SpanDedup.spanStats(corpus, "doc_id", "text", k = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("dup_tokens"),
          r.getAs[Long]("n_tokens")))).toMap
    // A: tokens 0..13, common at positions 2..11 → grams at 2,3,4 merge to [2,12)
    assert(stats(1L) == ((1L, 10L, 14L)))
    // B: common at positions 1..10 → [1,11); 1 + 10 + 3 = 14 tokens
    assert(stats(2L) == ((1L, 10L, 14L)))
    // C: no duplicated grams anywhere
    assert(!stats.contains(3L))
  }

  test("within-doc repeat counts (ExactSubstr self-repeat semantics)") {
    val stats = SpanDedup.spanStats(corpus, "doc_id", "text", k = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("dup_tokens")))).toMap
    // D: the d1..d8 gram occurs at pos 0 and 9 → two disjoint spans of 8
    assert(stats(4L) == ((2L, 16L)))
  }

  test("overlapping repeated grams merge into one span, not many") {
    // Two docs sharing an 11-token run: grams at 4 consecutive positions
    // must collapse to a single [0,11) / [1,12) span, never 4 spans.
    val df = Seq(
      (1L, (1 to 11).map(i => s"s$i").mkString(" ")),
      (2L, "z0 " + (1 to 11).map(i => s"s$i").mkString(" "))
    ).toDF("doc_id", "text")
    val stats = SpanDedup.spanStats(df, "doc_id", "text", k = 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("dup_tokens")))).toMap
    assert(stats(1L) == ((1L, 11L)))
    assert(stats(2L) == ((1L, 11L)))
  }

  test("seeded brute-force parity on a repeat-heavy random corpus") {
    val k = 4
    val rnd = new scala.util.Random(13)
    val vocab = Array("a", "b", "c", "d", "e") // tiny vocab → many repeats
    val corpus = (1 to 40).map(i =>
      (i.toLong, Seq.fill(6 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    val df = corpus.toDF("doc_id", "text")
    val got = SpanDedup.spanStats(df, "doc_id", "text", k)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("dup_tokens")))).toMap
    // brute force: count gram occurrences corpus-wide, mark positions,
    // merge overlapping/adjacent intervals per doc
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val occ = scala.collection.mutable.Map[Seq[String], Int]().withDefaultValue(0)
    toks.values.foreach(ts =>
      ts.sliding(k).filter(_.length == k).foreach(g => occ(g) += 1))
    toks.foreach { case (id, ts) =>
      val dupPos = ts.sliding(k).zipWithIndex
        .filter { case (g, _) => g.length == k && occ(g) >= 2 }
        .map(_._2).toSeq
      if (dupPos.isEmpty) assert(!got.contains(id), s"doc $id")
      else {
        var spans = List.empty[(Int, Int)]
        dupPos.foreach { p =>
          spans match {
            case (s, e) :: rest if p <= e => spans = (s, math.max(e, p + k)) :: rest
            case _                        => spans = (p, p + k) :: spans
          }
        }
        val want = (spans.length.toLong, spans.map(x => x._2 - x._1).sum.toLong)
        assert(got(id) == want, s"doc $id")
      }
    }
  }

  test("removeSpans drops all occurrences and preserves unique text") {
    val out = SpanDedup.removeSpans(corpus, "doc_id", "text", k = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out(1L) == "a1 a2 a3 a4")
    assert(out(2L) == "b1 b2 b3 b4")
    assert(out(3L) == "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")
    assert(out(4L) == "x")
  }
}
