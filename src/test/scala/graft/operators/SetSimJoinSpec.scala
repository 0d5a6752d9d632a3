package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class SetSimJoinSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def shingleSet(text: String, n: Int): Set[String] = {
    val t = text.trim.split("\\s+").toSeq
    if (t.size < n) Set(t.mkString(" ")) else t.sliding(n).map(_.mkString(" ")).toSet
  }

  private def brutePairs(docs: Seq[(Long, String)], tNum: Int, tDen: Int,
                         n: Int): Set[(Long, Long)] =
    (for {
      i <- docs.indices; j <- (i + 1) until docs.size
      a = shingleSet(docs(i)._2, n); b = shingleSet(docs(j)._2, n)
      inter = (a & b).size; union = (a | b).size
      if inter.toLong * tDen >= union.toLong * tNum
    } yield {
      val (x, y) = (docs(i)._1, docs(j)._1)
      (math.min(x, y), math.max(x, y))
    }).toSet

  private def enginePairs(docs: Seq[(Long, String)], tNum: Int, tDen: Int): Set[(Long, Long)] =
    SetSimJoin.pairs(docs.toDF("id", "text"), "id", "text", tNum, tDen)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet

  test("pairs = brute force across thresholds on a near-dup corpus") {
    val rng = new scala.util.Random(61)
    val vocab = Vector("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
    val base = (0L until 25L).map { i =>
      i -> (0 until (8 + rng.nextInt(20))).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    // planted near-dups: copy with a small tail edit
    val docs = base ++ base.take(8).map { case (i, t) => (i + 100L) -> (t + " zz") }
    for ((num, den) <- Seq((1, 2), (3, 5), (4, 5), (1, 1))) {
      val expect = brutePairs(docs, num, den, 3)
      val got = enginePairs(docs, num, den)
      assert(got == expect, s"t=$num/$den (expect ${expect.size} pairs)")
    }
    assert(brutePairs(docs, 4, 5, 3).nonEmpty, "corpus must contain high-sim pairs")
  }

  test("identical docs pair at t = 1; short docs use the whole-text fallback") {
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "c"), (4L, "c"), (5L, "a b c d"))
    assert(enginePairs(docs, 1, 1) == Set((1L, 2L), (3L, 4L)))
  }

  test("exact rational boundary: a pair at exactly t is kept") {
    // sets {g1,g2,g3,g4} vs {g1,g2,g3,g4,g5,g6}: inter 4, union 6 → J = 2/3
    val d1 = "w1 w2 w3 w4 w5 w6"          // 4 distinct 3-grams
    val d2 = "w1 w2 w3 w4 w5 w6 w7 w8"    // those 4 plus 2 more
    val docs = Seq((1L, d1), (2L, d2))
    assert(enginePairs(docs, 2, 3) == Set((1L, 2L)))
    assert(enginePairs(docs, 3, 4) == Set.empty)
  }
}
