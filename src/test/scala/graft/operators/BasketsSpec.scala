package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class BasketsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def run(rows: Seq[(Long, String)], minPair: Long) =
    Baskets.pairRules(rows.toDF("basket", "item"), "basket", "item", minPair)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap

  test("pairRules: counts, both directions, min-support filter, dup items") {
    // baskets: 1{a,b,c} 2{a,b} 3{a,b} 4{c} 5{a} — (a,b) 3×, (a,c)/(b,c) 1×
    val rows = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"), (1L, "a") /* dup in basket */,
      (2L, "a"), (2L, "b"), (3L, "a"), (3L, "b"), (4L, "c"), (5L, "a"))
    val got = run(rows, minPair = 2L)
    // only (a,b) clears minPairCount=2; both directions emitted
    assert(got.keySet == Set(("a", "b"), ("b", "a")))
    // n_pair=3, n_a=4, n_b=3, baskets=5
    assert(got(("a", "b")) == ((3L, 4L, 3L, 5L)))
    assert(got(("b", "a")) == ((3L, 3L, 4L, 5L)))
    // at minPair=1 the c-pairs appear too
    val all = run(rows, minPair = 1L)
    assert(all.size == 6)
    assert(all(("c", "a")) == ((1L, 2L, 4L, 5L)))
  }

  test("pairRules matches a brute-force reference on random baskets") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(300)(
        (rnd.nextInt(40).toLong, s"i${rnd.nextInt(12)}"))
      val got = run(rows, minPair = 2L)
      // reference
      val bi = rows.distinct
      val byBasket = bi.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      val pairCounts = byBasket.values.toSeq
        .flatMap(is => for (x <- is; y <- is if x < y) yield (x, y))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
        .filter(_._2 >= 2L)
      val itemCounts = bi.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val nB = bi.map(_._1).distinct.size.toLong
      val want = pairCounts.flatMap { case ((x, y), c) =>
        Seq((x, y) -> ((c, itemCounts(x), itemCounts(y), nB)),
          (y, x) -> ((c, itemCounts(y), itemCounts(x), nB)))
      }
      assert(got == want, s"seed=$seed")
    }
  }

  test("itemSimilarityTopK: cleared-cosine ranking matches brute force, ties on smaller id") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      // numeric item ids: the GroupTopK leg's contract
      val rows = Seq.fill(400)(
        (rnd.nextInt(50).toLong, rnd.nextInt(10).toLong))
      val got = Baskets.itemSimilarityTopK(
          rows.toDF("basket", "item"), "basket", "item", k = 3, minPairCount = 2L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      // brute-force reference (shares pairRules' reference shape)
      val bi = rows.distinct
      val byBasket = bi.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      val itemCounts = bi.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val pairCounts = byBasket.values.toSeq
        .flatMap(is => for (x <- is; y <- is if x < y) yield (x, y))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
        .filter(_._2 >= 2L)
      val want = pairCounts.toSeq
        .flatMap { case ((x, y), c) => Seq((x, y, c), (y, x, c)) }
        .map { case (i, j, c) =>
          val score = (BigInt(c) * c * BigInt("1000000000000") /
            (BigInt(itemCounts(i)) * itemCounts(j))).toLong
          (i, j, score)
        }
        .groupBy(_._1)
        .flatMap { case (i, ns) =>
          ns.sortBy { case (_, j, s) => (-s, j) }
            .take(3).zipWithIndex
            .map { case ((_, j, s), r) => (i, (r + 1).toLong) -> ((j, s)) }
        }
      assert(got == want, s"seed=$seed")
    }
  }
}
