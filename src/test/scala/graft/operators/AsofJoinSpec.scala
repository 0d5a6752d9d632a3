package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class AsofJoinSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  // left: (id, key, t) — right: (id, key, t, px)
  private lazy val left = Seq(
    (1L, "a", 10L), (2L, "a", 20L), (3L, "a", 5L),
    (4L, "b", 100L), (5L, "c", 50L)
  ).toDF("id", "k", "t")
  private lazy val right = Seq(
    (101L, "a", 10L, 1.5), (102L, "a", 15L, 2.5), (103L, "a", 30L, 3.5),
    (104L, "b", 90L, 4.5), (105L, "b", 100L, 5.5), (106L, "b", 101L, 6.5)
  ).toDF("rid", "k", "t", "px")

  private def collectB() =
    AsofJoin.backward(left, right, Seq("k"), "t", Seq("rid", "px"), "rid")
      .collect().map(r => r.getAs[Long]("id") ->
        ((Option(r.getAs[Any]("r_rid")), Option(r.getAs[Any]("r_px"))))).toMap

  test("backward: latest right at-or-before, per key; equal ts matches") {
    val m = collectB()
    assert(m(1L) == ((Some(101L), Some(1.5)))) // t=10 matches right t=10 (<=)
    assert(m(2L) == ((Some(102L), Some(2.5)))) // t=20 → right t=15, not 30
    assert(m(3L) == ((None, None)))            // t=5: nothing at or before
    assert(m(4L) == ((Some(105L), Some(5.5)))) // t=100 → right t=100, not 101
    assert(m(5L) == ((None, None)))            // key c has no right rows
  }

  test("forward: earliest right at-or-after") {
    val m = AsofJoin.forward(left, right, Seq("k"), "t", Seq("rid", "px"), "rid")
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[Any]("r_rid"))).toMap
    assert(m(1L) == Some(101L)) // t=10 → right t=10
    assert(m(2L) == Some(103L)) // t=20 → right t=30
    assert(m(3L) == Some(101L)) // t=5 → right t=10
    assert(m(4L) == Some(105L)) // t=100 → right t=100
    assert(m(5L) == None)
  }

  test("right-side ties on (key, ts) are regularized: greatest tieCol wins") {
    val r2 = right.union(Seq((999L, "a", 15L, 9.9)).toDF("rid", "k", "t", "px"))
    val m = AsofJoin.backward(left, r2, Seq("k"), "t", Seq("rid", "px"), "rid")
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[Any]("r_rid"))).toMap
    assert(m(2L) == Some(999L), "the tie row with greatest rid must win")
  }

  test("tolerance nulls stale matches without changing fresh ones") {
    val m = AsofJoin.backward(left, right, Seq("k"), "t", Seq("rid", "px"),
        "rid", tolerance = Some(3L))
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[Any]("r_rid"))).toMap
    assert(m(1L) == Some(101L)) // t=10 vs 10: age 0 ≤ 3
    assert(m(2L) == None)       // t=20 vs 15: age 5 > 3 → nulled
    assert(m(4L) == Some(105L)) // t=100 vs 100: age 0
    assert(m(5L) == None)
  }

  test("matches pandas-merge_asof-style brute force on a seeded corpus") {
    val rnd = new scala.util.Random(7)
    val l = (1 to 200).map(i => (i.toLong, s"k${rnd.nextInt(5)}", rnd.nextInt(1000).toLong))
    val r = (1 to 300).map(i => (1000L + i, s"k${rnd.nextInt(5)}", rnd.nextInt(1000).toLong, rnd.nextDouble()))
    val got = AsofJoin.backward(l.toDF("id", "k", "t"), r.toDF("rid", "k", "t", "px"),
        Seq("k"), "t", Seq("rid"), "rid")
      .collect().map(x => x.getAs[Long]("id") -> Option(x.getAs[Any]("r_rid"))).toMap
    // brute force with the same tie rule (greatest rid per (k,t))
    val rOne = r.groupBy(x => (x._2, x._3)).map(_._2.maxBy(_._1)).toSeq
    l.foreach { case (id, k, t) =>
      val want = rOne.filter(x => x._2 == k && x._3 <= t)
        .sortBy(x => (x._3, x._1)).lastOption.map(_._1)
      assert(got(id) == want, s"id=$id k=$k t=$t")
    }
  }
}
