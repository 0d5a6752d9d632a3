package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class RangeJoinSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private lazy val intervals = Seq(
    // (iid, key, start, end) — second interval spans many buckets
    (1L, "a", 10L, 20L),
    (2L, "a", 95L, 340L),
    (3L, "b", 10L, 20L)
  ).toDF("iid", "k", "s", "e")

  private lazy val points = Seq(
    (1L, "a", 10L),  // inclusive start
    (2L, "a", 20L),  // inclusive end
    (3L, "a", 21L),  // just outside
    (4L, "a", 200L), // mid-bucket of the long interval
    (5L, "a", 340L), // inclusive end, different bucket than start
    (6L, "b", 15L),  // same window, other key
    (7L, "c", 15L)   // key with no intervals
  ).toDF("pid", "k", "t")

  test("inclusive containment across bucket boundaries, per key, no duplicates") {
    val got = RangeJoin.pointInInterval(points, intervals,
        Seq("k"), "t", "s", "e", bucketWidth = 50L)
      .collect().map(r => (r.getAs[Long]("pid"), r.getAs[Long]("i_iid")))
      .sorted.toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (4L, 2L), (5L, 2L), (6L, 3L)))
  }

  test("a point inside two overlapping intervals joins both, once each") {
    val over = Seq((1L, "a", 0L, 100L), (2L, "a", 50L, 150L)).toDF("iid", "k", "s", "e")
    val p = Seq((1L, "a", 75L)).toDF("pid", "k", "t")
    val got = RangeJoin.pointInInterval(p, over, Seq("k"), "t", "s", "e", 10L)
      .collect().map(_.getAs[Long]("i_iid")).sorted.toSeq
    assert(got == Seq(1L, 2L))
  }

  test("seeded brute-force parity across bucket widths") {
    val rnd = new scala.util.Random(11)
    val is = (1 to 60).map { i =>
      val s = rnd.nextInt(500).toLong
      (i.toLong, s"k${rnd.nextInt(3)}", s, s + rnd.nextInt(120))
    }
    val ps = (1 to 150).map(i =>
      (i.toLong, s"k${rnd.nextInt(3)}", rnd.nextInt(700).toLong))
    val expect = (for {
      (pid, pk, t) <- ps
      (iid, ik, s, e) <- is
      if pk == ik && s <= t && t <= e
    } yield (pid, iid)).sorted
    for (width <- Seq(1L, 7L, 64L, 1000L)) {
      val got = RangeJoin.pointInInterval(
          ps.toDF("pid", "k", "t"), is.toDF("iid", "k", "s", "e"),
          Seq("k"), "t", "s", "e", width)
        .collect().map(r => (r.getAs[Long]("pid"), r.getAs[Long]("i_iid")))
        .sorted.toSeq
      assert(got == expect, s"width=$width")
    }
  }

  test("intervalOverlap: seeded brute-force parity across widths; touching endpoints overlap; no duplicates") {
    val rnd = new scala.util.Random(53)
    val as = (1 to 120).map { i =>
      val s = rnd.nextInt(300).toLong
      (i.toLong, s"k${rnd.nextInt(4)}", s, s + rnd.nextInt(40))
    }
    val bs = (1 to 120).map { i =>
      val s = rnd.nextInt(300).toLong
      (i.toLong, s"k${rnd.nextInt(4)}", s, s + rnd.nextInt(40))
    }
    val expect = (for {
      (ai, ak, as0, ae) <- as
      (bi, bk, bs0, be) <- bs
      if ak == bk && as0 <= be && bs0 <= ae
    } yield (ai, bi)).sorted.toSeq
    for (width <- Seq(1L, 7L, 32L, 1000L)) {
      val got = RangeJoin.intervalOverlap(
          as.toDF("aid", "k", "a_s", "a_e"), bs.toDF("bid", "k", "b_s", "b_e"),
          Seq("k"), "a_s", "a_e", "b_s", "b_e", width)
        .select("aid", "b_bid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == expect, s"width=$width")
      assert(got.distinct == got, s"duplicates at width=$width")
    }
    // touching endpoints (inclusive): [0,5] and [5,9] overlap
    val t = RangeJoin.intervalOverlap(
        Seq((1L, "x", 0L, 5L)).toDF("aid", "k", "a_s", "a_e"),
        Seq((2L, "x", 5L, 9L)).toDF("bid", "k", "b_s", "b_e"),
        Seq("k"), "a_s", "a_e", "b_s", "b_e", 4L)
    assert(t.count() == 1)
  }

  test("q61 plans as an equi-join — no nested loop, no cartesian") {
    val p = graft.queries.Queries.q61RangeJoin(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "containment must run as the bucketed equi-join")
  }
}
