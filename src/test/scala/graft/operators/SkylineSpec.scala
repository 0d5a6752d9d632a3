package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class SkylineSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def bruteSkyline(pts: Seq[(Long, Long, Long)]): Set[Long] =
    pts.filter { a =>
      !pts.exists(b =>
        b._2 <= a._2 && b._3 <= a._3 && (b._2 < a._2 || b._3 < a._3))
    }.map(_._1).toSet

  private def engine(pts: Seq[(Long, Long, Long)], parts: Int = 4): Set[Long] =
    Skyline.skyline(pts.toDF("id", "x", "y").repartition(parts), Seq("x", "y"))
      .collect().map(_.getAs[Long]("id")).toSet

  test("skyline = brute-force dominance on random 2-d points across partitionings") {
    val rng = new scala.util.Random(97)
    val pts = (0L until 300L).map(i =>
      (i, rng.nextInt(100).toLong, rng.nextInt(100).toLong))
    val expect = bruteSkyline(pts)
    assert(expect.nonEmpty)
    for (parts <- Seq(1, 3, 8)) assert(engine(pts, parts) == expect, s"parts=$parts")
  }

  test("first-dimension ties: a later row must not survive domination") {
    // (5,3) is dominated by (5,1); equal rows are BOTH kept
    val pts = Seq((1L, 5L, 3L), (2L, 5L, 1L), (3L, 9L, 0L), (4L, 9L, 0L))
    assert(engine(pts) == Set(2L, 3L, 4L))
  }

  test("three dimensions") {
    val rng = new scala.util.Random(101)
    val pts = (0L until 150L).map(i =>
      (i, rng.nextInt(12).toLong, rng.nextInt(12).toLong, rng.nextInt(12).toLong))
    def brute3 = pts.filter { a =>
      !pts.exists(b => b._2 <= a._2 && b._3 <= a._3 && b._4 <= a._4 &&
        (b._2 < a._2 || b._3 < a._3 || b._4 < a._4))
    }.map(_._1).toSet
    val got = Skyline.skyline(
        pts.toDF("id", "x", "y", "z").repartition(5), Seq("x", "y", "z"))
      .collect().map(_.getAs[Long]("id")).toSet
    assert(got == brute3)
  }

  test("append ≡ from-scratch: accretion off the old skyline loses nothing") {
    val rng = new scala.util.Random(103)
    val day1 = (0L until 150L).map(i => (i, rng.nextInt(60).toLong, rng.nextInt(60).toLong))
    val day2 = (200L until 320L).map(i => (i, rng.nextInt(60).toLong, rng.nextInt(60).toLong))
    val stored = Skyline.skyline(day1.toDF("id", "x", "y").repartition(3), Seq("x", "y"))
    val inc = Skyline.append(stored, day2.toDF("id", "x", "y").repartition(3), Seq("x", "y"))
      .collect().map(_.getAs[Long]("id")).toSet
    assert(inc == bruteSkyline(day1 ++ day2))
  }

  test("maxCandidates guard fails loud") {
    val pts = (0L until 50L).map(i => (i, i, 49L - i)) // fully anti-correlated
    val err = intercept[IllegalArgumentException] {
      Skyline.skyline(pts.toDF("id", "x", "y"), Seq("x", "y"), maxCandidates = 10L)
    }
    assert(err.getMessage.contains("maxCandidates"))
  }
}
