package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class ConformalSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  /** Straight-line replay: OLS on the train rows in the identical
    * IEEE shape, quantized |resid| order statistic on the cal rows.
    */
  private def ref(rows: Seq[(Int, Long, Long)], aN: Long, aD: Long):
      (Long, Long, Double, Double, Long, Long) = {
    val tr = rows.filter(_._1 == 0)
    val nD = tr.size.toDouble
    val sxD = tr.map(_._2).sum.toDouble
    val syD = tr.map(_._3).sum.toDouble
    val sxxD = tr.map(r => r._2 * r._2).sum.toDouble
    val sxyD = tr.map(r => r._2 * r._3).sum.toDouble
    val slope = (nD * sxyD - sxD * syD) / (nD * sxxD - sxD * sxD)
    val intercept = (syD - slope * sxD) / nD
    val cal = rows.filter(_._1 == 1)
    val resid = cal.map { case (_, x, y) =>
      math.floor(math.abs(y.toDouble - (intercept + slope * x.toDouble))
        * 10000.0).toLong
    }.sorted
    val k = ((cal.size + 1) * (aD - aN) + aD - 1) / aD // unclamped
    (tr.size.toLong, cal.size.toLong, slope, intercept, k,
      resid((k - 1).toInt))
  }

  private def run(rows: Seq[(Int, Long, Long)], aN: Long, aD: Long) = {
    val r = Conformal.splitConformalOls(
      rows.map { case (s, x, y) => ("m", s, x, y) }.toDF("g", "split", "x", "y"),
      "g", "split", "x", "y", aN, aD).head()
    (r.getAs[Long]("n_train"), r.getAs[Long]("n_cal"),
      r.getAs[Double]("slope"), r.getAs[Double]("intercept"),
      r.getAs[Long]("k_rank"), r.getAs[Long]("half_width_q"))
  }

  test("splitConformalOls matches the straight-line replay at several alphas") {
    val rng = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      val x = rng.nextInt(1000).toLong
      // y = 3x + 40 + heavy-ish noise
      val y = 3 * x + 40 + (rng.nextGaussian() * 25).toLong
      (i % 2, x, y)
    }
    for ((aN, aD) <- Seq((1L, 10L), (1L, 20L), (1L, 4L)))
      assert(run(rows, aN, aD) == ref(rows, aN, aD), s"alpha=$aN/$aD")
  }

  test("splitConformalOls: empirical calibration coverage is at least 1 - alpha") {
    val rng = new scala.util.Random(11)
    val rows = (1 to 400).map { i =>
      val x = rng.nextInt(500).toLong
      (i % 2, x, 2 * x + (rng.nextGaussian() * 40).toLong)
    }
    val (_, nCal, slope, intercept, _, hw) = run(rows, 1L, 10L)
    val covered = rows.filter(_._1 == 1).count { case (_, x, y) =>
      math.floor(math.abs(y.toDouble - (intercept + slope * x.toDouble))
        * 10000.0) <= hw.toDouble
    }
    assert(covered.toDouble / nCal >= 0.9,
      s"coverage ${covered.toDouble / nCal} below 1-alpha")
  }

  test("splitConformalOls: degenerate train split (constant x) drops the group") {
    val rows = (1 to 40).map(i => (i % 2, 5L, i.toLong))
    val out = Conformal.splitConformalOls(
      rows.map { case (s, x, y) => ("m", s, x, y) }.toDF("g", "split", "x", "y"),
      "g", "split", "x", "y", 1L, 10L)
    assert(out.isEmpty)
  }

  test("splitConformalOls: calibration below ceil(1/alpha)-1 yields NULL width, not a clamp") {
    // 5 calibration rows at alpha = 1/10: required rank ceil(0.9*6) = 6
    // > 5 — no order statistic covers at 90%, the honest interval is
    // infinite. The old clamp reported the max residual as if it
    // guaranteed coverage.
    val rng = new scala.util.Random(3)
    val rows = (1 to 20).map(i => (0, i.toLong, 3 * i + rng.nextInt(5).toLong)) ++
      (1 to 5).map(i => (1, i.toLong, 3 * i + rng.nextInt(5).toLong))
    val r = Conformal.splitConformalOls(
      rows.map { case (s, x, y) => ("m", s, x, y) }.toDF("g", "split", "x", "y"),
      "g", "split", "x", "y", 1L, 10L).head()
    assert(r.getAs[Long]("n_cal") == 5L)
    assert(r.getAs[Long]("k_rank") == 6L, "rank reports the UNCLAMPED requirement")
    assert(r.isNullAt(r.fieldIndex("half_width_q")),
      "coverage unattainable -> half_width_q must be NULL")
    // boundary: the same 5 calibration rows DO support alpha = 1/4
    // (rank ceil(0.75*6) = 5 = n_cal) — width present at the exact minimum
    val r2 = Conformal.splitConformalOls(
      rows.map { case (s, x, y) => ("m", s, x, y) }.toDF("g", "split", "x", "y"),
      "g", "split", "x", "y", 1L, 4L).head()
    assert(r2.getAs[Long]("k_rank") == 5L)
    assert(!r2.isNullAt(r2.fieldIndex("half_width_q")))
  }
}
