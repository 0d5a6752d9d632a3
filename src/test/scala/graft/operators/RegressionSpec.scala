package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class RegressionSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  test("sufficient statistics and slope match a driver-side reference") {
    val pts = Seq(
      ("a", 0L, 10L), ("a", 1L, 13L), ("a", 2L, 16L), ("a", 3L, 19L), // exact slope 3
      ("b", 0L, 5L), ("b", 2L, 1L), ("b", 4L, 9L), ("b", 6L, 1L),
      ("c", 7L, 42L), ("c", 7L, 44L))                                 // constant x
    val out = Regression.groupedOls(pts.toDF("g", "x", "y"), "g", "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap

    pts.groupBy(_._1).foreach { case (g, rows) =>
      val n = rows.size.toLong
      val sx = rows.map(_._2).sum; val sy = rows.map(_._3).sum
      val sxx = rows.map(p => p._2 * p._2).sum
      val sxy = rows.map(p => p._2 * p._3).sum
      val r = out(g)
      assert(r.getAs[Long]("n") == n && r.getAs[Long]("sx") == sx &&
        r.getAs[Long]("sy") == sy && r.getAs[Long]("sxx") == sxx &&
        r.getAs[Long]("sxy") == sxy, s"stats for $g")
      val den = n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
      if (den == 0.0) {
        assert(r.isNullAt(r.fieldIndex("slope")), s"constant-x $g: null slope")
        assert(r.isNullAt(r.fieldIndex("intercept")))
      } else {
        val num = n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
        assert(r.getAs[Double]("slope") == num / den, s"slope for $g")
        assert(r.getAs[Double]("intercept") ==
          (sy.toDouble - (num / den) * sx.toDouble) / n.toDouble)
      }
    }
    assert(out("a").getAs[Double]("slope") == 3.0)
  }

  test("microUnits is exact fixed-point (no round-vs-truncate trap)") {
    val vals = Seq(0.0, 1.5, -2.25, 123.456789, -0.0000005, 99999.999999)
    val got = vals.toDF("v").select(Regression.microUnits($"v").as("y"))
      .collect().map(_.getLong(0))
    // reference: the decimal(18,6) HALF_UP rounding of the double, ×1e6
    val ref = vals.map(v =>
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP) * 1000000L)
      .map(_.toLongExact)
    assert(got.toSeq == ref)
  }

  test("plan: single hash aggregate, no window, no sort before the agg") {
    val df = (1 to 1000).map(i => (s"g${i % 7}", (i % 13).toLong, i.toLong))
      .toDF("g", "x", "y")
    val plan = Regression.groupedOls(df, "g", "x", "y").queryExecution.sparkPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty)
    val aggs = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a }
    assert(aggs.nonEmpty, "expected hash aggregation")
    assert(plan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty,
      "sufficient-stats OLS must not sort")
  }

  test("sufficient statistics are streaming-mergeable: complete-mode OLS ≡ batch over the union of micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val b1 = Seq(("a", 0L, 10L), ("a", 1L, 13L), ("b", 0L, 5L))
    val b2 = Seq(("a", 2L, 16L), ("a", 3L, 19L), ("b", 2L, 1L), ("b", 4L, 9L))
    val input = MemoryStream[(String, Long, Long)]
    val ols = Regression.groupedOls(input.toDF().toDF("g", "x", "y"), "g", "x", "y")
    val q = ols.writeStream.format("memory").queryName("olsstream")
      .outputMode("complete").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val stream = spark.table("olsstream").collect()
        .map(r => r.getString(0) -> (r.getAs[Long]("sxy"), r.getAs[Double]("slope"))).toMap
      val batch = Regression.groupedOls((b1 ++ b2).toDF("g", "x", "y"), "g", "x", "y")
        .collect()
        .map(r => r.getString(0) -> (r.getAs[Long]("sxy"), r.getAs[Double]("slope"))).toMap
      assert(stream == batch)
    } finally q.stop()
  }

  test("corrMatrix: stats + r match a BigInt driver reference; constant column nulls its pairs; micro-unit magnitudes don't overflow; null rows listwise-dropped") {
    val rows = Seq(
      ("a", 1L, 10L, 7L), ("a", 2L, 19L, 7L), ("a", 3L, 31L, 7L),
      ("a", 4L, 38L, 7L),
      ("b", 100000000000L, 99999999999L, 5L),
      ("b", 200000000000L, 150000000000L, 9L),
      ("b", 300000000000L, 310000000000L, 2L))
    val withNull = rows.map { case (g, x, y, z) =>
      (g, Option(x), Option(y), Option(z))
    } :+ (("a", Option(999L), Option.empty[Long], Option(1L)))
    val out = Regression.corrMatrix(
        withNull.toDF("g", "x", "y", "z"), "g", Seq("x", "y", "z"))
      .collect().map(r => r.getString(0) -> r).toMap

    rows.groupBy(_._1).foreach { case (g, rs) =>
      val r = out(g)
      def s(f: ((String, Long, Long, Long)) => Long) = rs.map(f).sum
      val (sx, sy, sz) = (s(_._2), s(_._3), s(_._4))
      def bsum(f: ((String, Long, Long, Long)) => BigInt) = rs.map(f).sum
      val ssx = bsum(t => BigInt(t._2) * t._2)
      val ssy = bsum(t => BigInt(t._3) * t._3)
      val ssz = bsum(t => BigInt(t._4) * t._4)
      val sxy = bsum(t => BigInt(t._2) * t._3)
      val sxz = bsum(t => BigInt(t._2) * t._4)
      val syz = bsum(t => BigInt(t._3) * t._4)
      assert(r.getAs[Long]("n") == rs.size)
      assert(r.getAs[Long]("s_x") == sx && r.getAs[Long]("s_y") == sy &&
        r.getAs[Long]("s_z") == sz)
      assert(r.getAs[Double]("ss_x") == ssx.toDouble &&
        r.getAs[Double]("ss_y") == ssy.toDouble &&
        r.getAs[Double]("ss_z") == ssz.toDouble)
      assert(r.getAs[Double]("sp_x_y") == sxy.toDouble &&
        r.getAs[Double]("sp_x_z") == sxz.toDouble &&
        r.getAs[Double]("sp_y_z") == syz.toDouble)
      val n = rs.size.toDouble
      def varOf(sv: Long, ssv: BigInt) =
        n * ssv.toDouble - sv.toDouble * sv.toDouble
      def corrOf(sa: Long, ssa: BigInt, sb: Long, ssb: BigInt, sp: BigInt) = {
        val (va, vb) = (varOf(sa, ssa), varOf(sb, ssb))
        if (va > 0.0 && vb > 0.0)
          Some((n * sp.toDouble - sa.toDouble * sb.toDouble) /
            math.sqrt(va * vb))
        else None
      }
      def got(c: String): Option[Double] =
        if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))
      assert(got("corr_x_y") == corrOf(sx, ssx, sy, ssy, sxy), s"x_y for $g")
      assert(got("corr_x_z") == corrOf(sx, ssx, sz, ssz, sxz), s"x_z for $g")
      assert(got("corr_y_z") == corrOf(sy, ssy, sz, ssz, syz), s"y_z for $g")
    }
    // group a's z is constant → its pairs are null, x~y is not
    assert(out("a").isNullAt(out("a").fieldIndex("corr_x_z")))
    assert(!out("a").isNullAt(out("a").fieldIndex("corr_x_y")))
    // the null-y row was dropped entirely: n reflects listwise deletion
    assert(out("a").getAs[Long]("n") == 4L)
  }

  /** Driver Theil-Sen: truncating integer micro-slopes, lower median. */
  private def refTheilSen(pts: Seq[(Long, Long)]): (Long, Long) = {
    val slopes = (for {
      i <- pts.indices; j <- pts.indices
      if pts(i)._1 < pts(j)._1
    } yield 1000000L * (pts(j)._2 - pts(i)._2) / (pts(j)._1 - pts(i)._1)).sorted
    (slopes.size.toLong, slopes((slopes.size + 1) / 2 - 1))
  }

  test("theilSen matches the reference; outlier immunity vs OLS") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // y = 3x + noise, with one wild outlier day per series
    val series = Map(
      "a" -> ((0L to 20L).map(t => (t, 3 * t + rnd.nextInt(3))) :+ ((21L, 9000L))),
      "b" -> (0L to 15L).map(t => (t, 100 - 5 * t + rnd.nextInt(2))))
    val rows = series.toSeq.flatMap { case (k, pts) =>
      pts.map { case (t, x) => (k, t, x) } }
    val got = Regression.theilSen(rows.toDF("k", "t", "x"), "k", "t", "x")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    for ((k, pts) <- series)
      assert(got(k) == refTheilSen(pts.toSeq), s"key=$k")
    // the outlier leaves the robust slope near 3.0 where OLS drifts
    val (_, slope) = got("a")
    assert(slope >= 2900000L && slope <= 3200000L, s"robust slope $slope")
    assert(got("b")._2 < 0L)
  }
}
