package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class CusumSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def refCusum(xs: Seq[Long], target: Long, slack: Long): Seq[Long] =
    xs.scanLeft(0L)((s, x) => math.max(0L, s + (x - target - slack))).tail

  test("closed form = the textbook recursion on random series") {
    val rng = new scala.util.Random(83)
    for (trial <- 0 until 5) {
      val xs = (0 until 60).map(_ => rng.nextInt(20).toLong)
      val rows = xs.zipWithIndex.map { case (x, i) => ("k", i.toLong, x, 10L) }
      val got = TimeSeries.cusum(rows.toDF("k", "t", "x", "target"),
          "k", "t", "x", "target", slack = 1L, threshold = 15L)
        .orderBy("t").collect().map(_.getAs[Long]("cusum")).toSeq
      assert(got == refCusum(xs, 10L, 1L), s"trial $trial")
    }
  }

  test("a sustained small shift alarms even though no single point is extreme") {
    // baseline 10, shift to 13 from t=30: +2/step over slack 0 accumulates
    val xs = (0 until 30).map(_ => 10L) ++ (30 until 60).map(_ => 13L)
    val rows = xs.zipWithIndex.map { case (x, i) => ("k", i.toLong, x, 10L) }
    val got = TimeSeries.cusum(rows.toDF("k", "t", "x", "target"),
        "k", "t", "x", "target", slack = 1L, threshold = 20L)
      .orderBy("t").collect()
    val alarms = got.filter(_.getAs[Boolean]("alarm")).map(_.getAs[Long]("t"))
    assert(alarms.nonEmpty && alarms.head >= 30L && alarms.head <= 45L,
      s"first alarm at ${alarms.headOption}")
    assert(got.take(30).forall(!_.getAs[Boolean]("alarm")))
  }

  test("keys are independent partitions") {
    val rows = Seq(("a", 0L, 100L, 0L), ("b", 0L, 0L, 0L), ("a", 1L, 0L, 0L))
    val got = TimeSeries.cusum(rows.toDF("k", "t", "x", "target"),
        "k", "t", "x", "target", slack = 0L, threshold = 50L)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("t")) ->
        r.getAs[Long]("cusum")).toMap
    assert(got(("a", 0L)) == 100L && got(("a", 1L)) == 100L && got(("b", 0L)) == 0L)
  }
}
