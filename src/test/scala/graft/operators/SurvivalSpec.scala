package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class SurvivalSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  /** Straight-line product-limit replay with the same quantization. */
  private def refKm(rows: Seq[(Long, Int)]): Seq[(Long, Long, Long, Long, Long)] = {
    val byT = rows.groupBy(_._1).toSeq.sortBy(_._1)
    var n = rows.size.toLong
    var s = 1000000L
    byT.map { case (t, rs) =>
      val d = rs.count(_._2 == 1).toLong
      val c = rs.count(_._2 == 0).toLong
      val out = (t, n, d, c, s * (n - d) / n)
      s = s * (n - d) / n
      n = n - d - c
      out
    }
  }

  private def run(rows: Seq[(Long, Int)]): Seq[(Long, Long, Long, Long, Long)] =
    Survival.kaplanMeier(rows.map { case (t, e) => ("g", t, e) }
        .toDF("g", "t", "e"), "g", "t", "e")
      .orderBy("t").collect()
      .map(r => (r.getAs[Long]("t"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("d_events"), r.getAs[Long]("c_censored"),
        r.getAs[Long]("s_micro")))
      .toSeq

  test("kaplanMeier: classic textbook curve with censoring matches the replay") {
    // 10 subjects: deaths at 2,2,4,7; censored at 3,5,5,8; alive at 9,9
    val rows = Seq((2L, 1), (2L, 1), (4L, 1), (7L, 1),
      (3L, 0), (5L, 0), (5L, 0), (8L, 0), (9L, 0), (9L, 0))
    val got = run(rows)
    assert(got == refKm(rows))
    // hand-check the first steps: S(2) = 8/10, S(4) on 7 at risk
    assert(got.head == ((2L, 10L, 2L, 0L, 800000L)))
    val s4 = got.find(_._1 == 4L).get
    assert(s4._2 == 7L && s4._5 == 800000L * 6 / 7)
    // survival is monotone non-increasing
    assert(got.map(_._5) == got.map(_._5).sorted.reverse)
  }

  test("kaplanMeier: no censoring degenerates to the empirical survival") {
    val rows = (1 to 20).map(i => (i.toLong % 5, 1))
    val got = run(rows)
    assert(got == refKm(rows))
    // all-deaths: last step hits exactly 0
    assert(got.last._5 == 0L)
  }

  test("kaplanMeier: per-group curves are independent; random parity") {
    val rng = new scala.util.Random(41)
    val rows = (1 to 150).map { _ =>
      (s"g${rng.nextInt(3)}", rng.nextInt(12).toLong, rng.nextInt(2))
    }
    val got = Survival.kaplanMeier(rows.toDF("g", "t", "e"), "g", "t", "e")
      .collect()
      .groupBy(_.getAs[String]("g"))
      .map { case (g, rs) =>
        g -> rs.sortBy(_.getAs[Long]("t")).map(r =>
          (r.getAs[Long]("t"), r.getAs[Long]("n_risk"),
            r.getAs[Long]("d_events"), r.getAs[Long]("c_censored"),
            r.getAs[Long]("s_micro"))).toSeq
      }
    for (g <- Seq("g0", "g1", "g2"))
      assert(got(g) == refKm(rows.filter(_._1 == g).map(r => (r._2, r._3))),
        s"group $g")
  }
}
