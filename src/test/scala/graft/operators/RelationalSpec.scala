package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class RelationalSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def run(pairs: Seq[(Long, Long)], divisor: Seq[Long]): Set[Long] =
    Relational.divide(pairs.toDF("a", "b"), "a", "b", divisor.toDF("b"))
      .collect().map(_.getLong(0)).toSet

  test("divide returns exactly the a's covering the whole divisor") {
    val pairs = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),           // covers all of {10,11,12}
      (2L, 10L), (2L, 11L),                      // misses 12
      (3L, 10L), (3L, 11L), (3L, 12L), (3L, 99L), // extras don't disqualify
      (4L, 99L))                                 // touches none
    assert(run(pairs, Seq(10L, 11L, 12L)) == Set(1L, 3L))
    // duplicate pairs and duplicate divisor rows collapse
    assert(run(pairs ++ pairs, Seq(10L, 10L, 11L, 12L)) == Set(1L, 3L))
    // a singleton divisor degrades to a semi-join
    assert(run(pairs, Seq(99L)) == Set(3L, 4L))
  }

  test("divide: empty divisor returns no rows; n_required is reported") {
    val pairs = Seq((1L, 10L), (2L, 11L))
    assert(run(pairs, Seq.empty[Long]) == Set.empty[Long])
    val rows = Relational.divide(pairs.toDF("a", "b"), "a", "b",
      Seq(10L, 11L).toDF("b")).collect()
    assert(rows.isEmpty) // no a covers both
    val one = Relational.divide(
      (pairs :+ (1L, 11L)).toDF("a", "b"), "a", "b",
      Seq(10L, 11L).toDF("b")).collect()
    assert(one.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("divide matches the double-NOT-EXISTS reference on random data") {
    val rnd = new scala.util.Random(5)
    val pairs = Seq.fill(300)((rnd.nextInt(20).toLong, rnd.nextInt(12).toLong))
    val divisor = Seq(1L, 3L, 5L, 7L)
    val want = pairs.map(_._1).distinct.filter { a =>
      val bs = pairs.filter(_._1 == a).map(_._2).toSet
      divisor.forall(bs.contains)
    }.toSet
    assert(run(pairs, divisor) == want)
  }
}
