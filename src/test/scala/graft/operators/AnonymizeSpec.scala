package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class AnonymizeSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private val rows = Seq(
    (1L, "US", "A", 10.0), (2L, "US", "A", 11.0), (3L, "US", "A", 12.0),
    (4L, "US", "B", 13.0),                     // singleton (US,B)
    (5L, "DE", "A", 14.0), (6L, "DE", "A", 15.0),
    (7L, "FR", "C", 16.0))                     // singleton (FR,C)

  test("kAnonymize suppresses quasi values only in small groups") {
    val got = Anonymize.kAnonymize(rows.toDF("id", "country", "seg", "v"),
        Seq("country", "seg"), k = 2)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("country"), r.getAs[String]("seg"),
          r.getAs[Double]("v"), r.getAs[Boolean]("suppressed"))))
      .toMap
    assert(got(1L) == (("US", "A", 10.0, false)))
    assert(got(4L) == (("*", "*", 13.0, true)))
    assert(got(5L) == (("DE", "A", 14.0, false)))
    assert(got(7L) == (("*", "*", 16.0, true)))
    // after suppression every released QI combination covers >= k rows
    // (the two suppressed rows form one group of 2)
    val released = got.values.groupBy(v => (v._1, v._2)).view.mapValues(_.size)
    assert(released.forall(_._2 >= 2), released.toMap.toString)
  }

  test("null quasi values form a group and are suppressed like any other") {
    val rows = Seq(
      (1L, Option("US"), 1.0), (2L, Option("US"), 2.0),
      (3L, None: Option[String], 3.0),                   // singleton null group
      (4L, Option("FR"), 4.0))                           // singleton FR
    val got = Anonymize.kAnonymize(rows.toDF("id", "country", "v"),
        Seq("country"), k = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        ((Option(r.getAs[String]("country")), r.getAs[Boolean]("suppressed")))).toMap
    assert(got(1L) == ((Some("US"), false)) && got(2L) == ((Some("US"), false)))
    assert(got(3L) == ((Some("*"), true)), "null-QI singleton must be suppressed")
    assert(got(4L) == ((Some("*"), true)))
  }

  test("lDiversity: group size alone is not privacy") {
    // (US,A) is large (k-anonymous at k=3) but sensitively UNIFORM —
    // the homogeneity attack l-diversity exists to catch
    val data = Seq(
      ("US", "A", "flu"), ("US", "A", "flu"), ("US", "A", "flu"),
      ("US", "B", "flu"), ("US", "B", "cold"),
      ("DE", "A", "flu"), ("DE", "A", "cold"), ("DE", "A", "cold"),
      ("FR", "C", null.asInstanceOf[String]))
    val got = Anonymize.lDiversity(data.toDF("country", "seg", "dx"),
        Seq("country", "seg"), "dx", l = 2)
      .collect()
      .map(r => (r.getAs[String]("country"), r.getAs[String]("seg")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_sensitive"),
          r.getAs[Long]("max_freq"), r.getAs[Boolean]("diverse"))))
      .toMap
    assert(got(("US", "A")) == ((3L, 1L, 3L, false)), "uniform group fails")
    assert(got(("US", "B")) == ((2L, 2L, 1L, true)))
    assert(got(("DE", "A")) == ((3L, 2L, 2L, true)))
    // an all-null sensitive group counts one distinct value: NOT diverse
    assert(got(("FR", "C")) == ((1L, 1L, 1L, false)))
  }

  test("profile reports violating groups and worst risk") {
    val got = Anonymize.profile(rows.toDF("id", "country", "seg", "v"),
      Seq("country", "seg"), k = 2).head()
    assert(got.getAs[Long]("n_rows") == 7L)
    assert(got.getAs[Long]("n_groups") == 4L)
    assert(got.getAs[Long]("n_violating_groups") == 2L)
    assert(got.getAs[Long]("n_rows_at_risk") == 2L)
    assert(got.getAs[Long]("min_group_size") == 1L)
    assert(got.getAs[Double]("max_reident_risk") == 1.0)
  }
}
