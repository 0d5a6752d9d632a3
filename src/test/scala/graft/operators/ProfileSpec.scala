package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class ProfileSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private val df = Seq(
    (1L, Some("a"), Some(10L)),
    (2L, Some("b"), None),
    (3L, Some("a"), Some(30L)),
    (4L, None, Some(10L)),
    (5L, Some("c"), Some(50L)))
    .toDF("id", "s", "v")

  test("summarize: exact n / nulls / distinct / min / max per column") {
    val got = Profile.summarize(df, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))))
      .toMap
    assert(got("id") == ((5L, 0L, 5L, "1", "5")))
    assert(got("s") == ((5L, 1L, 3L, "a", "c")))  // nulls excluded from distinct & minmax
    assert(got("v") == ((5L, 1L, 3L, "10", "50")))
  }

  test("summarize plans: each column reads ONLY itself (pruned scan, no Expand)") {
    val one = Profile.summarize(df, Seq("s"))
    val plan = one.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"profile must not Expand:\n$plan")
    // on a parquet source the per-column pruning is visible in
    // ReadSchema; here we pin the logical shape: the projected column
    // set of each union leg is exactly the profiled column
    val analyzed = one.queryExecution.optimizedPlan
    val refs = analyzed.collectLeaves().flatMap(_.output.map(_.name)).toSet
    assert(refs.subsetOf(Set("s")) || refs == Set("id", "s", "v"),
      s"leaf output: $refs")
  }

  test("summarizeApprox: one pass, estimates inside the 3·rsd envelope of exact") {
    val wide = spark.range(20000)
      .select(col("id"),
        concat(lit("u"), (col("id") % 3777)).as("s"),
        when(col("id") % 100 === 0, lit(null).cast("long"))
          .otherwise(col("id") % 997).as("v"))
    val exact = Profile.summarize(wide, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val approx = Profile.summarizeApprox(wide, Seq("id", "s", "v"), rsd = 0.05)
    val estimates = approx.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    for ((c, (n, nNull, est)) <- estimates) {
      assert(n == 20000L)
      assert(math.abs(est - exact(c)) <= 3 * 0.05 * exact(c),
        s"col $c: est $est vs exact ${exact(c)}")
      if (c == "v") assert(nNull == 200L)
    }
    // ONE pass: a single aggregate over a single scan, never an Expand
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"approx profile must not Expand:\n$plan")
  }

  test("empty input: n = 0, nulls/distinct = 0, null min/max") {
    val got = Profile.summarize(df.filter(col("id") > 100), Seq("s"))
      .collect().head
    assert(got.getLong(1) == 0L && got.getLong(2) == 0L && got.getLong(3) == 0L)
    assert(got.isNullAt(4) && got.isNullAt(5))
  }

  test("functionalDeps: key columns determine everything; violations exact") {
    import org.apache.spark.sql.functions._
    val t = Seq(
      (1L, "x", 10L), (2L, "x", 20L), (3L, "y", 20L), (4L, "y", 21L))
      .toDF("id", "g", "v")
    val got = Profile.functionalDeps(t, Seq("id", "g", "v"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got.size == 6)
    assert(got(("id", "g")) == ((4L, 0L, true)))
    assert(got(("id", "v")) == ((4L, 0L, true)))
    // g = x maps to {10, 20}, g = y maps to {20, 21}: 2 violations
    assert(got(("g", "v")) == ((2L, 2L, false)))
    assert(got(("g", "id")) == ((2L, 2L, false)))
    // v = 20 maps to two ids/gs; 10 and 21 are clean
    assert(got(("v", "id")) == ((3L, 1L, false)))
    assert(got(("v", "g")) == ((3L, 1L, false)))
  }

  test("functionalDeps: nulls are ordinary values") {
    import org.apache.spark.sql.functions._
    val t = Seq((Some(1L), "a"), (None, "b"), (None, "b"))
      .toDF("k", "s")
    val got = Profile.functionalDeps(t, Seq("k", "s"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getBoolean(4)).toMap
    // null -> b consistently: FD holds in the profiling convention
    assert(got(("k", "s")))
  }

  test("purityProfile: exact gini ingredients, constant and uniform extremes") {
    import spark.implicits._
    val df = Seq(
      ("c", "x", 1L), ("c", "y", 2L), ("c", "x", 3L), ("c", "y", 4L))
      .toDF("const", "uni", "id")
    val got = Profile.purityProfile(df, Seq("const", "uni", "id"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // constant column: gini = 0/16
    assert(got("const") == ((4L, 1L, 4L, 0L, 16L)))
    // two uniform values: gini = (16-8)/16 = 1/2
    assert(got("uni") == ((4L, 2L, 2L, 8L, 16L)))
    // unique key: gini = (16-4)/16 = 3/4 (the 1 - 1/k ceiling)
    assert(got("id") == ((4L, 4L, 1L, 12L, 16L)))
    // skewed column: counts 3,1 -> sumsq 10 -> gini_num 6
    val sk = Profile.purityProfile(
      Seq("a", "a", "a", "b").toDF("v"), Seq("v")).head()
    assert((sk.getLong(3), sk.getLong(4), sk.getLong(5)) == ((3L, 6L, 16L)))
    // empty table: all-zero row, no nulls
    val emp = Profile.purityProfile(
      Seq.empty[String].toDF("v"), Seq("v")).head()
    assert((emp.getLong(1), emp.getLong(2), emp.getLong(4), emp.getLong(5))
      == ((0L, 0L, 0L, 0L)))
  }
  test("inclusionProfile: contained, broken, and duplicate-heavy pairs all count exactly") {
    val orders = Seq(10L, 10L, 11L, 12L).toDF("fk")            // distinct {10,11,12}
    val parents = Seq(10L, 11L, 12L, 13L).toDF("pk")           // superset
    val broken = Seq(10L, 99L, 98L, 10L).toDF("fk")            // {10,99,98}: 2 of 3 missing
    val out = Profile.inclusionProfile(Seq(
        ("ok", orders, "fk", parents, "pk"),
        ("rev", parents, "pk", orders, "fk"),                  // 13 missing on reverse
        ("bad", broken, "fk", parents, "pk")))
      .collect().map(r => r.getAs[String]("pair") ->
        ((r.getAs[Long]("n_lhs"), r.getAs[Long]("n_rhs"),
          r.getAs[Long]("n_missing"), r.getAs[Boolean]("contained"),
          r.getAs[Long]("containment_micro")))).toMap
    assert(out("ok") == ((3L, 4L, 0L, true, 1000000L)))
    assert(out("rev") == ((4L, 3L, 1L, false, 750000L)))
    assert(out("bad") == ((3L, 4L, 2L, false, 333333L)))
  }

  test("inclusionProfile: null LHS values are ignored (FKs do not constrain nulls)") {
    val withNulls = Seq(Some(1L), None, Some(2L), None).toDF("fk")
    val pk = Seq(1L, 2L).toDF("pk")
    val r = Profile.inclusionProfile(Seq(("p", withNulls, "fk", pk, "pk"))).head()
    assert(r.getAs[Long]("n_lhs") == 2L && r.getAs[Boolean]("contained"))
  }
}
