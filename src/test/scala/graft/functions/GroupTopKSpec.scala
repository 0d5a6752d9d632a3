package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Exact per-group top-k aggregate vs a window-rank reference: same
  * rows under the (key desc, id asc) total order, with the state
  * bounded per group however the input partitions.
  */
class GroupTopKSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._
  import graft.functions.expressions.group_top_k

  private def referenceTopK(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy($"g").orderBy($"key".desc, $"id")
    df.withColumn("rank", row_number().over(w)).filter($"rank" <= k)
      .select($"g", $"rank".cast("long"), $"id", $"key")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
  }

  private def aggTopK(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy($"g")
      .agg(group_top_k($"key", $"id", k).as("top"))
      .select($"g", posexplode($"top").as(Seq("i", "t")))
      .select($"g", ($"i" + 1).cast("long").as("rank"), $"t.id", $"t.key")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("parity with window-rank on skewed groups, heavy ties, k > group size") {
    val rnd = new scala.util.Random(23)
    val rows =
      Seq.tabulate(5000)(i => ("hot", rnd.nextInt(40).toDouble, i.toLong)) ++ // heavy ties
      Seq.tabulate(300)(i => ("warm", rnd.nextDouble() * 100, (i + 10000).toLong)) ++
      Seq.tabulate(2)(i => ("tiny", 1.0, (i + 20000).toLong))                 // k > size
    // shuffle across partitions so map-side partials genuinely merge
    val df = rnd.shuffle(rows).toDF("g", "key", "id").repartition(7)
    for (k <- Seq(1, 3, 10)) {
      assert(aggTopK(df, k) == referenceTopK(df, k), s"k=$k")
    }
  }

  test("null keys/ids and NaN keys are excluded; -Infinity ranks last") {
    val df = Seq[(String, java.lang.Double, java.lang.Long)](
      ("a", 5.0, 1L), ("a", null, 2L), ("a", Double.NaN, 3L),
      ("a", Double.NegativeInfinity, 4L), ("a", 7.0, null))
      .toDF("g", "key", "id")
    val got = df.groupBy($"g").agg(group_top_k($"key", $"id", 10).as("top"))
      .select(explode($"top").as("t")).select($"t.id").as[Long].collect().toSeq
    assert(got == Seq(1L, 4L), s"got $got")
  }

  test("SQL registration: graft group_top_k equals the DataFrame form; wrong types fail analysis") {
    GraftFunctions.register(spark)
    val df = Seq(("x", 3.0, 1L), ("x", 9.0, 2L), ("x", 6.0, 3L)).toDF("g", "key", "id")
    df.createOrReplaceTempView("gtk_in")
    val got = spark.sql(
      "SELECT g, group_top_k(key, id, 2) AS top FROM gtk_in GROUP BY g")
      .select(explode($"top").as("t")).select($"t.id").as[Long].collect().toSeq
    assert(got == Seq(2L, 3L))
    val err = intercept[Exception] {
      spark.sql("SELECT g, group_top_k(g, id, 2) FROM gtk_in GROUP BY g").collect()
    }
    assert(err.getMessage.contains("group_top_k"),
      s"expected an analysis-time type error, got: ${err.getMessage}")
  }

  test("plan shape: no window, no sort before the aggregate — bounded mergeable state") {
    val df = spark.range(100000)
      .select(($"id" % 5).cast("string").as("g"),
        ($"id" % 997).cast("double").as("key"), $"id")
    val q = df.groupBy($"g").agg(group_top_k($"key", $"id", 5).as("top"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "top-k must not plan a window")
    assert(plan.contains("ObjectHashAggregate"),
      s"expected the typed-imperative aggregate pair:\n$plan")
    assert(!plan.contains("Sort ["), s"no sort may precede the aggregate:\n$plan")
  }
}
