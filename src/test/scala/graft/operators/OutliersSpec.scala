package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class OutliersSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  /** Driver reference: lower median (rank ⌊(n+1)/2⌋). */
  private def lowerMedian(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s((s.size + 1) / 2 - 1)
  }

  test("med/mad/flags match a driver-side reference on mixed groups") {
    val data =
      (1 to 101).map(i => ("a", i.toDouble)) ++            // clean uniform
      ((1 to 50).map(_ => ("b", 10.0)) ++
        Seq(("b", 10.5), ("b", 500.0), ("b", -80.0))) ++   // near-constant + spikes
      Seq(("c", 7.0))                                      // singleton
    val df = data.toDF("g", "v")
    val out = Outliers.robustProfile(df, "g", "v", k = 3.0)
      .select("g", "v", "med", "mad", "dev", "is_outlier")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5)))

    val byG = data.groupBy(_._1).map { case (g, rows) =>
      val vs = rows.map(_._2)
      val med = lowerMedian(vs)
      val mad = lowerMedian(vs.map(v => math.abs(v - med)))
      g -> (med, mad)
    }
    assert(out.length == data.size)
    out.foreach { case (g, v, med, mad, dev, flag) =>
      val (rm, rmad) = byG(g)
      assert(med == rm, s"median for $g")
      assert(mad == rmad, s"mad for $g")
      assert(dev == math.abs(v - rm))
      assert(flag == (dev > 3.0 * rmad), s"flag for ($g,$v)")
    }
    // group b: exactly the two spikes and the 10.5 flagged (mad = 0)
    val bFlags = out.filter(r => r._1 == "b" && r._6).map(_._2).sorted
    assert(bFlags.toSeq == Seq(-80.0, 10.5, 500.0))
    // singleton: dev = 0, never an outlier
    assert(out.filter(_._1 == "c").forall(!_._6))
  }

  test("nulls: null values and null group keys are excluded") {
    val df = Seq[(String, java.lang.Double)](
      ("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", null), (null, 9.0))
      .toDF("g", "v")
    val out = Outliers.robustProfile(df, "g", "v").collect()
    assert(out.length == 3)
    assert(out.forall(_.getAs[Double]("med") == 2.0))
  }

  test("plan: no cartesian, stats joined by broadcast") {
    val df = (1 to 1000).map(i => (s"g${i % 5}", i.toDouble)).toDF("g", "v")
    val plan = Outliers.robustProfile(df, "g", "v")
      .queryExecution.sparkPlan
    val cartesians = plan.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }
    assert(cartesians.isEmpty)
    val bhj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, "med/mad group tables must ride broadcast joins")
  }
}
