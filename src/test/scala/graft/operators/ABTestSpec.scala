package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class ABTestSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  /** The identical IEEE shape, straight-line. */
  private def refWelch(a: Seq[Long], b: Seq[Long]) = {
    val naD = a.size.toDouble; val nbD = b.size.toDouble
    val saD = a.sum.toDouble; val sbD = b.sum.toDouble
    val ssA = a.map(v => BigDecimal(v) * BigDecimal(v)).sum.toDouble
    val ssB = b.map(v => BigDecimal(v) * BigDecimal(v)).sum.toDouble
    val meanA = saD / naD; val meanB = sbD / nbD
    val varA = (ssA - saD * saD / naD) / (naD - 1.0)
    val varB = (ssB - sbD * sbD / nbD) / (nbD - 1.0)
    val seA = varA / naD; val seB = varB / nbD
    val se2 = seA + seB
    val t = (meanA - meanB) / math.sqrt(se2)
    val dfW = (se2 * se2) / (seA * seA / (naD - 1.0) + seB * seB / (nbD - 1.0))
    (meanA, meanB, varA, varB, t, dfW)
  }

  test("welch = straight-line reference bit-identically on random integer data") {
    val rng = new scala.util.Random(71)
    val rows = for {
      g <- Seq("g1", "g2"); arm <- Seq(0, 1)
      i <- 0 until (20 + rng.nextInt(30))
    } yield (g, arm, (rng.nextInt(2000) - 500).toLong + (if (arm == 1) 100 else 0))
    val got = ABTest.welch(rows.toDF("g", "arm", "v"), "g", "arm", "v")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    for (g <- Seq("g1", "g2")) {
      val a = rows.collect { case (`g`, 0, v) => v }
      val b = rows.collect { case (`g`, 1, v) => v }
      val (meanA, meanB, varA, varB, t, dfW) = refWelch(a, b)
      val r = got(g)
      assert(r.getAs[Long]("n_a") == a.size && r.getAs[Long]("n_b") == b.size)
      assert(r.getAs[Double]("mean_a") == meanA && r.getAs[Double]("mean_b") == meanB)
      assert(r.getAs[Double]("var_a") == varA && r.getAs[Double]("var_b") == varB)
      assert(r.getAs[Double]("t_stat") == t, s"$g t")
      assert(r.getAs[Double]("df_welch") == dfW, s"$g df")
    }
  }

  test("welch sanity: a planted arm shift produces a large |t|; equal arms small |t|") {
    val rng = new scala.util.Random(73)
    val shifted = (0 until 400).map(i => ("s", i % 2, rng.nextInt(100).toLong + (i % 2) * 500L)) ++
      (0 until 400).map(i => ("e", i % 2, rng.nextInt(100).toLong))
    val got = ABTest.welch(shifted.toDF("g", "arm", "v"), "g", "arm", "v")
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Double]("t_stat")).toMap
    assert(math.abs(got("s")) > 20, s"shifted t=${got("s")}")
    assert(math.abs(got("e")) < 5, s"equal t=${got("e")}")
  }

  test("guards: undersized arms and zero-variance pairs yield null t") {
    val rows = Seq(
      ("one", 0, 5L), ("one", 1, 7L), ("one", 1, 9L),         // n_a = 1
      ("zv", 0, 4L), ("zv", 0, 4L), ("zv", 1, 4L), ("zv", 1, 4L)) // both vars 0
    val got = ABTest.welch(rows.toDF("g", "arm", "v"), "g", "arm", "v")
      .collect().map(r => r.getAs[String]("g") ->
        Option(r.getAs[java.lang.Double]("t_stat"))).toMap
    assert(got("one").isEmpty && got("zv").isEmpty)
  }

  /** The identical md5 coin, driver-side. */
  private def coin(salt: String, id: String, r: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"perm:$salt:$id:$r".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    (java.lang.Long.parseLong(hex, 16) % 2).toInt
  }

  test("permutationTest matches a driver replay; signal vs no-signal p-values") {
    val rng = new scala.util.Random(13)
    // strong treatment effect: arm 1 shifted by +300
    val units = (0 until 120).map { i =>
      val arm = i % 2
      (i.toLong, arm, (500 + rng.nextInt(200) + (if (arm == 1) 300 else 0)).toLong)
    }
    val b = 99
    val row = ABTest.permutationTest(units.toDF("id", "arm", "v"),
      "id", "arm", "v", b = b, salt = "t1").head()
    // driver replay: same coins, same cross-multiplied comparison
    val n = units.size
    val s = units.map(_._3).sum
    val n1 = units.count(_._2 == 1)
    val s1 = units.filter(_._2 == 1).map(_._3).sum
    val numObs = BigInt(s1) * (n - n1) - BigInt(s - s1) * n1
    val denObs = BigInt(n1) * (n - n1)
    val exceed = (0 until b).count { r =>
      val drawn = units.filter(u => coin("t1", u._1.toString, r) == 1)
      val n1r = drawn.size; val s1r = drawn.map(_._3).sum
      val numR = BigInt(s1r) * (n - n1r) - BigInt(s - s1r) * n1r
      val denR = BigInt(n1r) * (n - n1r)
      denR == 0 || numR.abs * denObs >= numObs.abs * denR
    }
    assert(row.getAs[Long]("n") == n && row.getAs[Long]("n_treat") == n1)
    assert(row.getAs[Long]("num_obs") == numObs.toLong)
    assert(row.getAs[Long]("n_exceed") == exceed.toLong)
    assert(row.getAs[Long]("p_den") == (b + 1).toLong)
    // a +300 shift on noise of sd ~60: no replicate should beat it
    assert(row.getAs[Long]("p_num") == 1L)
    // no-signal data: p should be large (the null is true)
    val nullUnits = (0 until 120).map { i =>
      (i.toLong, i % 2, (500 + rng.nextInt(200)).toLong) }
    val p = ABTest.permutationTest(nullUnits.toDF("id", "arm", "v"),
      "id", "arm", "v", b = b, salt = "t1").head()
    assert(p.getAs[Long]("p_num") > 5L,
      s"null data got p_num ${p.getAs[Long]("p_num")}")
  }

  /** Straight-line IEEE replay of the CUPED expression shape. */
  private def refCuped(rows: Seq[(Int, Long, Long)]) = {
    val n = rows.size.toDouble
    val sx = rows.map(_._3).sum.toDouble
    val sy = rows.map(_._2).sum.toDouble
    val sxy = rows.map(r => BigDecimal(r._3) * BigDecimal(r._2)).sum.toDouble
    val sxx = rows.map(r => BigDecimal(r._3) * BigDecimal(r._3)).sum.toDouble
    val a = rows.filter(_._1 == 0); val b = rows.filter(_._1 == 1)
    val covNum = n * sxy - sx * sy
    val varXNum = n * sxx - sx * sx
    val theta = covNum / varXNum
    val meanX = sx / n
    val adjA = a.map(_._2).sum.toDouble / a.size -
      theta * (a.map(_._3).sum.toDouble / a.size - meanX)
    val adjB = b.map(_._2).sum.toDouble / b.size -
      theta * (b.map(_._3).sum.toDouble / b.size - meanX)
    (theta, adjB - adjA)
  }

  test("cuped: removes covariate-explained spread, bit-identical to replay") {
    val rng = new scala.util.Random(29)
    // y = x + noise + effect·arm: the covariate explains most spread
    val rows = (0 until 200).map { i =>
      val arm = i % 2
      val x = (1000 + rng.nextInt(2000)).toLong
      val y = x + rng.nextInt(100) + (if (arm == 1) 50 else 0)
      ("m", arm, y, x)
    }
    val got = ABTest.cuped(rows.toDF("g", "arm", "y", "x"),
      "g", "arm", "y", "x").head()
    val (theta, diffAdj) = refCuped(rows.map(r => (r._2, r._3, r._4)))
    assert(got.getAs[Double]("theta") == theta)
    assert(got.getAs[Double]("diff_adj") == diffAdj)
    // the adjustment must tighten the estimate toward the true +50
    assert(math.abs(got.getAs[Double]("diff_adj") - 50.0) <
      math.abs(got.getAs[Double]("diff_raw") - 50.0) + 20.0)
    // rho2 near 1: x explains almost everything
    assert(got.getAs[Double]("rho2") > 0.9)
    // constant covariate: theta/adjustments null, raw diff still flows
    val const = ABTest.cuped(rows.map(r => (r._1, r._2, r._3, 7L))
      .toDF("g", "arm", "y", "x"), "g", "arm", "y", "x").head()
    assert(Option(const.getAs[java.lang.Double]("theta")).isEmpty)
    assert(!const.isNullAt(const.fieldIndex("diff_raw")))
  }
  /** Pairwise brute force: 2*U_B = 2*#(b>a) + #(b==a); tie_term from
    * pooled value counts.
    */
  private def refMw(a: Seq[Long], b: Seq[Long]): (Long, Long, Long, Long) = {
    val uB2 = (for (x <- a; y <- b) yield
      (if (y > x) 2L else if (y == x) 1L else 0L)).sum
    val rB2 = uB2 + b.size.toLong * (b.size + 1)
    val tie = (a ++ b).groupBy(identity).values
      .map(g => g.size.toLong * g.size * g.size - g.size).sum
    val auc = uB2 * 1000000L / (2L * a.size * b.size)
    (rB2, uB2, tie, auc)
  }

  test("mannWhitney: doubled-rank integers match the pairwise brute force, ties included") {
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed * 31)
      // coarse values force heavy ties
      val a = Seq.fill(40)(rng.nextInt(8).toLong)
      val b = Seq.fill(55)(rng.nextInt(8).toLong + 1)
      val rows = a.map(("m", 0, _)) ++ b.map(("m", 1, _))
      val got = ABTest.mannWhitney(rows.toDF("g", "arm", "v"),
        "g", "arm", "v").head()
      val (rB2, uB2, tie, auc) = refMw(a, b)
      assert(got.getAs[Long]("n_a") == a.size && got.getAs[Long]("n_b") == b.size)
      assert(got.getAs[Long]("r_b_x2") == rB2, s"seed=$seed r")
      assert(got.getAs[Long]("u_b_x2") == uB2, s"seed=$seed uB")
      assert(got.getAs[Long]("u_a_x2") == 2L * a.size * b.size - uB2)
      assert(got.getAs[Long]("tie_term") == tie)
      assert(got.getAs[Long]("auc_micro") == auc)
    }
  }

  test("mannWhitney: clean dominance gives AUC 1; identical arms give AUC 1/2") {
    val dom = ABTest.mannWhitney(
      (Seq.fill(10)(("m", 0, 1L)) ++ Seq.fill(10)(("m", 1, 100L)))
        .toDF("g", "arm", "v"), "g", "arm", "v").head()
    assert(dom.getAs[Long]("auc_micro") == 1000000L)
    val same = ABTest.mannWhitney(
      ((1 to 9).map(i => ("m", 0, i.toLong)) ++ (1 to 9)
        .map(i => ("m", 1, i.toLong))).toDF("g", "arm", "v"),
      "g", "arm", "v").head()
    assert(same.getAs[Long]("auc_micro") == 500000L)
  }
  /** Straight-line CMH replay: per-stratum quantized E/Var, folded. */
  private def refCmh(rows: Seq[(Int, Int, Int)]): (Long, Long, Long, Long, Long) = {
    val strata = rows.groupBy(_._1).values.toSeq
    var (sa, se, sv) = (0L, 0L, 0L)
    strata.foreach { s =>
      val n = s.size.toLong
      val n1 = s.count(_._2 == 1).toLong
      val m1 = s.count(_._3 == 1).toLong
      val a = s.count(r => r._2 == 1 && r._3 == 1).toLong
      sa += a
      se += (BigInt(n1) * m1 * 1000000 / n).toLong
      if (n >= 2)
        sv += (BigInt(n1) * (n - n1) * m1 * (n - m1) * 1000000 /
          (BigInt(n) * n * (n - 1))).toLong
    }
    (strata.size.toLong, sa, se, sv, sa * 1000000L - se)
  }

  test("cmh: folded micro-integers match the replay; chi2 derives from them") {
    val rng = new scala.util.Random(23)
    val rows = (1 to 300).map { _ =>
      val st = rng.nextInt(5)
      val arm = rng.nextInt(2)
      // outcome biased by arm AND stratum (a real confounder)
      val p = 0.2 + 0.1 * arm + 0.08 * st
      (st, arm, if (rng.nextDouble() < p) 1 else 0)
    }
    val got = ABTest.cmh(rows.toDF("stratum", "arm", "outcome"),
      "stratum", "arm", "outcome").head()
    val (k, sa, se, sv, num) = refCmh(rows)
    assert(got.getAs[Long]("k_strata") == k)
    assert(got.getAs[Long]("sum_a") == sa)
    assert(got.getAs[Long]("sum_exp_micro") == se)
    assert(got.getAs[Long]("sum_var_micro") == sv)
    assert(got.getAs[Long]("num_micro") == num)
    val chi2 = (num.toDouble * num.toDouble) / (1000000.0 * sv.toDouble)
    assert(got.getAs[Double]("chi2") == chi2)
  }

  test("cmh: stratification undoes a Simpson composition; tiny strata add zero variance") {
    // two strata where WITHIN each the arms convert identically, but
    // arm 1 concentrates in the high-rate stratum: pooled 2x2 would
    // see a big arm effect; CMH's per-stratum expectation predicts
    // each a_k exactly -> num_micro = 0
    val lo = Seq.fill(40)((0, 0, 0)) ++ Seq.fill(10)((0, 1, 0)) ++
      Seq.fill(40)((0, 0, 1)).take(8) ++ Seq.fill(2)((0, 1, 1))
    // stratum 0: arm0 48 rows 8 pos (1/6), arm1 12 rows 2 pos (1/6)
    val hi = Seq.fill(10)((1, 0, 0)) ++ Seq.fill(40)((1, 1, 0)) ++
      Seq.fill(5)((1, 0, 1)) ++ Seq.fill(20)((1, 1, 1))
    // stratum 1: arm0 15 rows 5 pos (1/3), arm1 60 rows 20 pos (1/3)
    val single = Seq((2, 1, 1)) // n = 1: counts toward a/E, zero Var
    val rows = lo ++ hi ++ single
    val got = ABTest.cmh(rows.toDF("stratum", "arm", "outcome"),
      "stratum", "arm", "outcome").head()
    val (k, sa, se, sv, num) = refCmh(rows)
    assert((got.getAs[Long]("k_strata"), got.getAs[Long]("sum_a"),
      got.getAs[Long]("sum_exp_micro"), got.getAs[Long]("sum_var_micro"),
      got.getAs[Long]("num_micro")) == ((k, sa, se, sv, num)))
    // equal within-stratum rates: |num| stays under the quantization
    // noise of k strata (each div loses < 1 micro-unit)
    assert(math.abs(got.getAs[Long]("num_micro")) <= 3L * 1000000L / 1000L,
      s"num_micro=${got.getAs[Long]("num_micro")}")
  }
  test("permutationTestByGroup: each group equals the single-group operator run on its slice") {
    val rng = new scala.util.Random(5)
    val rows = (1 to 120).map { i =>
      val g = s"g${i % 3}"
      (g, i.toLong, i % 2, (rng.nextInt(500) + (if (i % 2 == 1) 40 else 0)).toLong)
    }
    val grouped = ABTest.permutationTestByGroup(
        rows.toDF("g", "id", "arm", "v"), "g", "id", "arm", "v", b = 23)
      .collect().map(r => r.getAs[String]("g") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("num_obs"),
          r.getAs[Long]("n_exceed"), r.getAs[Long]("p_num"),
          r.getAs[Long]("p_den")))).toMap
    // NOTE: the grouped coin salts with the group, so parity needs the
    // single-group operator fed the SAME salted id stream; instead we
    // check the exact observed stats per slice and the p-value bounds
    for (g <- Seq("g0", "g1", "g2")) {
      val slice = rows.filter(_._1 == g)
      val n = slice.size.toLong
      val n1 = slice.count(_._3 == 1).toLong
      val s1 = slice.filter(_._3 == 1).map(_._4).sum
      val s0 = slice.filter(_._3 == 0).map(_._4).sum
      val numObs = s1 * (n - n1) - s0 * n1
      assert(grouped(g)._1 == n)
      assert(grouped(g)._2 == numObs, s"group $g")
      assert(grouped(g)._4 >= 1L && grouped(g)._4 <= 24L &&
        grouped(g)._5 == 24L)
      assert(grouped(g)._4 == grouped(g)._3 + 1L)
    }
  }

  test("bhAdjust: step-up rejects every rank at or below the largest passing one") {
    // m = 5 tests, p_den 100: p = .01, .02, .03, .5, .9 at alpha .1
    // thresholds i*alpha/m = .02, .04, .06, .08, .10 -> ranks 1..3 pass,
    // 4..5 fail; step-up keeps 1..3
    val tests = Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 50L), ("e", 90L))
      .map { case (k, p) => (k, p, 100L) }
    val got = ABTest.bhAdjust(tests.toDF("k", "pn", "pd"), "k", "pn", "pd",
        alphaNum = 1L, alphaDen = 10L)
      .collect().map(r => (r.getAs[String]("key"), r.getAs[Long]("rank"),
        r.getAs[Boolean]("rejected"))).sortBy(_._2)
    assert(got.map(_._1).toSeq == Seq("a", "b", "c", "d", "e"))
    assert(got.map(_._3).toSeq == Seq(true, true, true, false, false))
    // step-up rescue: a middle rank failing its own threshold is still
    // rejected when a LATER rank passes. p = .01,.05,.059 at alpha .1:
    // thresholds .033,.066,.1 -> rank2 fails .066? no: .05<=.066 passes;
    // make rank2 .068 (fails), rank3 .09 (passes) -> all three rejected
    val rescue = Seq(("x", 10L, 1000L), ("y", 68L, 1000L), ("z", 90L, 1000L))
    val got2 = ABTest.bhAdjust(rescue.toDF("k", "pn", "pd"), "k", "pn", "pd",
        1L, 10L)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Boolean]("rejected")))
      .sortBy(_._1)
    assert(got2.map(_._2).toSeq == Seq(true, true, true))
  }

  test("bhAdjust: mixed p_den values raise instead of misordering") {
    val bad = Seq(("a", 1L, 100L), ("b", 1L, 200L))
    val ex = intercept[Exception] {
      ABTest.bhAdjust(bad.toDF("k", "pn", "pd"), "k", "pn", "pd", 1L, 10L)
        .collect()
    }
    assert(ex.getMessage.contains("mixed p_den") ||
      Option(ex.getCause).exists(_.getMessage.contains("mixed p_den")))
  }

  test("q203 planted-effect FDR: rejected carries both decisions under ground truth") {
    // the declared-query surface at sf0.001: even-length event types
    // carry the planted lift and MUST be rejected; odd-length ones
    // must survive (their organic p-values sit far above the BH line)
    val out = graft.queries.Queries
      .q203FdrPlanted(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Boolean]("rejected"))
      .toMap
    val (planted, organic) = out.keySet.partition(_.length % 2 == 0)
    assert(planted.nonEmpty && organic.nonEmpty, s"need both classes: $out")
    assert(planted.forall(out(_)), s"every planted metric must reject: $out")
    assert(organic.exists(!out(_)), s"some organic metric must survive: $out")
  }

  test("heterogeneous p_den through the real pipeline (per-group b) raises") {
    // the declared pipeline's own operators: two permutation-test
    // slices run with DIFFERENT replicate counts (b = 99 vs 199) give
    // p_den 100 vs 200 — feeding their union to bhAdjust must trip
    // the mixed-denominator guard, not misorder the p_num sort
    val rng = new scala.util.Random(17)
    val units = (1 to 60).map(i =>
      ("ma", i.toLong, (i % 2), rng.nextInt(1000).toLong)) ++
      (1 to 60).map(i => ("mb", i.toLong, (i % 2), rng.nextInt(1000).toLong))
    val df = units.toDF("metric", "uid", "arm", "v")
    val t1 = ABTest.permutationTestByGroup(
      df.filter(org.apache.spark.sql.functions.col("metric") === "ma"), "metric", "uid", "arm", "v", b = 99)
    val t2 = ABTest.permutationTestByGroup(
      df.filter(org.apache.spark.sql.functions.col("metric") === "mb"), "metric", "uid", "arm", "v", b = 199)
    val ex = intercept[Exception] {
      ABTest.bhAdjust(t1.unionByName(t2), "metric", "p_num", "p_den", 1L, 5L)
        .collect()
    }
    assert((ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse(""))
      .contains("mixed p_den"))
  }

  test("bhAdjust: NULL p_num/p_den values raise instead of nulling the flags") {
    // countDistinct ignores nulls, so a mixed null/non-null p_den used
    // to sail past the mixed-denominator guard (__ndens = 1) and emit
    // null ok/rejected flags — the guard must fire on nulls too
    def msg(e: Throwable): String =
      e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")
    val nullDen = Seq(("a", 1L, java.lang.Long.valueOf(100L)),
      ("b", 2L, null.asInstanceOf[java.lang.Long]))
    val ex1 = intercept[Exception] {
      ABTest.bhAdjust(nullDen.toDF("k", "pn", "pd"), "k", "pn", "pd", 1L, 10L)
        .collect()
    }
    assert(msg(ex1).contains("null p_num/p_den"))
    val nullNum = Seq(("a", java.lang.Long.valueOf(1L), 100L),
      ("b", null.asInstanceOf[java.lang.Long], 100L))
    val ex2 = intercept[Exception] {
      ABTest.bhAdjust(nullNum.toDF("k", "pn", "pd"), "k", "pn", "pd", 1L, 10L)
        .collect()
    }
    assert(msg(ex2).contains("null p_num/p_den"))
  }
}
