package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class TimeSeriesSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def fillOf(rows: Seq[(String, Long, Long)]) =
    TimeSeries.gapFill(rows.toDF("k", "b", "v"), "k", "b", "v")
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("b"),
        Option(r.getAs[java.lang.Long]("v")).map(_.longValue),
        Option(r.getAs[java.lang.Long]("ffill_value")).map(_.longValue),
        Option(r.getAs[java.lang.Long]("interp_num")).map(_.longValue),
        Option(r.getAs[java.lang.Long]("interp_den")).map(_.longValue)))
      .sortBy(t => (t._1, t._2))

  test("gapFill: dense grid per key over [min,max]; observed rows pass through") {
    val got = fillOf(Seq(("a", 10L, 5L), ("a", 13L, 8L), ("b", 1L, 2L)))
    assert(got.map(t => (t._1, t._2)).toSeq ==
      Seq(("a", 10L), ("a", 11L), ("a", 12L), ("a", 13L), ("b", 1L)))
    // observed rows: value carried, rational = (v, 1)
    assert(got.head == ("a", 10L, Some(5L), Some(5L), Some(5L), Some(1L)))
    assert(got(3) == ("a", 13L, Some(8L), Some(8L), Some(8L), Some(1L)))
  }

  test("gapFill: ffill carries last observation; interpolation rational is exact") {
    val got = fillOf(Seq(("a", 0L, 4L), ("a", 3L, 10L)))
    val gap1 = got.find(_._2 == 1L).get
    val gap2 = got.find(_._2 == 2L).get
    assert(gap1._4 == Some(4L), "ffill at b=1 is the b=0 value")
    // linear between (0,4) and (3,10): at b=1 → 4*(3-1)+10*(1-0)=18 over 3 (=6)
    assert((gap1._5, gap1._6) == (Some(18L), Some(3L)))
    // at b=2 → 4*1+10*2=24 over 3 (=8)
    assert((gap2._5, gap2._6) == (Some(24L), Some(3L)))
  }

  test("gapFill: single-observation key yields exactly its own row, no gaps") {
    val got = fillOf(Seq(("solo", 7L, 3L)))
    assert(got.toSeq == Seq(("solo", 7L, Some(3L), Some(3L), Some(3L), Some(1L))))
  }

  test("gapFill: windows partition by the series key only (scale audit)") {
    val df = Seq(("a", 1L, 1L)).toDF("k", "b", "v")
    val plan = TimeSeries.gapFill(df, "k", "b", "v").queryExecution.sparkPlan
    val windowKeys = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.flatMap(_.references.map(_.name)).toSet
    }
    assert(windowKeys.nonEmpty && windowKeys.forall(_ == Set("k")),
      s"every window must partition by the key: $windowKeys")
  }

  test("rollingSum: RANGE frame spans buckets, so series gaps shrink the window") {
    val df = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 5L, 40L), ("b", 1L, 7L))
      .toDF("k", "b", "v")
    val got = TimeSeries.rollingSum(df, "k", "b", Seq("v"), span = 3L)
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("b"),
        r.getAs[Long]("rolling_v"), r.getAs[Long]("rolling_n")))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      ("a", 1L, 10L, 1L),
      ("a", 2L, 30L, 2L),
      ("a", 5L, 40L, 1L), // buckets 3,4 absent: only b=5 in [3,5]
      ("b", 1L, 7L, 1L)))
  }

  test("rollingSum: multiple value columns share one WindowExec") {
    val df = Seq(("a", 1L, 10L, 1L), ("a", 2L, 20L, 2L))
      .toDF("k", "b", "x", "y")
    val out = TimeSeries.rollingSum(df, "k", "b", Seq("x", "y"), span = 2L)
    val windows = out.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 1,
      s"both rolling sums must ride one window, got ${windows.size}")
    val r = out.filter(col("b") === 2L).collect().head
    assert(r.getAs[Long]("rolling_x") == 30L && r.getAs[Long]("rolling_y") == 3L)
  }

  test("maxConcurrency: sweep-line vs brute-force on seeded intervals; touching intervals never stack") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val rows = (1 to 300).map { _ =>
      val s = rnd.nextInt(60).toLong
      (s"k${rnd.nextInt(6)}", s, s + rnd.nextInt(10))
    }
    val got = TimeSeries.maxConcurrency(rows.toDF("k", "s", "e"), "k", "s", "e")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = rows.groupBy(_._1).view.mapValues { ivs =>
      (0L to 80L).map(t => ivs.count(iv => iv._2 <= t && t <= iv._3).toLong).max
    }.toMap
    assert(got == want.toMap)
    // [0,4] and [5,9]: closing day 4 means day 5's opener never stacks
    val touch = TimeSeries.maxConcurrency(
      Seq(("x", 0L, 4L), ("x", 5L, 9L)).toDF("k", "s", "e"), "k", "s", "e")
      .collect().head.getLong(1)
    assert(touch == 1L)
  }

  /** Driver replay of the mean-cleared ACF fold. */
  private def refAcf(xs: Seq[Long], maxLag: Int): Map[Int, (Long, Long, Long)] = {
    val n = xs.size.toLong
    val s = xs.sum
    val c = xs.map(x => n * x - s)
    val den = c.map(v => v * v).sum
    (1 to maxLag).map { l =>
      val num = (0 until (xs.size - l)).map(t => c(t) * c(t + l)).sum
      l -> ((num, den, (xs.size - l).toLong))
    }.toMap
  }

  test("acf matches the reference fold; r_1 of a period-2 series is negative") {
    val series = Map(
      "a" -> Seq(3L, 9L, 3L, 9L, 3L, 9L, 3L, 9L), // alternating
      "b" -> Seq(1L, 2L, 3L, 4L, 5L, 6L))          // trending
    val rows = series.toSeq.flatMap { case (k, xs) =>
      xs.zipWithIndex.map { case (x, t) => (k, t.toLong, x) } }
    val got = TimeSeries.acf(rows.toDF("k", "t", "x"), "k", "t", "x", maxLag = 3)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    for ((k, xs) <- series; (l, v) <- refAcf(xs, 3))
      assert(got((k, l)) == v, s"key=$k lag=$l")
    // alternating series: lag-1 perfectly anti-correlated, lag-2 perfect
    val (n1, d1, _) = got(("a", 1))
    assert(n1 < 0 && d1 > 0)
    val (n2, _, t2) = got(("a", 2))
    assert(n2 > 0, "period-2 series must correlate positively at lag 2")
    assert(t2 == 6L)
  }

  private def ewmaOf(rows: Seq[(String, Long, Long)], aExp: Int, span: Int) =
    TimeSeries.ewma(rows.toDF("k", "t", "v"), "k", "t", "v", aExp, span)
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("t")) ->
        ((r.getAs[Long]("ewma_num"), r.getAs[Long]("ewma_den"),
          r.getAs[Long]("ewma_c"))))
      .toMap

  test("ewma: hand-computed dyadic weights, early rows renormalize") {
    // alpha = 1/2, span 3 → weights 4, 2, 1 over (x_t, x_{t-1}, x_{t-2})
    val got = ewmaOf(Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),
      ("a", 4L, 0L)), aExp = 1, span = 3)
    assert(got(("a", 1L)) == ((40L, 4L, 10L)))             // first row: itself
    assert(got(("a", 2L)) == ((100L, 6L, 16L)))            // 20*4+10*2 / 6
    assert(got(("a", 3L)) == ((170L, 7L, 24L)))            // 30*4+20*2+10 / 7
    // span truncation: the t=1 value has fallen out of the window
    assert(got(("a", 4L)) == ((80L, 7L, 11L)))             // 0*4+30*2+20 / 7
  }

  test("ewma: alphaExp=2 weights are (2^a-1)^i cleared; div truncates toward zero") {
    // alpha = 1/4, span 2 → weights 4, 3 (den 16): adjust-normalized
    val got = ewmaOf(Seq(("a", 1L, 10L), ("a", 2L, 20L)), aExp = 2, span = 2)
    assert(got(("a", 2L)) == ((110L, 7L, 15L)))            // (20*4+10*3)/7 = 15.7
    // negative numerator: Spark div must truncate toward zero (q-parity rule)
    val neg = ewmaOf(Seq(("b", 1L, -10L), ("b", 2L, -5L)), aExp = 1, span = 2)
    assert(neg(("b", 2L)) == ((-20L, 3L, -6L)), "-20 div 3 is -6, not -7")
  }

  test("ewma: keys are independent; single window partitioned by the series key") {
    val df = Seq(("a", 1L, 5L), ("b", 1L, 100L)).toDF("k", "t", "v")
    val out = TimeSeries.ewma(df, "k", "t", "v", 1, 4)
    val got = out.collect().map(r =>
      r.getAs[String]("k") -> r.getAs[Long]("ewma_c")).toMap
    assert(got == Map("a" -> 5L, "b" -> 100L))
    val windowKeys = out.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.flatMap(_.references.map(_.name)).toSet
    }
    assert(windowKeys.nonEmpty && windowKeys.forall(_ == Set("k")),
      s"every window must partition by the key: $windowKeys")
  }

  test("ewma: overflow guard rejects alphaExp*span > 62") {
    val df = Seq(("a", 1L, 1L)).toDF("k", "t", "v")
    intercept[IllegalArgumentException] {
      TimeSeries.ewma(df, "k", "t", "v", alphaExp = 8, span = 8)
    }
  }

  test("twap: holding-time weights, horizon tail, ties deterministic") {
    val rows = Seq(
      // key a: v=10 held [0,10), v=40 held [10,20), horizon 20
      ("a", 0L, 10L), ("a", 10L, 40L),
      // key b: one sample holds the whole [5, 20) span
      ("b", 5L, 7L),
      // key c: duplicate timestamp — (ts, v) order makes dt=0 for the
      // smaller value, so only the larger holds
      ("c", 0L, 3L), ("c", 0L, 9L))
    val got = TimeSeries.twap(rows.toDF("k", "t", "v"), "k", "t", "v",
        horizonEnd = 20L)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("a") == ((2L, 20L, 10L * 10 + 40L * 10, 25000000L)))
    assert(got("b") == ((1L, 15L, 7L * 15, 7000000L)))
    assert(got("c") == ((2L, 20L, 9L * 20, 9000000L)))
  }

  test("twap: horizon before a sample fails loud") {
    val e = intercept[Exception] {
      TimeSeries.twap(Seq(("a", 30L, 1L)).toDF("k", "t", "v"),
        "k", "t", "v", horizonEnd = 20L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("horizonEnd precedes")))
  }

  test("seasonalNaiveEval: exact SAE ingredients over the scorable window") {
    // perfectly seasonal series (period 3): seasonal error 0, naive > 0
    val seasonal = (0 until 9).map(t => ("s", t.toLong, Seq(10L, 50L, 30L)(t % 3)))
    // trending series: seasonal error is 3*season, naive error is 3/step
    val trend = (0 until 8).map(t => ("t", t.toLong, 100L + 3L * t))
    val got = TimeSeries.seasonalNaiveEval(
        (seasonal ++ trend).toDF("k", "o", "x"), "k", "o", "x", season = 3)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // naive per scorable row t=3..8: |10-30|,|50-10|,|30-50|,... = 20,40,20,20,40,20
    assert(got("s") == ((6L, 0L, 160L)))
    assert(got("t") == ((5L, 5L * 9L, 5L * 3L)))
    // a key shorter than the season produces no scorable rows
    assert(!got.contains("x"))
  }

  /** Driver replay of the exact fixed-point Holt recurrence. */
  private def refHolt(xs: Seq[Long], aExp: Int, bExp: Int): Seq[(Long, Long, Long)] = {
    val a = 1L << aExp; val b = 1L << bExp
    var lvl = xs.head; var tr = 0L
    (lvl, tr, 0L) +: xs.tail.map { x =>
      val err = x - (lvl + tr)
      val nl = (x + (a - 1) * (lvl + tr)) / a
      val nt = ((nl - lvl) + (b - 1) * tr) / b
      lvl = nl; tr = nt
      (lvl, tr, err)
    }
  }

  test("holtSmooth matches the driver fixed-point replay; tracks trends EWMA lags") {
    val rnd = new scala.util.Random(11)
    // a noisy up-trend and a level shift, in centi-units, plus negatives
    val up = (0 until 40).map(t => 1000L + 50L * t + rnd.nextInt(21) - 10)
    val shift = (0 until 30).map(t => if (t < 15) -500L else 2000L)
    val rows = up.zipWithIndex.map { case (x, t) => ("up", t.toLong, x) } ++
      shift.zipWithIndex.map { case (x, t) => ("sh", t.toLong, x) }
    val got = TimeSeries.holtSmooth(rows.toDF("k", "o", "x"), "k", "o", "x",
        alphaExp = 2, betaExp = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    for ((series, name) <- Seq((up, "up"), (shift, "sh"))) {
      val want = refHolt(series, 2, 3)
      for (t <- series.indices)
        assert(got((name, t.toLong)) == want(t), s"$name t=$t")
    }
    // on the clean trend the learned slope approaches the true 50/step
    val lastTr = got(("up", 39L))._2
    assert(lastTr > 30L && lastTr < 70L, s"learned trend $lastTr")
    // single-point series: just the seed row
    val single = TimeSeries.holtSmooth(Seq(("one", 0L, 7L)).toDF("k", "o", "x"),
      "k", "o", "x", 2, 3).collect()
    assert(single.length == 1 &&
      single.head.getLong(3) == 7L && single.head.getLong(4) == 0L)
  }
}
