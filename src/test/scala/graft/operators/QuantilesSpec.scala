package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class QuantilesSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  test("thresholds are the values at ranks ceil(k·n/B)") {
    // values 1..10, quartiles (B=4): ranks ceil(10k/4) = 3,5,8 → 3,5,8
    val df = (1 to 10).map(v => (v.toLong, v)).toDF("id", "v")
    val th = Quantiles.valueThresholds(df, "v", 4)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Int]("threshold")).toMap
    assert(th == Map(1L -> 3, 2L -> 5, 3L -> 8))
  }

  test("ties share a bucket; buckets partition the corpus in value order") {
    // heavy tie on value 5: deciles can't split it
    val vals = Seq(1, 2, 5, 5, 5, 5, 5, 5, 8, 9)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val got = Quantiles.bucketAssign(df, "v", 10)
      .collect().map(r => r.getAs[Int]("v") -> r.getAs[Int]("bucket"))
    val byVal = got.groupBy(_._1).view.mapValues(_.map(_._2).distinct.toSeq).toMap
    assert(byVal.forall(_._2.size == 1), "equal values must share one bucket")
    // bucket is monotone in value
    val ordered = got.distinct.sortBy(_._1).map(_._2).toSeq
    assert(ordered == ordered.sorted)
    assert(got.filter(_._1 == 1).head._2 == 1, "smallest value in bucket 1")
  }

  test("continuous domain (600k distinct doubles) falls back to the GK sketch path") {
    import org.apache.spark.sql.functions._
    // 600k distinct doubles > DefaultMaxDistinct (1e5): the exact
    // value-distinct window would be corpus-sized — must not run
    val df = spark.range(600000L).select(
      col("id"), (col("id").cast("double") + lit(0.5)).as("v"))
    val th = Quantiles.valueThresholds(df, "v", 4)
    val plan = th.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"),
      s"fallback must not contain the unpartitioned window:\n$plan")
    val got = th.collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("threshold"))
      .sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    // GK accuracy 10000 ⇒ rank error ≤ 0.01% = ±60 ranks on 600k
    got.foreach { case (k, t) =>
      val wantRank = 600000.0 * k / 4
      assert(math.abs((t - 0.5) + 1 - wantRank) <= 120, s"k=$k t=$t")
    }
  }

  test("exact path unchanged below the bound; sketch path respects maxDistinct override") {
    val df = (1 to 10).map(v => (v.toLong, v)).toDF("id", "v")
    // force the sketch path on a tiny domain via the override
    val th = Quantiles.valueThresholds(df, "v", 4, maxDistinct = 2L)
    val plan = th.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Window"))
    assert(th.count() == 3)
  }

  test("seeded parity with a driver-side sort-based binning") {
    val rnd = new scala.util.Random(3)
    val vals = Seq.fill(500)(rnd.nextInt(40))
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val buckets = 10
    val got = Quantiles.bucketAssign(df, "v", buckets)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("bucket")).toMap
    // reference: thresholds from the sorted list at ranks ceil(k·n/B)
    val sorted = vals.sorted
    val n = sorted.length
    val th = (1 until buckets).map(k => sorted(((k.toLong * n + buckets - 1) / buckets).toInt - 1))
    vals.zipWithIndex.foreach { case (v, i) =>
      val want = 1 + th.count(v > _)
      assert(got(i.toLong) == want, s"v=$v")
    }
  }

  /** Driver-side reference for the per-group lower median: the value at
    * rank clamp(floor((n+1)/2), 1, n) in the sorted group.
    */
  private def refMedian(vals: Seq[Double]): Double = {
    val sorted = vals.sorted
    val n = sorted.length
    val k = math.max(1L, math.min(n.toLong, (n + 1) / 2)).toInt
    sorted(k - 1)
  }

  test("exactMedianByGroup: parity with sort-based rank-k on skewed groups, ties, n=1/2") {
    val rnd = new scala.util.Random(7)
    // skewed: one dominant group, heavy ties, plus degenerate sizes
    val rows =
      Seq.fill(3000)(("en", rnd.nextInt(50).toDouble)) ++
      Seq.fill(400)(("de", rnd.nextDouble() * 10)) ++
      Seq.fill(25)(("fr", 7.0)) ++                 // all-tie group
      Seq(("xx", 42.0)) ++                          // n = 1
      Seq(("yy", 1.0), ("yy", 2.0))                 // n = 2 → lower median
    val df = rnd.shuffle(rows).toDF("g", "v")
    val got = Quantiles.exactMedianByGroup(df, "g", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = rows.groupBy(_._1).view.mapValues(g => refMedian(g.map(_._2))).toMap
    assert(got == want.toMap)
  }

  test("exactMedianByGroup: degenerate bracket routes through the [min,max] fallback, stays exact") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(800)(("a", rnd.nextDouble())) ++
      Seq.fill(300)(("b", rnd.nextInt(9).toDouble))
    val df = rows.toDF("g", "v")
    // delta < 0 ⇒ lo0 > hi0 ⇒ empty candidate bracket ⇒ the exact count
    // check MUST fail and route every group through [min, max]
    val got = Quantiles.exactMedianByGroupImpl(df, "g", "v",
        accuracy = 10000, delta = -0.3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = rows.groupBy(_._1).view.mapValues(g => refMedian(g.map(_._2))).toMap
    assert(got == want.toMap)
  }

  test("exactMedianByGroup: continuous doubles, 50k-row dominant group — bracket bounds the sort") {
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(50000)(("en", rnd.nextDouble())) ++
      Seq.fill(500)(("de", rnd.nextDouble()))
    val df = rows.toDF("g", "v")
    val out = Quantiles.exactMedianByGroup(df, "g", "v", accuracy = 1000)
    val got = out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = rows.groupBy(_._1).view.mapValues(g => refMedian(g.map(_._2))).toMap
    assert(got == want.toMap)
  }

  /** Rank-⌈p·n⌉ reference (quantile_disc's convention; the double
    * multiply deliberately mirrors the operator's arithmetic). */
  private def refQuantile(vals: Seq[Double], p: Double): Double = {
    val sorted = vals.sorted
    val n = sorted.length
    val k = math.max(1L, math.min(n.toLong, math.ceil(p * n).toLong)).toInt
    sorted(k - 1)
  }

  test("exactQuantileByGroup: P05/P25/P50/P90/P99 parity with sort-based rank-k, incl. ties and tiny n") {
    val rnd = new scala.util.Random(23)
    val rows =
      Seq.fill(4000)(("en", rnd.nextInt(100).toDouble)) ++   // heavy ties
      Seq.fill(700)(("de", rnd.nextDouble() * 1000)) ++      // continuous
      Seq.fill(10)(("fr", 3.0)) ++                           // all-tie
      Seq(("xx", 42.0)) ++                                   // n = 1
      Seq(("yy", 1.0), ("yy", 2.0), ("yy", 3.0))             // n = 3
    val df = rnd.shuffle(rows).toDF("g", "v")
    for (p <- Seq(0.05, 0.25, 0.5, 0.9, 0.99)) {
      val got = Quantiles.exactQuantileByGroup(df, "g", "v", p)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = rows.groupBy(_._1).view
        .mapValues(g => refQuantile(g.map(_._2), p)).toMap
      assert(got == want.toMap, s"p=$p")
    }
    // median path unchanged: the p=0.5 ceil(n/2) rank IS the lower median
    val med = Quantiles.exactMedianByGroup(df, "g", "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val med2 = Quantiles.exactQuantileByGroup(df, "g", "v", 0.5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(med == med2)
  }

  test("exactQuantileByGroup: tail quantile on a 50k continuous group stays exact through the bracket") {
    val rnd = new scala.util.Random(29)
    val rows = Seq.fill(50000)(("en", rnd.nextDouble())) ++
      Seq.fill(120)(("de", rnd.nextDouble()))
    val df = rows.toDF("g", "v")
    val got = Quantiles.exactQuantileByGroup(df, "g", "v", 0.99, accuracy = 1000)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = rows.groupBy(_._1).view
      .mapValues(g => refQuantile(g.map(_._2), 0.99)).toMap
    assert(got == want.toMap)
  }

  test("histogramByGroup: bins/edges/counts match a driver reference; max lands in the last bin; w=0 group degenerates to bin 0") {
    val rnd = new scala.util.Random(31)
    val rows = Seq.fill(5000)(("a", rnd.nextDouble() * 100 - 50)) ++
      Seq.fill(200)(("b", rnd.nextInt(7).toDouble)) ++
      Seq.fill(9)(("c", 4.25))                       // all-equal: w = 0
    val bins = 8
    val got = Quantiles.histogramByGroup(rows.toDF("g", "v"), "g", "v", bins)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
      val vs = rs.map(_._2)
      val (lo, hi) = (vs.min, vs.max)
      val w = (hi - lo) / bins
      vs.groupBy { v =>
        if (w == 0.0) 0L else math.min(bins - 1L, math.floor((v - lo) / w).toLong)
      }.map { case (b, bucket) =>
        (g, b) -> (lo + b * w, lo + (b + 1) * w, bucket.size.toLong)
      }
    }
    assert(got == want)
    // conservation: every row lands in exactly one bin
    assert(got.values.map(_._3).sum == rows.size)
    // the max value is inside (closed) the last bin for each non-degenerate group
    assert(got.keys.filter(_._1 == "a").map(_._2).max == bins - 1L)
  }

  /** Driver weighted cut: smallest v with cumW ≥ ⌈p·W⌉. */
  private def refWeightedCut(rows: Seq[(Long, Long)], pNum: Long,
                             pDen: Long): (Long, Long, Long) = {
    val w = rows.map(_._2).sum
    val k = (pNum * w + pDen - 1) / pDen
    var cum = 0L
    for ((v, wv) <- rows.groupBy(_._1).view.mapValues(_.map(_._2).sum)
           .toSeq.sortBy(_._1)) {
      cum += wv
      if (cum >= k) return (v, w, k)
    }
    throw new IllegalStateException("unreachable")
  }

  test("weightedCutByGroup: reference parity, zero-weight drop, heavy value") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val groups = Map(
      "g1" -> Seq.fill(60)((rnd.nextInt(20).toLong, (rnd.nextInt(9) + 1).toLong)),
      // one value carries >half the weight: the cut must be exactly it
      "g2" -> (Seq((5L, 100L)) ++ Seq.fill(30)((rnd.nextInt(20).toLong, 1L))))
    val rows = groups.toSeq.flatMap { case (g, vs) =>
      vs.map { case (v, w) => (g, v, w) } } ++
      Seq(("g1", 999L, 0L)) // zero weight: must not move the cut
    val got = Quantiles.weightedCutByGroup(
        rows.toDF("g", "v", "w"), "g", "v", "w", pNum = 1L, pDen = 2L)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    for ((g, vs) <- groups)
      assert(got(g) == refWeightedCut(vs, 1L, 2L), s"group=$g")
    assert(got("g2")._1 == 5L)
    // p = 9/10 tail cut agrees too
    val p90 = Quantiles.weightedCutByGroup(
        rows.toDF("g", "v", "w"), "g", "v", "w", pNum = 9L, pDen = 10L)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    for ((g, vs) <- groups)
      assert(p90(g) == refWeightedCut(vs, 9L, 10L), s"p90 group=$g")
  }

  test("percentileRankByGroup: mid-rank convention, ties share, groups independent") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 20L), ("a", 4L, 30L),
      ("b", 5L, 7L))
    val got = Quantiles.percentileRankByGroup(
        rows.toDF("g", "id", "v"), "g", "v")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("pct_micro")).toMap
    // group a, n=4: v=10 → (0+1)/8; v=20 ties → (2·1+2)/8 = 1/2; v=30 → (2·3+1)/8
    assert(got(1L) == 1000000L / 8L)
    assert(got(2L) == 500000L && got(3L) == 500000L)
    assert(got(4L) == 7000000L / 8L)
    // singleton group: mid-rank 1/2 exactly
    assert(got(5L) == 500000L)
    // reference parity on random data: mid-rank = (2·below + ties)/(2n)
    val rnd = new scala.util.Random(3)
    val rand = (1 to 200).map(i => ("r", i.toLong, rnd.nextInt(15).toLong))
    val gr = Quantiles.percentileRankByGroup(rand.toDF("g", "id", "v"), "g", "v")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("pct_micro")).toMap
    val vs = rand.map(_._3)
    for ((_, id, v) <- rand) {
      val below = vs.count(_ < v).toLong; val eq = vs.count(_ == v).toLong
      assert(gr(id) == (2 * below + eq) * 1000000L / (2 * vs.size), s"id=$id")
    }
  }

  /** Sort-based reference: drop k = floor(n*trim) rows per tail, sum the rest. */
  private def refTrimmed(vs: Seq[Long], num: Int, den: Int): (Long, Long, Long) = {
    val sorted = vs.sorted
    val k = (vs.size.toLong * num) / den
    val kept = sorted.slice(k.toInt, vs.size - k.toInt)
    (k, kept.size.toLong, kept.sum)
  }

  test("trimmedMeanByGroup: sort-based parity on skew, ties at the cuts, tiny n") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    // heavy-tied group, a wild-outlier group, and tiny groups n=1..3
    val tied = Seq.fill(200)(Seq(10L, 10L, 10L, 20L, 90L)(rng.nextInt(5)))
    val wild = Seq.fill(150)(rng.nextInt(100).toLong) ++ Seq(1000000L, -999999L)
    val rows = tied.map(("t", _)) ++ wild.map(("w", _)) ++
      Seq.fill(30)(("eq", 7L)) ++ // ALL-equal group: both cuts on one row
      Seq(("n1", 7L), ("n2", 3L), ("n2", 9L), ("n3", 1L), ("n3", 5L), ("n3", 9L))
    // several trims: deep cuts pull the two sentinel brackets together
    // (2/5 leaves 1/5 of rows between them) — the collapse regions and
    // crossing algebra must stay exact everywhere
    for ((tn, td) <- Seq((1, 10), (1, 4), (2, 5), (1, 3))) {
      val gotT = Quantiles.trimmedMeanByGroup(rows.toDF("g", "v"), "g", "v",
          trimNum = tn, trimDen = td)
        .collect()
        .map(r => r.getAs[String]("g") ->
          ((r.getAs[Long]("k_trim"), r.getAs[Long]("n_kept"),
            r.getAs[Long]("trimmed_sum"))))
        .toMap
      for ((g, vs) <- rows.groupBy(_._1).view.mapValues(_.map(_._2))) {
        val (k, nk, s) = refTrimmed(vs, tn, td)
        assert(gotT(g) == ((k, nk, s)), s"group $g trim $tn/$td")
      }
    }
    val got = Quantiles.trimmedMeanByGroup(rows.toDF("g", "v"), "g", "v",
        trimNum = 1, trimDen = 10)
      .collect()
      .map(r => r.getAs[String]("g") ->
        ((r.getAs[Long]("k_trim"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("trimmed_sum"), r.getAs[Long]("trimmed_mean_micro"))))
      .toMap
    for ((g, vs) <- rows.groupBy(_._1).view.mapValues(_.map(_._2))) {
      val (k, nk, s) = refTrimmed(vs, 1, 10)
      assert(got(g) == ((k, nk, s, s * 1000000L / nk)), s"group $g")
    }
    // trimming tames the outliers: trimmed mean of 'w' is near the bulk
    assert(math.abs(got("w")._4) < 100L * 1000000L)
    // trim = 0 degenerates to the exact mean
    val zero = Quantiles.trimmedMeanByGroup(rows.toDF("g", "v"), "g", "v", 0, 2)
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Long]("trimmed_sum")).toMap
    for ((g, vs) <- rows.groupBy(_._1).view.mapValues(_.map(_._2)))
      assert(zero(g) == vs.sum, s"group $g trim0")
  }

  test("trimmedMeanByGroup: quarter trim approaches the median on asymmetric data") {
    import spark.implicits._
    val vs = Seq(1L, 1L, 2L, 3L, 4L, 5L, 6L, 100L)
    val got = Quantiles.trimmedMeanByGroup(vs.map(("g", _)).toDF("g", "v"),
      "g", "v", 1, 4).head()
    // k = 2: kept (2,3,4,5) -> sum 14, mean 3.5
    assert(got.getAs[Long]("k_trim") == 2L)
    assert(got.getAs[Long]("trimmed_sum") == 14L)
    assert(got.getAs[Long]("trimmed_mean_micro") == 3500000L)
    assert(got.getAs[Long]("cut_lo") == 2L && got.getAs[Long]("cut_hi") == 5L)
  }

  test("trimmedMeanByGroup: Long.MinValue/MaxValue rows RAISE at the call boundary") {
    import spark.implicits._
    for (bad <- Seq(Long.MinValue, Long.MaxValue)) {
      val rows = Seq(("g", 1L), ("g", 2L), ("g", bad), ("g", 4L))
      val e = intercept[Exception] {
        Quantiles.trimmedMeanByGroup(rows.toDF("g", "v"), "g", "v", 1, 4)
          .collect()
      }
      assert(e.getMessage != null &&
        e.getMessage.contains("sentinel arithmetic needs one spare value"),
        s"expected the boundary guard for $bad, got: ${e.getMessage}")
    }
    // the guard is exact — values inside the boundary pass. (Values
    // within double-rounding distance of 2⁶³ would still fail LOUDLY:
    // percentile_approx interpolates in double, so a bracket probe can
    // round onto the excluded extreme and collide with a sentinel; the
    // GK crossing guard catches that. Fixed-point longs — the
    // documented domain — sit far below 2⁵³ where doubles are exact.)
    val ok = Quantiles.trimmedMeanByGroup(
      Seq(("g", -(1L << 53)), ("g", 0L), ("g", 1L << 53))
        .toDF("g", "v"), "g", "v", 0, 2).head()
    assert(ok.getAs[Long]("n_kept") == 3L)
  }

  test("exactQuantileByGroup leaves the cache manager empty (release discipline)") {
    import spark.implicits._
    spark.catalog.clearCache()
    val df = (1 to 500).map(i => (s"g${i % 3}", (i * 37 % 101).toLong)).toDF("g", "v")
    val cut = Quantiles.exactQuantileByGroup(df, "g", "v", 0.5)
    cut.collect()
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cm.isEmpty,
      "exactRankByGroupImpl must not register cache entries (stats rides " +
        "through the count pass as carried grouping keys)")
  }

  test("exactQuantilesByGroup ≡ per-p exactQuantileByGroup (skewed, tied, tiny and singleton groups; degenerate low accuracy)") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    // group a: 20k skewed ints with ties; b: 11 rows; c: singleton;
    // d: all-equal; plus nulls (excluded by both paths)
    val rows =
      (1 to 20000).map(i => ("a", java.lang.Double.valueOf(math.floor(math.pow(rnd.nextDouble(), 3) * 500)))) ++
      (1 to 11).map(i => ("b", java.lang.Double.valueOf((i % 4).toDouble))) ++
      Seq(("c", java.lang.Double.valueOf(42.0)), ("d", null: java.lang.Double)) ++
      (1 to 9).map(_ => ("d", java.lang.Double.valueOf(5.0)))
    val df = rows.toDF("g", "v")
    val ps = Seq(0.1 -> "p10", 0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")
    for (acc <- Seq(10000, 100)) { // 100 stresses the [min,max] fallback
      val batched = Quantiles.exactQuantilesByGroup(df, "g", "v", ps, acc)
        .collect().map(r => r.getString(0) ->
          ps.map { case (_, n) => r.getAs[Double](n) }).toMap
      ps.foreach { case (p, name) =>
        val single = Quantiles.exactQuantileByGroup(df, "g", "v", p, acc)
          .collect().map(r => r.getString(0) -> r.getAs[Double]("cut")).toMap
        single.foreach { case (grp, want) =>
          val got = batched(grp)(ps.indexWhere(_._2 == name))
          assert(got == want,
            s"acc=$acc p=$p group=$grp: batched=$got single=$want")
        }
        assert(single.keySet == batched.keySet)
      }
    }
  }

}
