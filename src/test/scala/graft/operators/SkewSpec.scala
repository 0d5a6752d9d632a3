package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class SkewSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  test("salted join matches plain join on skewed keys") {
    // 90% of fact rows share one hot key
    val fact = ((1 to 900).map(i => (1L, i.toDouble)) ++
      (1 to 100).map(i => (i.toLong % 7 + 2, i.toDouble))).toDF("k", "v")
    val dim = (1 to 10).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).groupBy("k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedJoin(fact, dim, "k", salts = 8).groupBy("k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    // salted fact spreads the hot key over multiple (key, salt) groups
    val saltSpread = fact.withColumn("__salt",
        org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.xxhash64(fact.columns.map(org.apache.spark.sql.functions.col).toSeq: _*),
          org.apache.spark.sql.functions.lit(8)))
      .filter($"k" === 1L).select("__salt").distinct().count()
    assert(saltSpread > 1)
  }

  test("salted sum matches plain aggregation") {
    val df = ((1 to 500).map(_ => ("hot", 1.0)) ++ Seq(("cold", 2.0), ("cold", 3.0)))
      .toDF("k", "v")
    val plain = df.groupBy("k").sum("v").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val salted = Skew.saltedSum(df, "k", "v").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted == plain)
  }

  /** Per-task shuffle-read record ceiling, observed via listener —
    * the empirical form of every "bounded per-task input" claim.
    */
  private def maxTaskShuffleRead(body: => Unit): Long = {
    val maxTaskRecords = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null)
          maxTaskRecords.getAndUpdate(_ max m.shuffleReadMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener events are async: poll until the max is stable
      var prev = -1L
      var stable = 0
      while (stable < 4) {
        val cur = maxTaskRecords.get()
        if (cur == prev) stable += 1 else stable = 0
        prev = cur
        Thread.sleep(250)
      }
      maxTaskRecords.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("connectedComponents: 100k-node star resolves with bounded per-task shuffle input") {
    import org.apache.spark.sql.functions._
    val starSize = 100000
    // one mega-hub (node 0 ↔ 1..100k) + a cold tail of 3-cycles
    val star = spark.range(1, starSize + 1).select(lit(0L).as("a"), col("id").as("b"))
    val tail = spark.range(0, 300).select(
      (col("id") * 3 + 1000000).as("a"), (col("id") * 3 + 1000001).as("b"))
      .union(spark.range(0, 300).select(
        (col("id") * 3 + 1000001).as("a"), (col("id") * 3 + 1000002).as("b")))
    val edges = star.union(tail)

    // 16 real reducers: AQE's partition coalescing folds this tiny
    // exchange into ONE task (bounded by bytes, not rows), which would
    // mask exactly the per-key concentration this test measures
    // auto-broadcast off: at this toy scale Spark would broadcast the
    // whole min-lookup and no exchange forms at all; at 100 TB the
    // lookup is corpus-sized and MUST shuffle — that's the shape under
    // test (the hot leg's explicit broadcast() hint still applies)
    val confs = Seq("spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      var cc = Map.empty[Long, Long]
      val protectedCeiling = maxTaskShuffleRead {
        // localLimit = 0 forces the distributed star rounds — this test
        // measures THAT path's per-task bound, not the small-graph
        // driver union-find shortcut
        cc = Clusters.connectedComponents(edges, hotThreshold = 1000, localLimit = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      // correctness: every star node maps to the hub's min id
      assert(cc(0L) == 0L && cc(1L) == 0L && cc(starSize.toLong) == 0L)
      assert((1 to starSize by 9973).forall(i => cc(i.toLong) == 0L))
      // tail components resolve to their own minima, not the hub
      assert(cc(1000001L) == 1000000L && cc(1000002L) == 1000000L)
      // baseline: the SAME first star step with the hub UNPROTECTED
      // funnels the hub's whole neighbor list through one reducer
      val unprotectedCeiling = maxTaskShuffleRead {
        Clusters.largeStar(
          edges.toDF("u", "v"), hotThreshold = Long.MaxValue).count()
      }
      assert(unprotectedCeiling >= starSize,
        s"baseline invalid: expected the hub (~$starSize rows) on one task, " +
          s"saw $unprotectedCeiling")
      assert(protectedCeiling < starSize / 2,
        s"a task shuffle-read $protectedCeiling records — the hub leaked " +
          s"into the exchange (unprotected baseline: $unprotectedCeiling)")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("SemDedup blocked cell join: exact parity with ONE saturated cell; per-block input bounded") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(17)
    val n = 1200
    // all vectors forced into ONE IVF cell (nlist = 1) — the saturated
    // case the guard exists for — with 30 planted near-dup pairs
    val base = (0L until n.toLong).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val planted = base.take(30).map { case (i, v) =>
      (i + 100000L, v.map(x => x * 1.001f))
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    // completeness: with every pair a candidate, the blocked join must
    // reproduce the exact all-pairs result — including cross-sub-group
    // pairs whose id order opposes their block orientation
    val got = SemDedup.semanticDupPairs(spark, emb, "vec_id", "embedding",
        threshold = 0.98, nlist = 1, nassign = 1, maxCellSize = 100)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SemDedup.exactDupPairs(emb, "vec_id", "embedding", 0.98)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 30, s"expected the planted pairs, got ${exact.size}")
    assert(got == exact,
      s"blocked join drifted: missed ${(exact -- got).size}, spurious ${(got -- exact).size}")
    // the bound itself, asserted at the join-key level (what maps to
    // per-task input at scale): no (cell, bi, bj) group on either side
    // may exceed ~the sub-group size; 3× covers hash imbalance
    val index = IvfIndex.build(spark, emb, "vec_id", "embedding",
      nlist = 1, seed = 42L, nassign = 1)
    val (a, b) = SemDedup.blockedSides(index.assigned, maxCellSize = 100)
    val maxA = a.groupBy("cell", "bi", "bj").count().agg(max("count")).head.getLong(0)
    val maxB = b.groupBy("cell", "bi", "bj").count().agg(max("count")).head.getLong(0)
    assert(maxA <= 300 && maxB <= 300,
      s"saturated cell leaked into one block: maxA=$maxA maxB=$maxB")
    // baseline: unguarded (maxCellSize = ∞) concentrates the WHOLE
    // cell — all n+30 rows per side — on the single (cell, 0, 0) key
    val (a0, b0) = SemDedup.blockedSides(index.assigned, Int.MaxValue)
    val base0 = a0.groupBy("cell", "bi", "bj").count().agg(max("count")).head.getLong(0)
    assert(base0 == n + 30, s"baseline invalid: $base0")
  }

  test("exactMedianByGroup: 200k-row continuous dominant group, bounded per-task shuffle input") {
    import org.apache.spark.sql.functions._
    // continuous doubles → every value distinct → the naive
    // lang-partitioned rank window sorts ALL 200k dominant-group rows
    // in ONE task; the bracketed two-pass form must never concentrate
    // more than ~the bracket anywhere (4·n/accuracy + agg partials)
    val n = 200000
    val df = spark.range(n).select(lit("en").as("g"),
        (pmod(xxhash64(col("id")), lit(10000000)).cast("double") / 1e7).as("v"))
      .union(spark.range(2000).select(lit("de").as("g"),
        (pmod(xxhash64(col("id") + 500000), lit(10000000)).cast("double") / 1e7).as("v")))
    val confs = Seq("spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      var got = Map.empty[String, Double]
      val protectedCeiling = maxTaskShuffleRead {
        got = Quantiles.exactMedianByGroup(df, "g", "v", accuracy = 1000)
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      }
      // correctness against the naive window (and its ceiling baseline)
      var want = Map.empty[String, Double]
      val naiveCeiling = maxTaskShuffleRead {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("v"))
        want = df.withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("g"))))
          .filter(col("rn") === greatest(lit(1L), least(col("n"),
            floor((col("n") + 1) / lit(2.0)))))
          .collect().map(r => r.getString(0) -> r.getAs[Double]("v")).toMap
      }
      assert(got == want, "bracketed median must equal the naive window's")
      assert(naiveCeiling >= n,
        s"baseline invalid: expected the dominant group (~$n rows) on one task, saw $naiveCeiling")
      assert(protectedCeiling < n / 10,
        s"a task shuffle-read $protectedCeiling records — the dominant group " +
          s"leaked into one task (naive baseline: $naiveCeiling)")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hotColdLookupJoin: parity with a plain join; hot keys take the broadcast leg") {
    import org.apache.spark.sql.functions._
    // one mega-key (5000 rows) + a cold tail
    val fact = ((1 to 5000).map(i => (1L, i)) ++
      (1 to 200).map(i => (2L + i % 9, i))).toDF("k", "payload")
    val lookup = fact.groupBy("k").agg(min("payload").as("m"), count(lit(1)).as("__c"))
    val got = Skew.hotColdLookupJoin(fact, lookup, "k", "__c", hotThreshold = 1000)
    val plain = fact.join(lookup.drop("__c"), "k")
    assert(got.count() == plain.count())
    assert(got.exceptAll(plain).isEmpty && plain.exceptAll(got).isEmpty)
    // plan shape: the hot leg is a broadcast join — hub rows never
    // enter a keyed exchange
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"expected a broadcast hot leg:\n$p")
  }

  /** Direct Gini over the sorted per-key count multiset. */
  private def refDistribution(rows: Seq[(String, Long)])
      : Map[String, (Long, Long, Long, Long, Long, Long)] =
    rows.groupBy(_._1).map { case (g, rs) =>
      val counts = rs.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
      val m = counts.size.toLong
      val tot = counts.values.sum
      val sorted = counts.values.toSeq.sorted
      val rmass = sorted.zipWithIndex.map { case (c, i) => (i + 1) * c }.sum
      val (topK, maxC) = counts.toSeq.map { case (k, c) => (k, c) }
        .minBy { case (k, c) => (-c, k) }
      g -> ((m, tot, maxC, topK, 2 * rmass - (m + 1) * tot, m * tot))
    }

  test("keyDistribution: Gini closed form ≡ sorted-rank reference; uniform vs hot") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(5)
    // g=uniform: every key once → gini 0. g=hot: one key dominates.
    val rows: Seq[(String, Long)] =
      (1 to 50).map(i => ("uniform", i.toLong)) ++
      (Seq.fill(500)(("hot", 7L)) ++ (1 to 20).map(i => ("hot", 100L + i))) ++
      Seq.fill(300)(("rand", rnd.nextInt(40).toLong))
    val got = Skew.keyDistribution(rows.toDF("g", "k"), "g", "k")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    assert(got == refDistribution(rows))
    assert(got("uniform")._5 == 0L, "uniform keys have zero Gini numerator")
    val hot = got("hot")
    assert(hot._3 == 500L && hot._4 == 7L)
    // strongly concentrated: gini_num/gini_den close to 1
    assert(hot._5.toDouble / hot._6 > 0.8)
  }

  test("joinForecast: exact inner size, fanout argmax, outer-side counts") {
    import org.apache.spark.sql.functions._
    // a: key 1 x2, key 2 x3, key 3 x1; b: key 2 x4, key 3 x1, key 9 x5
    val a = Seq(1L, 1L, 2L, 2L, 2L, 3L).toDF("jk")
    val b = Seq(2L, 2L, 2L, 2L, 3L, 9L, 9L, 9L, 9L, 9L).toDF("jk")
    val r = Skew.joinForecast(a, b, "jk").collect().head
    // n_out = 3*4 + 1*1 = 13; verify against the actual join
    assert(r.getLong(0) == 13L)
    assert(r.getLong(0) == a.join(b, "jk").count())
    assert(r.getLong(1) == 2L)              // matched keys {2, 3}
    assert(r.getLong(2) == 12L && r.getLong(3) == 2L) // heaviest key
    assert(r.getLong(4) == 1L)              // key 1 left-only
    assert(r.getLong(5) == 1L)              // key 9 right-only
  }

  test("joinForecast: disjoint keys forecast zero; null keys excluded") {
    import org.apache.spark.sql.functions._
    val a = Seq[java.lang.Long](1L, null).toDF("jk")
    val b = Seq[java.lang.Long](2L, null, null).toDF("jk")
    val r = Skew.joinForecast(a, b, "jk").collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.getLong(2) == 0L)
    assert(r.getLong(4) == 1L && r.getLong(5) == 1L)
  }
}
