package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** The stored census must be a pure re-serving of the live one: same
  * rows bit-for-bit from both readouts, the stored adjacency reaching
  * its end-join through the bucketing (no stored-side exchange), and
  * nothing left in the cache manager after the build.
  */
class AdjacencyIndexSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def edgesDf = {
    val rnd = new scala.util.Random(41)
    (Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L)) ++
      Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)))
      .filter(e => e._1 != e._2).toDF("a", "b")
  }

  test("stored readouts match the live census bit-for-bit; build leaves the cache empty") {
    spark.catalog.clearCache()
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val edges = edgesDf
    val liveCensus = Graphs.triangleStats(edges, "a", "b").collect().toSeq
    val liveNodes = Graphs.nodeTriangles(edges, "a", "b").collect().toSet
    try {
      AdjacencyIndex.save(spark, edges, "a", "b", "adjix_spec", buckets = 4)
      assert(cm.isEmpty, "save must release the build's adjacency cache")
      val storedCensus = AdjacencyIndex.triangleStatsStored(spark, "adjix_spec")
        .collect().toSeq
      assert(storedCensus == liveCensus)
      val storedNodes = AdjacencyIndex.nodeTrianglesStored(spark, "adjix_spec")
        .collect().toSet
      assert(storedNodes == liveNodes)
    } finally {
      spark.sql("DROP TABLE IF EXISTS adjix_spec_adj")
      spark.sql("DROP TABLE IF EXISTS adjix_spec_deg")
      spark.sql("DROP TABLE IF EXISTS adjix_spec_meta")
    }
  }

  test("concurrent-write failure contract: every write SETTLES before the combined error is raised, which names every failed table") {
    // slow sibling: proves awaitAllWrites does NOT fail fast — the
    // error can only carry this flag if the slow write settled first
    @volatile var slowSettled = false
    val slow = () => { Thread.sleep(400); slowSettled = true }
    val fast = () => ()
    val boom: () => Unit = () => throw new IllegalStateException("disk full")
    val e = intercept[RuntimeException] {
      AdjacencyIndex.awaitAllWrites("save(t)",
        Seq("adj" -> slow, "deg" -> boom, "meta" -> fast))
    }
    assert(slowSettled,
      "awaitAllWrites must settle EVERY write before raising (fail-fast " +
        "would leave the slow sibling running past the caller's cleanup)")
    assert(e.getMessage.contains("deg") && !e.getMessage.contains("adj,"),
      s"combined error must name exactly the failed tables: ${e.getMessage}")
    assert(e.getCause.isInstanceOf[IllegalStateException])
    // two failures → both named, second attached as suppressed
    val boom2: () => Unit = () => throw new RuntimeException("quota")
    val e2 = intercept[RuntimeException] {
      AdjacencyIndex.awaitAllWrites("save(t)",
        Seq("adj" -> boom2, "deg" -> (() => ()),
          "meta" -> (() => throw new RuntimeException("lease lost"))))
    }
    assert(e2.getMessage.contains("adj") && e2.getMessage.contains("meta"))
    assert(e2.getSuppressed.length == 1)
  }

  test("stored DOULION readout equals the live sampled census: exact at p=1, identical subgraph at p=1/2") {
    val edges = edgesDf
    try {
      AdjacencyIndex.save(spark, edges, "a", "b", "adjix_dlx", buckets = 4)
      // p = 1: the sampled census IS the exact census — bit-equal rows
      val live1 = Graphs.triangleStatsSampled(edges, "a", "b", 1, 1).collect().toSeq
      val stored1 = AdjacencyIndex
        .sampledTriangleStatsStored(spark, "adjix_dlx", 1, 1).collect().toSeq
      assert(stored1 == live1, s"p=1 stored=$stored1 live=$live1")
      assert(stored1.head.getLong(3) == stored1.head.getLong(5),
        "p=1 estimate is the exact count")
      // p = 1/2: the deterministic coin draws the SAME subgraph on both
      // paths (full-graph orientation vs sampled re-orientation is
      // invisible to triangle counts), so every column matches exactly
      val live2 = Graphs.triangleStatsSampled(edges, "a", "b", 1, 2).collect().toSeq
      val stored2 = AdjacencyIndex
        .sampledTriangleStatsStored(spark, "adjix_dlx", 1, 2).collect().toSeq
      assert(stored2 == live2, s"p=1/2 stored=$stored2 live=$live2")
      assert(stored2.head.getLong(1) < stored1.head.getLong(1),
        "p=1/2 must actually drop edges")
    } finally {
      spark.sql("DROP TABLE IF EXISTS adjix_dlx_adj")
      spark.sql("DROP TABLE IF EXISTS adjix_dlx_deg")
      spark.sql("DROP TABLE IF EXISTS adjix_dlx_meta")
    }
  }

  test("sampled stored end-join rides the src bucketing: no exchange under the non-exploded adjacency side") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      AdjacencyIndex.save(spark, edgesDf, "a", "b", "adjix_dlp", buckets = 4)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val stored = AdjacencyIndex.sampledTriangleStatsStored(spark, "adjix_dlp", 1, 2)
      stored.collect()
      val plan = stored.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def bareAdjScan(p: SparkPlan): Boolean =
        p.collectLeaves().exists(_.toString.contains("adjix_dlp_adj")) &&
          !p.toString.contains("Generate")
      val shufflesOverStored = plan.collect {
        case s: ShuffleExchangeExec if bareAdjScan(s) => s
      }
      assert(plan.toString.contains("adjix_dlp_adj"), "stored scan present")
      assert(shufflesOverStored.isEmpty,
        s"the sampled adjacency filter must not break the bucketing:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS adjix_dlp_adj")
      spark.sql("DROP TABLE IF EXISTS adjix_dlp_deg")
      spark.sql("DROP TABLE IF EXISTS adjix_dlp_meta")
    }
  }

  test("stored end-join rides the src bucketing: no shuffle between the adjacency scan and the join") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      AdjacencyIndex.save(spark, edgesDf, "a", "b", "adjix_plan", buckets = 4)
      // force the sort-merge path a 100 TB adjacency would take
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val stored = AdjacencyIndex.triangleStatsStored(spark, "adjix_plan")
      stored.collect()
      val plan = stored.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      // the JOIN's bucketed side (the non-exploded adjacency scan) must
      // reach it with no exchange; the exploded-ends side shuffles. The
      // exploded side's leaves also scan _adj, so the assertion is on
      // shuffles whose subtree is a BARE adjacency scan (no Generate).
      def bareAdjScan(p: SparkPlan): Boolean =
        p.collectLeaves().exists(_.toString.contains("adjix_plan_adj")) &&
          !p.toString.contains("Generate")
      val shufflesOverStored = plan.collect {
        case s: ShuffleExchangeExec if bareAdjScan(s) => s
      }
      assert(plan.toString.contains("adjix_plan_adj"), "stored scan present")
      assert(shufflesOverStored.isEmpty,
        s"bucketed adjacency must not exchange before its end-join:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS adjix_plan_adj")
      spark.sql("DROP TABLE IF EXISTS adjix_plan_deg")
      spark.sql("DROP TABLE IF EXISTS adjix_plan_meta")
    }
  }
}
