package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Connected-components correctness vs a driver-side union-find oracle,
  * including the shapes that break naive label propagation (long chains)
  * and the survivorship contract of dedupClusters.
  */
class ClustersSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical root = min id reachable ⇒ path-compress to the min
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // union by min above keeps roots minimal already; find() settles chains
    ids.map(i => i -> find(i)).toMap
  }

  private def sparkComponents(edges: Seq[(Long, Long)],
                              localLimit: Long = 1L << 22): Map[Long, Long] = {
    import spark.implicits._
    Clusters.connectedComponents(edges.toDF("a", "b"), localLimit = localLimit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain, clique, singleton-pair mix matches union-find") {
    val chain = (0L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val clique = for (i <- 100L to 105L; j <- (i + 1) to 105L) yield (i, j)
    val lone = Seq((200L, 201L))
    val edges = scala.util.Random.shuffle(chain ++ clique ++ lone)
    assert(sparkComponents(edges) == unionFind(0, edges))
  }

  test("random graphs at several densities match union-find (seeded)") {
    for (seed <- 1 to 3; density <- Seq(0.5, 1.5)) {
      val rnd = new scala.util.Random(seed)
      val n = 120
      val m = (n * density).toInt
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val expected = unionFind(n, edges)
      val got = sparkComponents(edges)
      assert(got == expected, s"seed=$seed density=$density")
      // the distributed star rounds and the small-graph driver
      // union-find must land on the identical assignment
      val iterative = sparkComponents(edges, localLimit = 0L)
      assert(iterative == expected, s"iterative seed=$seed density=$density")
    }
  }

  test("survivorshipBy keeps the best-scored member, ties on smaller id") {
    import spark.implicits._
    // clusters {1,2,3} and {10,11}; 4 is a singleton
    val docs = Seq(
      (1L, 5L), (2L, 9L), (3L, 9L), (4L, 1L), (10L, 2L), (11L, 7L))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = Clusters.survivorshipBy(docs, "doc_id", "score", pairs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // cluster 1: max score 9 tied between 2 and 3 → 2 wins
    assert(got(1L) == ((1L, 2L, false)))
    assert(got(2L) == ((1L, 2L, true)))
    assert(got(3L) == ((1L, 2L, false)))
    // singleton keeps itself
    assert(got(4L) == ((4L, 4L, true)))
    // cluster 10: 11 has the higher score
    assert(got(10L) == ((10L, 11L, false)))
    assert(got(11L) == ((10L, 11L, true)))
    // exactly one survivor per cluster
    assert(got.values.count(_._3) == 3)
  }

  test("survivorshipBy compares fractional scores natively (no long truncation)") {
    import spark.implicits._
    // both scores < 1.0: a long cast would truncate each to 0 and the
    // tie would silently fall back to id order, keeping the WORSE doc
    val docs = Seq((1L, 0.31), (2L, 0.73)).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val got = Clusters.survivorshipBy(docs, "doc_id", "score", pairs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(2L) == ((2L, true)), s"0.73 must beat 0.31: $got")
    assert(got(1L) == ((2L, false)))
  }

  test("empty pair set: every document is its own kept singleton") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L).toDF("doc_id")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Clusters.dedupClusters(docs, "doc_id", noPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out == Set((1L, 1L, true), (2L, 2L, true), (3L, 3L, true)))
  }

  test("a 300-node chain converges within the iteration bound (breaks label propagation)") {
    // plain min-label propagation needs ~300 rounds here; the
    // alternating algorithm's O(log n) contraction must finish well
    // inside maxIter = 25
    val chain = (0L until 300L).sliding(2).map(s => (s(0), s(1))).toSeq
    val got = sparkComponents(scala.util.Random.shuffle(chain))
    assert(got.size == 300 && got.values.forall(_ == 0L))
  }

  test("reversed and duplicated edges don't change components") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L), (7L, 5L))
    assert(sparkComponents(edges) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 7L -> 5L))
  }

  test("dedupClusters: transitive groups collapse to one survivor; singletons kept") {
    import spark.implicits._
    // A~B, B~C (A~C never emitted) + isolated doc 9
    val docs = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Clusters.dedupClusters(docs, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (9L, 9L, true)))
  }

  test("appendClusters: batch bridging two stored clusters unifies them; untouched clusters unchanged") {
    import spark.implicits._
    // stored: {1,2} root 1, {5,6} root 5, {10,11} root 10 (untouched)
    val stored = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "cluster")
    // batch doc 20 links to a member of each of the first two clusters;
    // batch doc 21 is a singleton
    val batch = Seq(20L, 21L).toDF("doc_id")
    val pairs = Seq((20L, 2L), (20L, 6L)).toDF("id_a", "id_b")
    val out = Clusters.appendClusters(stored, batch, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out == Set(
      (1L, 1L, true), (2L, 1L, false), (5L, 1L, false), (6L, 1L, false),
      (20L, 1L, false), (21L, 21L, true),
      (10L, 10L, true), (11L, 10L, false)))
  }

  test("appendClusters: a re-sent batch doc keeps its stored row, no duplicate assignment") {
    import spark.implicits._
    val stored = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("doc_id", "cluster")
    // doc 2 is re-sent alongside genuinely-new doc 30
    val batch = Seq(2L, 30L).toDF("doc_id")
    val pairs = Seq((30L, 5L)).toDF("id_a", "id_b")
    val out = Clusters.appendClusters(stored, batch, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.length == out.map(_._1).distinct.length, "one row per doc")
    val m = out.map(r => r._1 -> r._2).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 30L -> 5L))
  }

  test("appendClusters ≡ full dedupClusters on seeded random two-day corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 20
      val ids = (0L until n.toLong)
      val edges = (1 to n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val docs = ids.toDF("doc_id")
      val full = Clusters.dedupClusters(docs, "doc_id", edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

      val day1 = ids.filter(_ % 2 == 0)
      val day1Edges = edges.filter(e => e._1 % 2 == 0 && e._2 % 2 == 0)
      val day2Edges = edges.filter(e => e._1 % 2 != 0 || e._2 % 2 != 0)
      val stored = Clusters.dedupClusters(day1.toDF("doc_id"), "doc_id",
          day1Edges.toDF("id_a", "id_b"))
        .select("doc_id", "cluster")
      val inc = Clusters.appendClusters(stored,
          ids.filter(_ % 2 != 0).toDF("doc_id"), "doc_id",
          day2Edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      assert(inc == full, s"trial $trial")
    }
  }

  test("appendClusters: the stored table is scanned, never shuffled") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = java.nio.file.Files.createTempDirectory("stored_clusters").toString
    try {
      (0L until 1000L).map(i => (i, i - i % 4)).toDF("doc_id", "cluster")
        .write.mode("overwrite").parquet(dir)
      val stored = spark.read.parquet(dir)
      val batch = Seq(5000L, 5001L).toDF("doc_id")
      val pairs = Seq((5000L, 3L), (5000L, 7L)).toDF("id_a", "id_b")
      val res = Clusters.appendClusters(stored, batch, "doc_id", pairs)
      res.collect()
      val plan = res.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def scansStored(p: SparkPlan): Boolean =
        p.collectLeaves().exists(_.toString.contains(dir.stripPrefix("/")))
      val shufflesOverStored = plan.collect {
        case s: ShuffleExchangeExec if scansStored(s) => s
      }
      assert(plan.collectLeaves().exists(_.toString.contains(dir.stripPrefix("/"))),
        "stored scan present in the final plan")
      assert(shufflesOverStored.isEmpty,
        s"stored side must never ride an exchange, plan:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
