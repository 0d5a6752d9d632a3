package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class GraphsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  /** Driver-side replay of the exact integer recurrence — the spec's
    * independent reference for the distributed implementation.
    */
  private def refRanks(edges: Seq[(String, String)], iters: Int,
                       dampNum: Long = 85L, dampDen: Long = 100L,
                       scale: Long = 1000000L): Map[String, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val deg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val base = scale * (dampDen - dampNum) / dampDen
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val mass = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map(x => r(x._1) / deg(x._1)).sum
      }
      r = nodes.map(n => n -> (base + dampNum * mass.getOrElse(n, 0L) / dampDen)).toMap
    }
    r
  }

  private def run(edges: Seq[(String, String)], iters: Int): Map[String, Long] =
    Graphs.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect()
      .map(r => r.getAs[String]("node") -> r.getAs[Long]("rank_micro"))
      .toMap

  test("pageRank matches the integer reference replay, iters 1..4") {
    val edges = Seq(
      "a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a",
      "d" -> "c", "a" -> "b" /* duplicate edge: distinct semantics */)
    for (it <- 1 to 4)
      assert(run(edges, it) == refRanks(edges, it), s"iters=$it")
  }

  test("pageRank: dangling node keeps the base rank and sinks gain mass") {
    // d has no out-edges (dangling); everything points at d
    val edges = Seq("a" -> "d", "b" -> "d", "c" -> "d", "a" -> "b")
    val got = run(edges, 3)
    assert(got == refRanks(edges, 3))
    // c has no in-edges: pure base after round 1
    assert(got("c") == 150000L)
    // the sink collects strictly more than any source
    assert(got("d") > got("a") && got("d") > got("b") && got("d") > got("c"))
  }

  test("pageRank: self-loops are legal and deterministic") {
    val edges = Seq("a" -> "a", "a" -> "b", "b" -> "a")
    assert(run(edges, 3) == refRanks(edges, 3))
  }

  test("degrees: distinct-edge out/in counts with full outer coverage") {
    val edges = Seq("a" -> "b", "a" -> "b", "a" -> "c", "c" -> "b")
    val got = Graphs.degrees(edges.toDF("src", "dst"), "src", "dst")
      .collect()
      .map(r => (r.getAs[String]("node"), r.getAs[Long]("out_deg"), r.getAs[Long]("in_deg")))
      .toSet
    assert(got == Set(("a", 2L, 0L), ("b", 0L, 2L), ("c", 1L, 1L)))
  }

  /** Brute-force triangle reference: distinct undirected edges, count
    * node triples (x<y<z) with all three edges present.
    */
  private def refTriangles(edges: Seq[(Long, Long)]): (Long, Long, Long, Long) = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val deg = nodes.map(n => n -> und.count(e => e._1 == n || e._2 == n).toLong).toMap
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    val ns = nodes.toIndexedSeq
    var tri = 0L
    for (i <- ns.indices; j <- (i + 1) until ns.size if und((ns(i), ns(j)));
         k <- (j + 1) until ns.size
         if und((ns(j), ns(k))) && und((ns(i), ns(k))))
      tri += 1
    (nodes.size.toLong, und.size.toLong, wedges, tri)
  }

  private def runTri(edges: Seq[(Long, Long)]): (Long, Long, Long, Long, Long) = {
    val r = Graphs.triangleStats(edges.toDF("a", "b"), "a", "b").head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  test("triangleStats: structured graphs — K5, star, triangle+tail") {
    // K5: C(5,3)=10 triangles, 10 edges, 30 wedges
    val k5 = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(runTri(k5) == ((5L, 10L, 30L, 10L, 30L)))
    // star: hub 0 with 50 spokes — 0 triangles, 1225 wedges at the hub
    val star = (1L to 50L).map(i => (0L, i))
    assert(runTri(star) == ((51L, 50L, 50L * 49 / 2, 0L, 0L)))
    // one triangle with a pendant tail; duplicate + reversed + self edges
    val t = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (2L, 1L), (2L, 2L))
    assert(runTri(t) == ((4L, 4L, 5L, 1L, 3L)))
  }

  test("triangleStats matches the brute-force reference on random graphs") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val edges = Seq.fill(220)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val (nn, ne, nw, nt) = refTriangles(edges)
      assert(runTri(edges) == ((nn, ne, nw, nt, 3 * nt)), s"seed=$seed")
    }
  }

  /** Driver replay of synchronous min-tie-break LPA. */
  private def refLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val nbrs = (und ++ und.map(_.swap)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      labels = nbrs.map { case (n, ns) =>
        val counts = ns.map(labels).groupBy(identity).view.mapValues(_.size).toMap
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  test("labelPropagation: reference parity; two cliques joined by a bridge separate") {
    for (seed <- 1 to 3; rounds <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(130)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
      val got = Graphs.labelPropagation(edges.toDF("a", "b"), "a", "b", rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == refLpa(edges, rounds), s"seed=$seed rounds=$rounds")
    }
    // two K4s {0..3} and {10..13} with a single bridge 3-10: after 3
    // rounds each clique carries its own minimum's label
    val k4a = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val k4b = for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)
    val g = k4a ++ k4b :+ ((3L, 10L))
    val got = Graphs.labelPropagation(g.toDF("a", "b"), "a", "b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 2L).forall(n => got(n) == 0L))
    assert((11L to 13L).forall(n => got(n) == 10L))
  }

  test("nodeTriangles: per-corner credits match brute force; totals tie to the census") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val n = 25
      val edges = Seq.fill(140)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val und = edges.map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
        .distinct.toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted.toIndexedSeq
      val perNode = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for (i <- nodes.indices; j <- (i + 1) until nodes.size
           if und((nodes(i), nodes(j)));
           k <- (j + 1) until nodes.size
           if und((nodes(j), nodes(k))) && und((nodes(i), nodes(k)))) {
        perNode(nodes(i)) += 1; perNode(nodes(j)) += 1; perNode(nodes(k)) += 1
      }
      val deg = nodes.map(x => x -> und.count(e => e._1 == x || e._2 == x).toLong).toMap
      val got = Graphs.nodeTriangles(edges.toDF("a", "b"), "a", "b")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      val want = nodes.map(x => x ->
        ((deg(x), perNode(x), 2 * perNode(x), deg(x) * (deg(x) - 1)))).toMap
      assert(got == want, s"seed=$seed")
      // corner credits sum to 3× the global census
      val census = Graphs.triangleStats(edges.toDF("a", "b"), "a", "b").head().getLong(3)
      assert(got.values.map(_._2).sum == 3 * census)
    }
  }

  test("triangleStatsSampled: p=1 reduces to the exact census; p=1/2 is deterministic and sane") {
    val rnd = new scala.util.Random(17)
    val n = 60
    val edges = Seq.fill(900)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    val exact = Graphs.triangleStats(edges.toDF("a", "b"), "a", "b").head()
    val full = Graphs.triangleStatsSampled(edges.toDF("a", "b"), "a", "b",
      pNum = 1, pDen = 1).head()
    // p = 1: identical stats, estimator equals the exact count
    assert((0 to 4).forall(i => full.getLong(i) == exact.getLong(i)))
    assert(full.getLong(5) == exact.getLong(3))
    // p = 1/2: rerun-identical (no RNG), roughly half the edges kept,
    // estimator within a loose DOULION band of the exact count
    val s1 = Graphs.triangleStatsSampled(edges.toDF("a", "b"), "a", "b", 1, 2).head()
    val s2 = Graphs.triangleStatsSampled(edges.toDF("a", "b"), "a", "b", 1, 2).head()
    assert(s1.toSeq == s2.toSeq, "deterministic coin")
    val kept = s1.getLong(1).toDouble / exact.getLong(1)
    assert(kept > 0.35 && kept < 0.65, s"kept fraction $kept")
    val est = s1.getLong(5).toDouble
    val t = exact.getLong(3).toDouble
    assert(est > 0.4 * t && est < 2.5 * t, s"estimate $est vs exact $t")
    // a different salt flips a different subgraph
    val s3 = Graphs.triangleStatsSampled(edges.toDF("a", "b"), "a", "b", 1, 2,
      salt = "other").head()
    assert(s3.getLong(1) != s1.getLong(1) || s3.getLong(3) != s1.getLong(3))
  }

  /** Driver-side peeling reference: repeatedly delete nodes with
    * degree < k in the surviving induced subgraph.
    */
  private def refKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    var changed = true
    while (changed) {
      val deg = (und.map(_._1) ++ und.map(_._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size.toLong }
      val bad = deg.filter(_._2 < k).keySet
      changed = bad.nonEmpty
      und = und.filterNot(e => bad(e._1) || bad(e._2))
    }
    (und.map(_._1) ++ und.map(_._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
  }

  private def runKCore(edges: Seq[(Long, Long)], k: Int,
                       localLimit: Long = 1L << 22): Map[Long, Long] =
    Graphs.kCore(edges.toDF("a", "b"), "a", "b", k, localLimit = localLimit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kCore matches the peeling reference on random graphs, k in 2..4, both paths") {
    for (seed <- 1 to 3; k <- 2 to 4) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val edges = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val want = refKCore(edges, k)
      assert(runKCore(edges, k) == want, s"seed=$seed k=$k (driver path)")
      // localLimit = 0 forces the distributed peeling waves
      assert(runKCore(edges, k, localLimit = 0L) == want,
        s"seed=$seed k=$k (distributed path)")
    }
  }

  /** Driver BFS reference: multi-source min hop distance. */
  private def refBfs(edges: Seq[(Long, Long)], sources: Seq[Long],
                     maxDepth: Int): Map[Long, Long] = {
    val adj = edges.distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = sources.distinct.map(_ -> 0L).toMap
    var frontier = sources.distinct
    for (d <- 1 to maxDepth if frontier.nonEmpty) {
      frontier = frontier.flatMap(n => adj.getOrElse(n, Nil))
        .distinct.filterNot(dist.contains)
      dist ++= frontier.map(_ -> d.toLong)
    }
    dist
  }

  private def runBfs(edges: Seq[(Long, Long)], sources: Seq[Long],
                     maxDepth: Int, localLimit: Long = 1L << 22): Map[Long, Long] =
    Graphs.bfsDistances(edges.toDF("src", "dst"), "src", "dst",
        sources.toDF("node"), maxDepth, localLimit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("bfsDistances matches the reference; depth cap and unreachable nodes") {
    // directed chain 0→1→2→3→4→5 plus a back edge and an island 8→9
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (3L, 0L), (8L, 9L))
    val got = runBfs(edges, Seq(0L), maxDepth = 3)
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    // multi-source takes the nearest seed; isolated seeds stay at 0
    val multi = runBfs(edges, Seq(0L, 4L, 100L), maxDepth = 10)
    assert(multi == refBfs(edges, Seq(0L, 4L, 100L), 10))
    assert(multi(5L) == 1L && multi(100L) == 0L && !multi.contains(8L))
  }

  test("bfsDistances matches the reference on random digraphs, both paths") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(150)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
      val sources = Seq(rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
      val want = refBfs(edges, sources, 6)
      assert(runBfs(edges, sources, 6) == want, s"seed=$seed (driver path)")
      // localLimit = 0 forces the distributed frontier rounds
      assert(runBfs(edges, sources, 6, localLimit = 0L) == want,
        s"seed=$seed (distributed path)")
    }
  }

  /** Driver replay of the exact max-normalized HITS recurrence. */
  private def refHits(edges: Seq[(Long, Long)], iters: Int,
                      scale: Long = 1000000L): Map[Long, (Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var hub = nodes.map(_ -> scale).toMap
    var auth = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val ar = e.groupBy(_._2).view.mapValues(_.map(x => hub(x._1)).sum).toMap
      val am = ar.values.max
      auth = nodes.map(n => n -> ar.getOrElse(n, 0L) * scale / am).toMap
      val hr = e.groupBy(_._1).view.mapValues(_.map(x => auth(x._2)).sum).toMap
      val hm = hr.values.max
      hub = nodes.map(n => n -> hr.getOrElse(n, 0L) * scale / hm).toMap
    }
    nodes.map(n => n -> ((hub(n), auth(n)))).toMap
  }

  test("hits matches the integer reference replay; pure hub/authority split") {
    for (seed <- 1 to 3; iters <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(80)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter(e => e._1 != e._2)
      val got = Graphs.hits(edges.toDF("s", "d"), "s", "d", iters)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == refHits(edges, iters), s"seed=$seed iters=$iters")
    }
    // star: 0 points at 1..4 — 0 is the pure hub, spokes pure authorities
    val star = (1L to 4L).map(i => (0L, i))
    val got = Graphs.hits(star.toDF("s", "d"), "s", "d", iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(0L) == ((1000000L, 0L)))
    assert((1L to 4L).forall(i => got(i) == ((0L, 1000000L))))
  }

  test("kCore: cascading peel — a chain has no 2-core, a cycle is its own") {
    // chain 0-1-2-3-4: endpoints peel, then everything cascades away
    val chain = (0L to 3L).map(i => (i, i + 1))
    assert(runKCore(chain, 2).isEmpty)
    // cycle of 5 + a pendant: the cycle survives at degree exactly 2
    val cycle = (0L to 4L).map(i => (i, (i + 1) % 5)) :+ (0L, 9L)
    assert(runKCore(cycle, 2) == (0L to 4L).map(_ -> 2L).toMap)
    // K5 is a 4-core; no 5-core exists
    val k5 = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(runKCore(k5, 4) == (0L to 4L).map(_ -> 4L).toMap)
    assert(runKCore(k5, 5).isEmpty)
  }

  test("kCore: maxIter exhaustion returns post-peel degrees, never stale ones") {
    // chain 1-2-3-4-5 at k=2 needs 2 peel waves; cap at 1 (distributed
    // path). Round 1 peels {1,5}, leaving 2-3, 3-4. Degrees must be
    // recomputed from THAT edge set (2:1, 3:2, 4:1) — the stale
    // pre-peel counts would leak 2 and 4 back in with core_deg=2.
    val chain = (1L to 4L).map(i => (i, i + 1))
    val got = Graphs.kCore(
        chain.toDF("a", "b"), "a", "b", k = 2, maxIter = 1, localLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 2L), s"got $got")
  }

  /** Driver truss reference: iterative brute-force support peel. */
  private def refKTruss(edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Long] = {
    var und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
    def support(es: Set[(Long, Long)]): Map[(Long, Long), Long] = {
      val adj = es.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      es.toSeq.map { case (u, v) =>
        (u, v) -> (adj(u) & adj(v)).size.toLong
      }.toMap
    }
    var changed = true
    while (changed) {
      val sup = support(und)
      val bad = und.filter(e => sup(e) < k - 2)
      changed = bad.nonEmpty
      und = und -- bad
    }
    support(und)
  }

  private def runKTruss(edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Long] =
    Graphs.kTruss(edges.toDF("a", "b"), "a", "b", k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("kTruss matches the peeling reference on random graphs, k in 3..4") {
    for (seed <- 1 to 3; k <- 3 to 4) {
      val rnd = new scala.util.Random(seed * 11)
      val n = 30
      val edges = Seq.fill(140)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      assert(runKTruss(edges, k) == refKTruss(edges, k), s"seed=$seed k=$k")
    }
  }

  test("kTruss: K4 with a pendant triangle — the cohesion cut kCore misses") {
    // K4 on {1,2,3,4} plus triangle {4,5,6}: every edge of K4 closes 2
    // triangles; the pendant triangle's edges close only 1 → a 4-truss
    // keeps exactly K4, even though all six nodes sit in the 2-core
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val edges = k4 ++ Seq((4L, 5L), (4L, 6L), (5L, 6L))
    val got = runKTruss(edges, 4)
    assert(got.keySet == k4.toSet, s"got ${got.keySet}")
    assert(got.values.forall(_ == 2L))
    // k=3 keeps everything (every edge closes >= 1 triangle)
    assert(runKTruss(edges, 3).keySet == edges.toSet)
    // a 5-truss needs every edge in 3 triangles: only K5 qualifies
    assert(runKTruss(edges, 5).isEmpty)
  }

  /** Driver replay of the personalized fixed-point recurrence. */
  private def refPpr(edges: Seq[(String, String)], sources: Set[String],
                     iters: Int, dampNum: Long = 85L, dampDen: Long = 100L,
                     scale: Long = 1000000L): Map[String, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val deg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val base = scale * (dampDen - dampNum) / dampDen
    var r = nodes.map(n => n -> (if (sources(n)) scale else 0L)).toMap
    for (_ <- 1 to iters) {
      val mass = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map(x => r(x._1) / deg(x._1)).sum
      }
      r = nodes.map(n => n -> ((if (sources(n)) base else 0L) +
        dampNum * mass.getOrElse(n, 0L) / dampDen)).toMap
    }
    r
  }

  private def runPpr(edges: Seq[(String, String)], sources: Seq[String],
                     iters: Int): Map[String, Long] =
    Graphs.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
        sources.toDF("node"), iters)
      .collect()
      .map(r => r.getAs[String]("node") -> r.getAs[Long]("rank_micro"))
      .toMap

  test("personalizedPageRank: mass decays from the seeds; unreached nodes stay 0") {
    // two chains from a seed, plus a disconnected pair
    val edges = Seq(("s", "a"), ("a", "b"), ("b", "c"), ("x", "y"))
    val got = runPpr(edges, Seq("s"), iters = 3)
    assert(got == refPpr(edges, Set("s"), 3))
    assert(got("x") == 0L && got("y") == 0L, "teleport never visits non-seeds")
    // monotone decay with distance from the seed holds AT THE FIXED
    // POINT (at small iters the initial pulse is still traveling down
    // the chain and briefly piles up on the far nodes)
    val settled = runPpr(edges, Seq("s"), iters = 20)
    assert(settled == refPpr(edges, Set("s"), 20))
    assert(settled("s") > settled("a") && settled("a") > settled("b") &&
      settled("b") > settled("c"))
    // global pageRank by contrast gives x/y their base mass
    val global = Graphs.pageRank(edges.toDF("src", "dst"), "src", "dst", 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(global("x") > 0L)
  }

  test("personalizedPageRank matches the replay on random graphs, multi-seed") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 17)
      val names = (0 until 20).map(i => s"n$i")
      val edges = Seq.fill(60)((names(rnd.nextInt(20)), names(rnd.nextInt(20))))
        .filter(e => e._1 != e._2)
      val sources = Seq(names(rnd.nextInt(20)), names(rnd.nextInt(20))).distinct
      assert(runPpr(edges, sources, 3) == refPpr(edges, sources.toSet, 3),
        s"seed=$seed")
    }
  }

  private def runAssort(edges: Seq[(Long, Long)]) = {
    val r = Graphs.degreeAssortativity(edges.toDF("a", "b"), "a", "b").head()
    (r.getAs[Long]("m"), r.getAs[Long]("sum_deg"), r.getAs[Long]("sum_prod"),
      r.getAs[Long]("sum_sq"), r.getAs[Long]("r_num"), r.getAs[Long]("r_den"))
  }

  test("degreeAssortativity: star is perfectly disassortative, regular undefined") {
    // star K1,3: r = -1 exactly
    val star = runAssort(Seq((0L, 1L), (0L, 2L), (0L, 3L)))
    assert(star == ((3L, 12L, 9L, 30L, -36L, 36L)))
    // triangle (2-regular): zero variance -> 0/0, undefined
    val tri = runAssort(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    assert(tri._5 == 0L && tri._6 == 0L)
    // path 1-2-3: also r = -1 (ends attach to the middle)
    val path = runAssort(Seq((1L, 2L), (2L, 3L)))
    assert(path._5 == -path._6 && path._6 > 0)
    // direction/duplicates/self-loops collapse before counting
    val messy = runAssort(Seq((1L, 0L), (0L, 1L), (0L, 2L), (2L, 0L),
      (0L, 3L), (1L, 1L)))
    assert(messy == star)
  }

  test("degreeAssortativity matches the stub-list Pearson replay on random graphs") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 13)
      val edges = Seq.fill(80)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
        .filter(e => e._1 != e._2)
      val und = edges.map(e => (e._1 min e._2, e._1 max e._2)).distinct
      val deg = (und.map(_._1) ++ und.map(_._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      // stubs: both orientations of every undirected edge
      val stubs = und.flatMap(e => Seq((deg(e._1), deg(e._2)), (deg(e._2), deg(e._1))))
      val m2 = stubs.size.toLong
      val sjk = stubs.map(s => s._1 * s._2).sum
      val sj = stubs.map(_._1).sum
      val sjj = stubs.map(s => s._1 * s._1).sum
      val got = runAssort(edges)
      assert(got._5 == m2 * sjk - sj * sj, s"seed=$seed num")
      assert(got._6 == m2 * sjj - sj * sj, s"seed=$seed den")
    }
  }

  /** Driver Bellman-Ford replay (edge-list relaxation to fixpoint) —
    * deliberately a DIFFERENT algorithm from both the operator's
    * distributed frontier rounds and its Dijkstra fast path. */
  private def refSssp(edges: Seq[(Long, Long, Long)],
                      sources: Seq[Long]): Map[Long, Long] = {
    val e = edges.filter(x => x._1 != x._2)
      .groupBy(x => (x._1, x._2)).map { case ((s, d), es) => (s, d, es.map(_._3).min) }
    val dist = scala.collection.mutable.Map.empty[Long, Long]
    sources.foreach(dist(_) = 0L)
    var changed = true
    while (changed) {
      changed = false
      for ((s, d, w) <- e; ds <- dist.get(s))
        if (dist.get(d).forall(_ > ds + w)) { dist(d) = ds + w; changed = true }
    }
    dist.toMap
  }

  private def runSssp(edges: Seq[(Long, Long, Long)], sources: Seq[Long],
                      maxRounds: Int = 30,
                      localLimit: Long = 1L << 22): Map[Long, Long] =
    Graphs.ssspDistances(edges.toDF("src", "dst", "w"), "src", "dst", "w",
        sources.toDF("node"), maxRounds, localLimit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("ssspDistances: weighted shortcuts beat fewer hops; multi-source; islands") {
    // 0→1→2→3 each weight 1, plus a direct 0→3 edge of weight 5 (loses)
    // and a 0→4→3 detour of total weight 2 (wins); island 8→9
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (0L, 3L, 5L),
      (0L, 4L, 1L), (4L, 3L, 1L), (8L, 9L, 7L))
    val got = runSssp(edges, Seq(0L))
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    // multi-source: nearest seed wins; unreached island absent
    val multi = runSssp(edges, Seq(0L, 8L))
    assert(multi(9L) == 7L && multi(3L) == 2L && !multi.contains(5L))
    // zero-weight edges are legal (ties settle to the same metric)
    assert(runSssp(Seq((0L, 1L, 0L), (1L, 2L, 3L)), Seq(0L)) ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 3L))
  }

  test("ssspDistances matches Bellman-Ford on random weighted digraphs, both paths") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 7)
      val edges = Seq.fill(150)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong,
        rnd.nextInt(10).toLong))
        .filter(e => e._1 != e._2)
      val sources = Seq(rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)
      val want = refSssp(edges, sources)
      assert(runSssp(edges, sources) == want, s"seed=$seed (driver path)")
      // localLimit = 0 forces the distributed relaxation rounds
      assert(runSssp(edges, sources, localLimit = 0L) == want,
        s"seed=$seed (distributed path)")
    }
  }

  test("ssspDistances rejects negative weights loudly") {
    val ex = intercept[Exception] {
      runSssp(Seq((0L, 1L, -1L)), Seq(0L), localLimit = 0L)
    }
    assert(ex.getMessage != null)
  }
  /** Per-landmark driver BFS replay. */
  private def refLandmarks(edges: Seq[(Long, Long)], lms: Seq[Long],
                           maxDepth: Int): Map[(Long, Long), Long] = {
    val adj = edges.distinct.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._2)
    }
    lms.distinct.flatMap { lm =>
      var dist = Map(lm -> 0L)
      var frontier = Seq(lm)
      var d = 0L
      while (d < maxDepth && frontier.nonEmpty) {
        d += 1
        val next = frontier.flatMap(n => adj.getOrElse(n, Nil))
          .distinct.filterNot(dist.contains)
        next.foreach(n => dist += n -> d)
        frontier = next
      }
      dist.map { case (n, dd) => (lm, n) -> dd }
    }.toMap
  }

  test("landmarkDistances: per-landmark hops match the driver replay; harmonic readout folds them") {
    // diamond + tail + island: 1->2->4, 1->3->4, 4->5; 9->10 unreachable
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (9L, 10L))
    val lms = Seq(1L, 3L)
    val got = Graphs.landmarkDistances(edges.toDF("a", "b"), "a", "b",
        lms.toDF("lm"), maxDepth = 10)
      .collect().map(r => (r.getAs[Long]("lm"), r.getAs[Long]("node")) ->
        r.getAs[Long]("dist")).toMap
    assert(got == refLandmarks(edges, lms, 10))
    // landmark 1 sees 4 at dist 2 even though landmark 3 sees it at 1
    assert(got((1L, 4L)) == 2L && got((3L, 4L)) == 1L)
    val h = Graphs.harmonicFromLandmarks(edges.toDF("a", "b"), "a", "b",
        lms.toDF("lm"), maxDepth = 10)
      .collect().map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("n_reached"), r.getAs[Long]("harmonic_micro")))).toMap
    // node 4: dists {2, 1} -> 500000 + 1000000; node 5: {3, 2}
    assert(h(4L) == ((2L, 1500000L)))
    assert(h(5L) == ((2L, 833333L)))
    // landmark 3 is 1->3 reachable at dist 1; its own 0 row excluded
    assert(h(3L) == ((1L, 1000000L)))
    // island never appears
    assert(!h.contains(9L) && !h.contains(10L))
  }

  test("landmarkDistances: maxDepth truncates the frontier") {
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val got = Graphs.landmarkDistances(chain.toDF("a", "b"), "a", "b",
        Seq(1L).toDF("lm"), maxDepth = 2)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }
  /** Driver modularity replay over the canonical undirected edge set. */
  private def refModularity(edges: Seq[(Long, Long)],
                            asg: Map[Long, Long]): Map[Long, (Long, Long, Long, Long)] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val m = und.size.toLong
    val nodes = (und.map(_._1) ++ und.map(_._2)).distinct
    val comm = nodes.map(n => n -> asg.getOrElse(n, n)).toMap
    val deg = nodes.map(n =>
      n -> und.count(e => e._1 == n || e._2 == n).toLong).toMap
    comm.values.toSeq.distinct.map { c =>
      val members = nodes.filter(comm(_) == c)
      val eIn = und.count(e => comm(e._1) == c && comm(e._2) == c).toLong
      val dTot = members.map(deg).sum
      c -> ((members.size.toLong, eIn, dTot, 4L * m * eIn - dTot * dTot))
    }.toMap
  }

  test("modularityScore: two cliques + bridge — clique partition scores above chance, replay-exact") {
    val k4a = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val k4b = for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)
    val edges = k4a ++ k4b :+ ((3L, 10L))
    val asg = ((0L to 3L).map(_ -> 100L) ++ (10L to 13L).map(_ -> 200L)).toMap
    val got = Graphs.modularityScore(edges.toDF("a", "b"), "a", "b",
        asg.toSeq.toDF("node", "community"))
      .collect().map(r => r.getAs[Long]("community") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Long]("e_in"),
          r.getAs[Long]("d_tot"), r.getAs[Long]("contrib_num"))))
      .toMap
    assert(got == refModularity(edges, asg))
    // Q = sum(contrib) / (4 m^2) must be positive for the clique split
    assert(got.values.map(_._4).sum > 0L)
    // and the all-in-one-community partition scores exactly 0
    val one = Graphs.modularityScore(edges.toDF("a", "b"), "a", "b",
        edges.flatMap(e => Seq(e._1, e._2)).distinct.map(_ -> 1L)
          .toDF("node", "community"))
      .collect().map(_.getAs[Long]("contrib_num")).sum
    assert(one == 0L)
  }

  test("modularityScore: unassigned nodes become singleton communities") {
    val edges = Seq((1L, 2L), (2L, 3L))
    val got = Graphs.modularityScore(edges.toDF("a", "b"), "a", "b",
        Seq((1L, 7L)).toDF("node", "community"))
      .collect().map(r => r.getAs[Long]("community") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Long]("e_in"),
          r.getAs[Long]("d_tot"), r.getAs[Long]("contrib_num"))))
      .toMap
    assert(got == refModularity(edges, Map(1L -> 7L)))
    assert(got.keySet == Set(7L, 2L, 3L))
  }

  test("triangle census releases its adjacency cache (r10 leak): cache manager empty after each call") {
    spark.catalog.clearCache()
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L))
    val census = Graphs.triangleStats(edges.toDF("a", "b"), "a", "b")
    assert(cm.isEmpty, "triangleStats must unpersist its adjacency table")
    assert(census.head().getLong(3) == 2L) // still correct after the release
    val nodes = Graphs.nodeTriangles(edges.toDF("a", "b"), "a", "b")
    assert(cm.isEmpty, "nodeTriangles must unpersist its adjacency table")
    assert(nodes.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      .apply(3L) == 2L)
  }

  test("guardedLongCast: in-range casts exactly, overflow raises, NULL propagates") {
    import org.apache.spark.sql.functions._
    val df = Seq(("a", "123"), ("b", Long.MaxValue.toString),
        ("c", Long.MinValue.toString), ("d", null.asInstanceOf[String]))
      .toDF("k", "s")
      .select(col("k"), graft.functions.GraftFunctions.guardedLongCast(
        col("s").cast("decimal(38,0)"), "overflow!").as("v"))
    val got = df.collect().map(r => r.getString(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got == Map("a" -> Some(123L), "b" -> Some(Long.MaxValue),
      "c" -> Some(Long.MinValue), "d" -> None))
    val over = Seq("9223372036854775808").toDF("s") // 2^63: one past MaxValue
      .select(graft.functions.GraftFunctions.guardedLongCast(
        col("s").cast("decimal(38,0)"), "modularity overflow guard").as("v"))
    val e = intercept[Exception] { over.collect() }
    assert(e.getMessage != null && e.getMessage.contains("overflow guard"))
  }
}
