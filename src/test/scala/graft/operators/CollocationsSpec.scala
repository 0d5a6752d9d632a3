package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class CollocationsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def run(texts: Seq[String], k: Int, minPair: Long) =
    Collocations.pmiTopK(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), "text", k, minPair)
      .collect()
      .map(r => (r.getAs[String]("w1"), r.getAs[String]("w2"),
        r.getAs[Long]("n_pair"), r.getAs[Long]("n_w1"),
        r.getAs[Long]("n_w2"), r.getAs[Long]("pmi_scaled")))

  test("pmiTopK: exact integer skeleton on a hand-checked corpus") {
    // 'new york' always together (high PMI); 'the' everywhere (low PMI)
    val texts = Seq.fill(3)("the new york trip") :+ "the the trip"
    // tokens: the=5, new=3, york=3, trip=4; N=15
    // pairs: (new,york)=3, (the,new)=3, (york,trip)=3, (the,the)=1, (the,trip)=1
    val got = run(texts, k = 10, minPair = 2L)
    val asMap = got.map(r => (r._1, r._2) -> r).toMap
    assert(asMap(("new", "york")) == ("new", "york", 3L, 3L, 3L,
      3L * 15L * 1000000L / (3L * 3L)))
    assert(asMap(("the", "new")) == ("the", "new", 3L, 5L, 3L,
      3L * 15L * 1000000L / (5L * 3L)))
    // support filter: the single-occurrence pairs are gone
    assert(!asMap.contains(("the", "the")) && !asMap.contains(("the", "trip")))
    // ranking: (new,york) 5M, (york,trip) 3.75M, (the,new) 3M
    assert(got.head._1 == "new" && got.head._2 == "york")
  }

  test("pmiTopK: deterministic tie order (pmi desc, w1, w2) and k cap") {
    // two pairs with identical counts everywhere -> tied pmi; w1 breaks it
    val texts = Seq.fill(4)("aa bb") ++ Seq.fill(4)("cc dd")
    val got = run(texts, k = 1, minPair = 2L)
    assert(got.length == 1)
    assert((got.head._1, got.head._2) == ("aa", "bb"))
  }

  test("pmiTopK: single-token docs contribute unigrams but no pairs") {
    val texts = Seq.fill(5)("solo") ++ Seq.fill(5)("x y")
    val got = run(texts, k = 10, minPair = 2L)
    assert(got.map(r => (r._1, r._2)).toSet == Set(("x", "y")))
    // N counts the solo tokens too: 5 + 10 = 15 -> 5*15e6 div 25
    assert(got.head._6 == 3000000L)
  }
  /** Driver replay: frequent directional pairs -> symmetric distinct
    * edges -> the exact integer PageRank recurrence.
    */
  private def refTextRank(texts: Seq[String], iters: Int,
                          minPair: Long): Map[String, Long] = {
    // NOTE: .collect on the groupBy Map with Tuple2 results would
    // REBUILD a Map keyed by w1 and silently drop pairs — use keys
    val pairs = texts.map(_.trim.split("\\s+").toSeq).filter(_.size >= 2)
      .flatMap(t => t.zip(t.tail)).filter(p => p._1 != p._2)
      .groupBy(identity).filter { case (_, g) => g.size >= minPair }
      .keys.toSeq
    val e = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val deg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val mass = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map(x => r(x._1) / deg(x._1)).sum
      }
      r = nodes.map(n => n -> (150000L + 85L * mass.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  test("textRankKeywords: matches the driver replay; the hub word outranks spokes") {
    // "core" is adjacent to every spoke; spokes only touch core
    val texts = Seq.fill(3)(Seq(
      "core alpha core beta core gamma",
      "delta core epsilon core zeta core")).flatten
    val got = Collocations.textRankKeywords(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"), "text", iters = 3, minPair = 2L, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val want = refTextRank(texts, 3, 2L)
    assert(got.toMap == want.toSeq.sortBy { case (w, r) => (-r, w) }
      .take(10).toMap)
    assert(got.head._1 == "core", "the co-occurrence hub must rank first")
    // descending with word tiebreak
    assert(got.sameElements(got.sortBy { case (w, r) => (-r, w) }))
  }

  test("textRankKeywords: rare pairs below minPair never enter the graph") {
    val texts = Seq("a b", "a b", "a b", "weird outlier")
    val got = Collocations.textRankKeywords(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text"), "text", iters = 2, minPair = 2L, k = 10)
      .collect().map(_.getString(0)).toSet
    assert(got == Set("a", "b"))
  }
}
