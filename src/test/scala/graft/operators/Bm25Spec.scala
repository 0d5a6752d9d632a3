package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** BM25 vs a driver-side reference: integer term stats + scaled-integer
  * tf-norm (the q73 oracle form) and the full log-idf score.
  */
class Bm25Spec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private val corpus = Seq(
    (1L, "spark join hash join table"),
    (2L, "hash hash hash scan"),
    (3L, "customer order line"),
    (4L, "join the customer on hash"),
    (5L, "no query terms at all"))
  private val query = Seq("join", "hash", "customer")

  private def refTokens(t: String) = t.trim.split("\\s+").toSeq

  test("termStats: integers and scaled tf_norm match the reference") {
    val docs = corpus.toDF("doc_id", "text")
    val n = corpus.size.toLong
    val s = corpus.map(c => refTokens(c._2).size.toLong).sum
    val dfRef = query.map(t =>
      t -> corpus.count(c => refTokens(c._2).contains(t)).toLong).toMap
    val got = Bm25.termStats(docs, "doc_id", "text", query).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term")) -> r).toMap
    // doc 5 has no query terms → absent
    assert(!got.keys.exists(_._1 == 5L))
    for ((id, text) <- corpus; term <- query) {
      val w = refTokens(text)
      val tf = w.count(_ == term).toLong
      if (tf == 0) assert(!got.contains((id, term)))
      else {
        val r = got((id, term))
        val dl = w.size.toLong
        assert(r.getAs[Long]("tf") == tf)
        assert(r.getAs[Long]("dl") == dl)
        assert(r.getAs[Long]("df") == dfRef(term))
        assert(r.getAs[Long]("n_docs") == n && r.getAs[Long]("sum_dl") == s)
        val want = (22L * tf * s).toDouble /
          (10L * tf * s + 3L * s + 9L * dl * n)
        assert(r.getAs[Double]("tf_norm") == want, s"($id,$term)")
      }
    }
  }

  test("scaled tf_norm IS the normalized k1=1.2/b=0.75 form") {
    // algebraic identity check on the reference arithmetic itself:
    // 22·tf·S / (10·tf·S + 3·S + 9·dl·N) == tf·2.2 / (tf + 1.2·(0.25 + 0.75·dl·N/S))
    for (tf <- 1L to 5L; dl <- Seq(3L, 7L, 20L); n <- Seq(5L, 100L); s <- Seq(60L, 999L)) {
      val scaled = (22L * tf * s).toDouble / (10L * tf * s + 3L * s + 9L * dl * n)
      val avgdl = s.toDouble / n
      val norm = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      assert(math.abs(scaled - norm) < 1e-12)
    }
  }

  test("topK: global top-k plans as TakeOrdered, never a full sort exchange") {
    val docs = corpus.toDF("doc_id", "text")
    val top = Bm25.topK(docs, "doc_id", "text", query, k = 2)
    val rows = top.collect()
    assert(rows.length == 2)
    // the 3-term doc outranks everything
    assert(rows.head.getAs[Long]("doc_id") == 4L)
    assert(rows(0).getAs[Double]("bm25") >= rows(1).getAs[Double]("bm25"))
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k must be a bounded heap, not a sort shuffle:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"no range-partitioned global sort allowed:\n$plan")
  }

  test("score: full BM25 matches the driver reference; ranking sane") {
    val docs = corpus.toDF("doc_id", "text")
    val n = corpus.size.toLong
    val s = corpus.map(c => refTokens(c._2).size.toLong).sum
    val avgdl = s.toDouble / n
    val dfRef = query.map(t =>
      t -> corpus.count(c => refTokens(c._2).contains(t)).toLong).toMap
    val got = Bm25.score(docs, "doc_id", "text", query).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    val want = corpus.flatMap { case (id, text) =>
      val w = refTokens(text)
      val contribs = query.flatMap { term =>
        val tf = w.count(_ == term).toLong
        if (tf == 0) None else {
          val idf = math.log(1.0 + (n - dfRef(term) + 0.5) / (dfRef(term) + 0.5))
          val tfNorm = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * w.size / avgdl))
          Some(idf * tfNorm)
        }
      }
      if (contribs.isEmpty) None else Some(id -> contribs.sum)
    }.toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, v) =>
      assert(math.abs(got(id) - v) < 1e-9, s"doc $id: ${got(id)} vs $v")
    }
    // the doc hitting all three query terms outranks single-term docs
    assert(got(4L) > got(2L) && got(4L) > got(3L))
  }

  test("scoreBracket: rational bounds contain the ln-idf score on every doc") {
    val docs = corpus.toDF("doc_id", "text")
    val rows = Bm25.scoreBracket(docs, "doc_id", "text", query).collect()
    assert(rows.length == 4, "docs with no query-term hits are absent")
    rows.foreach { r =>
      val (lo, hi) = (r.getAs[Double]("score_lo"), r.getAs[Double]("score_hi"))
      assert(lo <= hi, s"degenerate bracket on doc ${r.getLong(0)}")
      assert(r.getAs[Boolean]("in_bracket"),
        s"doc ${r.getLong(0)}: score outside [$lo, $hi]")
    }
    // the bounds are the x/(1+x), x envelope of ln(1+x) — reference one
    val n = corpus.size.toLong
    val dfJoin = 2L // 'join' appears in docs 1 and 4
    val x = (n - dfJoin + 0.5) / (dfJoin + 0.5)
    val idfLo = (2 * n - 2 * dfJoin + 1).toDouble / (2 * n + 2)
    val idfHi = (2 * n - 2 * dfJoin + 1).toDouble / (2 * dfJoin + 1)
    assert(idfLo <= math.log(1 + x) && math.log(1 + x) <= idfHi)
    assert(idfLo == x / (1 + x) && idfHi == x)
  }
}
