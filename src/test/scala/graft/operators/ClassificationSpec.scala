package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class ClassificationSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  /** Brute-force 2·U over all (pos, neg) pairs: 2 per win, 1 per tie. */
  private def refU2(rows: Seq[(Boolean, Long)]): (Long, Long, Long) = {
    val pos = rows.filter(_._1).map(_._2)
    val neg = rows.filterNot(_._1).map(_._2)
    val u2 = (for (p <- pos; n <- neg)
      yield if (p > n) 2L else if (p == n) 1L else 0L).sum
    (pos.size.toLong, neg.size.toLong, u2)
  }

  private def runAuc(rows: Seq[(Boolean, Long)]): (Long, Long, Long) = {
    val r = Classification
      .aucExact(rows.toDF("y", "s"), "y", "s").head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("aucExact matches the all-pairs reference, ties included") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      // small score domain forces plenty of ties and tied labels
      val rows = Seq.fill(300)((rnd.nextBoolean(), rnd.nextInt(12).toLong))
      assert(runAuc(rows) == refU2(rows), s"seed=$seed")
    }
  }

  test("aucExact: perfect separation gives u2 = 2*P*N; reversal gives 0") {
    val perfect = Seq.tabulate(20)(i => (i >= 10, i.toLong))
    val (p, n, u2) = runAuc(perfect)
    assert((p, n, u2) == ((10L, 10L, 200L))) // AUC = 1
    val reversed = perfect.map { case (y, s) => (!y, s) }
    assert(runAuc(reversed)._3 == 0L) // AUC = 0
    // all scores identical: u2 = P*N (AUC = 1/2)
    val flat = Seq.tabulate(20)(i => (i % 2 == 0, 7L))
    assert(runAuc(flat)._3 == 100L)
  }

  /** Direct contingency-table kappa ingredients. */
  private def refKappa(rows: Seq[(String, String)]): (Long, Long, Long) = {
    val n = rows.size.toLong
    val agree = rows.count(r => r._1 == r._2).toLong
    val ra = rows.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val cb = rows.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val pe = ra.map { case (k, c) => c * cb.getOrElse(k, 0L) }.sum
    (n, agree, pe)
  }

  private def runKappa(rows: Seq[(String, String)]): (Long, Long, Long) = {
    val r = Classification.kappa(rows.toDF("a", "b"), "a", "b").head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("kappa matches the contingency reference on random labelings") {
    val cats = Array("en", "de", "fr", "und")
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(400)((cats(rnd.nextInt(4)), cats(rnd.nextInt(3))))
      assert(runKappa(rows) == refKappa(rows), s"seed=$seed")
    }
  }

  test("kappa: disjoint label sets mean zero chance agreement") {
    val rows = Seq(("x", "p"), ("y", "q"), ("x", "q"))
    assert(runKappa(rows) == ((3L, 0L, 0L)))
    // perfect agreement: kappa numerator n*agree - pe > 0
    val same = Seq(("a", "a"), ("b", "b"), ("a", "a"))
    val (n, ag, pe) = runKappa(same)
    assert(n == 3L && ag == 3L && pe == 2L * 2L + 1L * 1L)
  }

  /** Direct χ² over the 2×2 presence table, in exact BigInt. */
  private def refChi2(docs: Seq[(String, Boolean)], minDoc: Long)
      : Map[String, (Long, Long, Long, Long, Long)] = {
    val n = BigInt(docs.size)
    val nPos = BigInt(docs.count(_._2))
    val toks = docs.zipWithIndex.flatMap { case ((t, y), i) =>
      t.trim.split("\\s+").distinct.map(w => (w, y)) }
    toks.groupBy(_._1).flatMap { case (w, occ) =>
      val nDoc = BigInt(occ.size)
      if (nDoc < minDoc || nDoc >= n) None
      else {
        val a = BigInt(occ.count(_._2))
        val b = nPos - a; val c = nDoc - a; val d = n - nPos - c
        val den = (a + b) * (c + d) * (a + c) * (b + d)
        val chi = if (den > 0)
          (BigInt(1000000) * n * (a * d - b * c) * (a * d - b * c)) / den
        else BigInt(0)
        Some(w -> ((a.toLong, b.toLong, c.toLong, d.toLong, chi.toLong)))
      }
    }
  }

  /** Driver Fleiss reference: long-form ratings → (num, den, kappa). */
  private def refFleiss(ratings: Seq[(Long, Long)]): (Long, Long, Double) = {
    val byItem = ratings.groupBy(_._1)
    val n = byItem.values.head.size.toLong
    val nItems = byItem.size.toLong
    val a = byItem.values.map(rs =>
      rs.groupBy(_._2).values.map(g => g.size.toLong * g.size).sum).sum
    val s = ratings.groupBy(_._2).values
      .map(g => g.size.toLong * g.size).sum
    val nn = nItems * n
    val num = nn * (a - nn) - s * (n - 1)
    val den = (n - 1) * (nn * nn - s)
    (num, den, num.toDouble / den)
  }

  test("fleissKappa matches the driver reference; perfect agreement gives 1") {
    // Fleiss-style panel: 6 items × 4 raters × 3 categories
    val votes = Seq[(Long, Seq[Long])](
      (1L, Seq(0, 0, 0, 0)), (2L, Seq(0, 0, 1, 2)), (3L, Seq(1, 1, 1, 2)),
      (4L, Seq(2, 2, 2, 2)), (5L, Seq(0, 1, 1, 1)), (6L, Seq(0, 0, 2, 2)))
    val long = votes.flatMap { case (i, cs) => cs.map(c => (i, c)) }
    val got = Classification
      .fleissKappa(long.toDF("item", "cat"), "item", "cat").collect().head
    val (num, den, k) = refFleiss(long)
    assert(got.getLong(0) == 6L && got.getLong(1) == 4L && got.getLong(2) == 3L)
    assert(got.getLong(5) == num && got.getLong(6) == den)
    assert(got.getDouble(7) == k)

    // unanimity: kappa exactly 1
    val perfect = (1L to 5L).flatMap(i => Seq.fill(3)((i, i % 2)))
    val one = Classification
      .fleissKappa(perfect.toDF("item", "cat"), "item", "cat").collect().head
    assert(one.getLong(5) == one.getLong(6) && one.getDouble(7) == 1.0)
  }

  test("fleissKappa fails loud on ragged rater counts") {
    val ragged = Seq((1L, 0L), (1L, 1L), (2L, 0L)) // item 1: 2 raters, item 2: 1
    val e = intercept[Exception] {
      Classification.fleissKappa(ragged.toDF("item", "cat"), "item", "cat")
        .collect()
    }
    assert(e.getMessage.contains("rater count varies") ||
      e.getCause != null && e.getCause.getMessage.contains("rater count varies"))
  }

  test("chi2Terms matches the BigInt reference, filters degenerate margins") {
    val docs = Seq(
      ("the cat sat", true), ("the dog ran", true), ("the cat ate", true),
      ("le chat noir", false), ("le chien", false), ("cat le chat", false),
      ("the the the", true)) // dup tokens collapse to presence
    val got = Classification
      .chi2Terms(docs.toDF("text", "y"), "text", "y", minDocCount = 2L)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got == refChi2(docs, 2L))
    // 'the' is a perfect positive marker here, 'le' a perfect negative
    assert(got("the")._5 == got("le")._5)
    assert(got("the")._5 == 1000000L * 7L) // chi2 = n for perfect association
    assert(!got.contains("chat") || got("chat")._1 == 0L)
  }
  test("gainsTable: perfect separation -> top bucket lift = buckets; gains reach 1") {
    // scores 1..100, positives exactly the top 10 scores
    val rows = (1 to 100).map(i => (i.toLong, if (i > 90) 1 else 0))
    val got = Classification.gainsTable(rows.toDF("score", "label"),
        "score", "label", buckets = 10)
      .orderBy(org.apache.spark.sql.functions.col("bucket").desc)
      .collect()
      .map(r => (r.getAs[Int]("bucket"), r.getAs[Long]("n"),
        r.getAs[Long]("n_pos"), r.getAs[Long]("cum_n"),
        r.getAs[Long]("cum_pos"), r.getAs[Long]("gain_micro"),
        r.getAs[Long]("lift_micro")))
    assert(got.length == 10)
    // top decile holds ALL positives: gain 100%, lift 10x
    assert(got.head == ((10, 10L, 10L, 10L, 10L, 1000000L, 10000000L)))
    // every later bucket keeps gain at 100% and lift decays as 1/share
    assert(got.forall(_._6 <= 1000000L))
    assert(got.last._4 == 100L && got.last._5 == 10L &&
      got.last._6 == 1000000L && got.last._7 == 1000000L)
  }

  test("gainsTable: uninformative score -> every bucket lift ~ 1") {
    // label alternates independent of score: each decile half positive
    val rows = (1 to 200).map(i => (i.toLong, i % 2))
    val got = Classification.gainsTable(rows.toDF("score", "label"),
        "score", "label", buckets = 10)
      .collect().map(r => r.getAs[Long]("lift_micro"))
    assert(got.forall(l => l >= 950000L && l <= 1050000L))
  }
}
