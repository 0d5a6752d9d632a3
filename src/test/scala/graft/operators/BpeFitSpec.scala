package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** BPE merge fitting vs a driver-side sequential reference: the
  * distributed fit must learn the exact same merge table (pairs, order
  * AND counts) as a straightforward single-machine BPE trainer using
  * the same conventions (non-overlapping pair counts, total-order
  * tie-break count desc / left asc / right asc).
  */
class BpeFitSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  // ---- independent sequential reference --------------------------------

  private def refPairCounts(words: Map[Seq[String], Long]): Map[(String, String), Long] = {
    var m = Map.empty[(String, String), Long].withDefaultValue(0L)
    for ((syms, c) <- words) {
      var i = 0
      while (i + 1 < syms.length) {
        m = m.updated((syms(i), syms(i + 1)), m((syms(i), syms(i + 1))) + c)
        val tripled = i + 2 < syms.length &&
          syms(i) == syms(i + 1) && syms(i + 1) == syms(i + 2)
        i += (if (tripled) 2 else 1)
      }
    }
    m
  }

  private def refMergeWord(syms: Seq[String], a: String, b: String): Seq[String] = {
    var out = Vector.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out :+= (a + b); i += 2
      } else { out :+= syms(i); i += 1 }
    }
    out
  }

  private def refFit(corpus: Seq[String], numMerges: Int,
                     minCount: Long): Seq[(String, String, Long)] = {
    val tokRe = "[a-z0-9]+|[^a-z0-9\\s]".r
    var words: Map[Seq[String], Long] =
      corpus.flatMap(d => tokRe.findAllIn(d.toLowerCase).toSeq)
        .groupBy(identity).map { case (w, ws) =>
          (w.map(_.toString): Seq[String]) -> ws.size.toLong }
    var merges = Vector.empty[(String, String, Long)]
    var stop = false
    while (merges.size < numMerges && !stop) {
      val pc = refPairCounts(words)
      val candidates = pc.toSeq.filter(_._2 >= minCount)
      if (candidates.isEmpty) stop = true
      else {
        val ((a, b), c) = candidates.minBy { case ((l, r), n) => (-n, l, r) }
        merges :+= ((a, b, c))
        words = words.toSeq.map { case (s, n) => (refMergeWord(s, a, b), n) }
          .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).sum }
      }
    }
    merges
  }

  // ---- tests -----------------------------------------------------------

  test("mergePair is left-to-right non-overlapping") {
    assert(BpeFit.mergePair(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(BpeFit.mergePair(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(BpeFit.mergePair(Seq("l", "o", "w"), "l", "o") == Seq("lo", "w"))
    assert(BpeFit.mergePair(Seq("x"), "a", "b") == Seq("x"))
    assert(BpeFit.mergePair(Seq.empty, "a", "b") == Seq.empty)
  }

  test("distributed fit matches the sequential reference on the classic corpus") {
    import spark.implicits._
    val corpus = Seq(
      "low low low low low",
      "lower lower newest newest",
      "newest newest newest newest",
      "widest widest widest")
    val got = BpeFit.fit(
      BpeFit.wordCounts(corpus.toDF("text"), "text"), numMerges = 10, minCount = 2)
      .map(m => (m.left, m.right, m.count))
    val want = refFit(corpus, numMerges = 10, minCount = 2)
    assert(got == want)
    // sanity on the first merges: 'es' (newest+widest = 9) dominates
    assert(got.head == (("e", "s", 9L)))
  }

  test("batched fit parity: batch ∈ {1, 2, 8, 64} all replay the sequential fit exactly") {
    import spark.implicits._
    // seeded random corpus with heavy pair interaction (tiny alphabet →
    // selected pairs constantly share symbols, exercising the margin
    // and the one-merge fallback rounds)
    val rnd = new scala.util.Random(7)
    val corpus = Seq.fill(60)(
      Seq.fill(3 + rnd.nextInt(5))(
        Seq.fill(2 + rnd.nextInt(6))(('a' + rnd.nextInt(4)).toChar).mkString
      ).mkString(" "))
    val want = refFit(corpus, numMerges = 12, minCount = 2)
    for (batch <- Seq(1, 2, 8, 64)) {
      val got = BpeFit.fit(
        BpeFit.wordCounts(corpus.toDF("text"), "text"),
        numMerges = 12, minCount = 2, batch = batch)
        .map(m => (m.left, m.right, m.count))
      assert(got == want, s"batch=$batch diverged from sequential")
    }
  }

  test("selectCompatible: disjoint prefix, interference stop, strict margin, tie fallback") {
    // disjoint prefix selected in order, capped at batch
    val cands = Seq(("a", "b", 10L), ("c", "d", 8L), ("e", "f", 6L), ("g", "h", 4L))
    assert(BpeFit.selectCompatible(cands, 4) == cands)
    // batch cap: the 3rd candidate becomes the stopper; no ties → keep 2
    assert(BpeFit.selectCompatible(cands, 2) == cands.take(2))
    // interference: (b,c) shares b with (a,b) → stop; margin keeps
    // only pairs strictly above the stopper's count 8
    val interf = Seq(("a", "b", 10L), ("b", "c", 8L), ("e", "f", 6L))
    assert(BpeFit.selectCompatible(interf, 4) == Seq(("a", "b", 10L)))
    // margin drops a selected pair tying with the stopper: (e,f) ties
    // the interfering (b,c) at 8 → dropped
    val tie = Seq(("a", "b", 10L), ("e", "f", 8L), ("b", "c", 8L))
    assert(BpeFit.selectCompatible(tie, 4) == Seq(("a", "b", 10L)))
    // tie fallback: top candidate ties the interfering one → margin
    // empties the selection → fall back to the sequential top-1
    val topTie = Seq(("a", "b", 10L), ("b", "c", 10L))
    assert(BpeFit.selectCompatible(topTie, 4) == Seq(("a", "b", 10L)))
    // self-pair support: (a,a) then anything with a interferes
    val selfp = Seq(("a", "a", 10L), ("a", "b", 4L), ("c", "d", 3L))
    assert(BpeFit.selectCompatible(selfp, 4) == Seq(("a", "a", 10L)))
    assert(BpeFit.selectCompatible(Nil, 4) == Nil)
  }

  test("selectGreedy: skips interference, keeps filling the batch") {
    val interf = Seq(("a", "b", 10L), ("b", "c", 8L), ("e", "f", 6L), ("f", "g", 5L), ("h", "i", 4L))
    // selectCompatible stops at (b,c); selectGreedy skips it and fills
    assert(BpeFit.selectGreedy(interf, 4) ==
      Seq(("a", "b", 10L), ("e", "f", 6L), ("h", "i", 4L)))
    assert(BpeFit.selectGreedy(interf, 2) == Seq(("a", "b", 10L), ("e", "f", 6L)))
    assert(BpeFit.selectGreedy(Nil, 4) == Nil)
  }

  test("approximate fit: batch=1 is the sequential fit; batched rounds stay O(numMerges/batch)") {
    import spark.implicits._
    // tie-heavy tiny-alphabet corpus — the adversarial case where the
    // exact margin collapses to ~1 merge/round
    val rnd = new scala.util.Random(11)
    val corpus = Seq.fill(80)(
      Seq.fill(4 + rnd.nextInt(4))(
        Seq.fill(3 + rnd.nextInt(5))(('a' + rnd.nextInt(3)).toChar).mkString
      ).mkString(" "))
    val words = BpeFit.wordCounts(corpus.toDF("text"), "text")
    // batch=1: greedy selection IS the sequential argmax
    val seq1 = BpeFit.fit(words, numMerges = 8, minCount = 2, batch = 1, exact = false)
      .map(m => (m.left, m.right, m.count))
    assert(seq1 == refFit(corpus, numMerges = 8, minCount = 2))
    // batched approximate mode: every round fills (skip-and-continue),
    // so rounds ≤ ceil(numMerges / ~fillable) stays far below numMerges
    val (approx, rounds) = BpeFit.fitWithRounds(
      words, numMerges = 12, minCount = 2, batch = 8, exact = false)
    assert(approx.length == 12)
    assert(rounds <= 4, s"approximate fit used $rounds rounds for 12 merges at batch=8")
    // merge table is well-formed: ranks contiguous, pairs distinct
    assert(approx.map(_.rank) == (1 to 12))
    assert(approx.map(m => (m.left, m.right)).distinct.length == 12)
    // and the encode built from it still round-trips losslessly
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val enc = BpeFit.encode(docs, "doc_id", "text", approx).collect()
    enc.foreach { r =>
      assert(r.getSeq[String](r.fieldIndex("bpe")).mkString("") ==
        r.getAs[String]("word"))
    }
  }

  test("fit stops early when no pair reaches minCount") {
    import spark.implicits._
    val merges = BpeFit.fit(
      BpeFit.wordCounts(Seq("ab cd ef").toDF("text"), "text"),
      numMerges = 5, minCount = 2)
    assert(merges.isEmpty)
  }

  test("encode reproduces the sequential segmenter and round-trips") {
    import spark.implicits._
    val corpus = Seq(
      "low low low low low",
      "lower lower newest newest",
      "newest newest newest newest",
      "widest widest widest")
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val merges = BpeFit.fit(BpeFit.wordCounts(docs, "text"), 10, 2)
    val pairs = merges.sortBy(_.rank).map(m => (m.left, m.right))
    val got = BpeFit.encode(docs, "doc_id", "text", merges)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("word_pos"),
        r.getAs[String]("word"), r.getSeq[String](r.fieldIndex("bpe")).toList))
    assert(got.nonEmpty)
    got.foreach { case (_, _, w, bpe) =>
      // parity with a driver-side fold over the same merge list
      assert(bpe == BpeFit.applyMerges(w.map(_.toString), pairs).toList)
      // lossless: symbols concatenate back to the word
      assert(bpe.mkString("") == w)
    }
    // the training corpus's own words segment to learned symbols, not chars
    val newest = got.find(_._3 == "newest").get._4
    assert(newest.length < "newest".length)
  }

  test("encodeStats pass column is the round-trip invariant") {
    import spark.implicits._
    val docs = Seq((1L, "aa aa bb"), (2L, "aa bb bb cc")).toDF("doc_id", "text")
    val merges = BpeFit.fit(BpeFit.wordCounts(docs, "text"), 4, 2)
    val rows = BpeFit.encodeStats(docs, "doc_id", "text", merges).collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[Boolean]("pass")))
    val r1 = rows.find(_.getAs[Long]("doc_id") == 1L).get
    assert(r1.getAs[Long]("n_words") == 3L)
    assert(r1.getAs[Long]("n_chars") == 6L)
  }

  test("fitTable pass column encodes the monotone-count invariant") {
    import spark.implicits._
    val df = BpeFit.fitTable(spark,
      Seq("aa aa aa bb bb aa", "aa bb aa bb").toDF("text"), "text",
      numMerges = 4, minCount = 2)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(4)))
    val counts = rows.map(_.getLong(3)).toSeq
    assert(counts == counts.sorted.reverse)
  }
}
