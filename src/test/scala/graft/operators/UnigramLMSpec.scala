package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class UnigramLMSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  /** All segmentations of `w` into vocab pieces (singles always
    * allowed via the fallback) — the exponential reference both
    * forward-backward and Viterbi must agree with. */
  private def segmentations(w: String, vocab: UnigramLM.Vocab): Seq[Seq[String]] =
    if (w.isEmpty) Seq(Seq.empty)
    else (1 to math.min(vocab.maxLen, w.length)).flatMap { l =>
      val head = w.substring(0, l)
      val ok = vocab.pieces.contains(head) || l == 1
      if (!ok) Nil
      else segmentations(w.substring(l), vocab).map(head +: _)
    }

  private def segLogp(seg: Seq[String], vocab: UnigramLM.Vocab): Double =
    seg.map(vocab.logp).sum

  test("expectedCounts equals enumeration over all segmentations") {
    val vocab = UnigramLM.Vocab(Map(
      "a" -> 0.3, "b" -> 0.2, "ab" -> 0.25, "ba" -> 0.15, "aba" -> 0.1), 3)
    for (w <- Seq("abab", "aba", "bb", "a")) {
      val segs = segmentations(w, vocab)
      val probs = segs.map(s => math.exp(segLogp(s, vocab)))
      val z = probs.sum
      val expect = segs.zip(probs).flatMap { case (s, p) => s.map(_ -> p / z) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val got = UnigramLM.expectedCounts(w, 1L, vocab).toMap
      assert(got.keySet == expect.filter(_._2 > 5e-7).keySet, s"w=$w")
      for ((p, e) <- expect if e > 1e-6)
        assert(math.abs(got(p) - e * 1e6) <= 1.0,
          s"w=$w piece=$p got ${got(p)} want ${e * 1e6}")
    }
  }

  test("viterbi equals enumeration argmax; round-trip identity always holds") {
    val vocab = UnigramLM.Vocab(Map(
      "a" -> 0.2, "b" -> 0.1, "c" -> 0.05, "ab" -> 0.3, "bc" -> 0.25,
      "abc" -> 0.1), 3)
    for (w <- Seq("abcabc", "aabbcc", "cab", "zzz", "azb")) {
      val got = UnigramLM.viterbi(w, vocab)
      assert(got.mkString("") == w, s"round trip broke for $w: $got")
      val segs = segmentations(w, vocab)
      val bestScore = segs.map(s => segLogp(s, vocab)).max
      assert(math.abs(segLogp(got, vocab) - bestScore) < 1e-12,
        s"w=$w viterbi ${got} not optimal")
    }
  }

  test("fit is partitioning-independent and improves segmentation of planted words") {
    val docs = (1 to 60).flatMap { i =>
      Seq((i.toLong, "the training corpus keeps repeating training tokens"))
    } ++ (61 to 80).map(i => (i.toLong, "noise words appear sometimes too"))
    val wf1 = UnigramLM.wordFreq(docs.toDF("doc_id", "text"), "text")
    val wf13 = wf1.repartition(13)
    val v1 = UnigramLM.fit(wf1, maxLen = 6, vocabMulti = 40, emRounds = 2)
    val v2 = UnigramLM.fit(wf13, maxLen = 6, vocabMulti = 40, emRounds = 2)
    assert(v1.pieces == v2.pieces,
      "fit must be bit-identical under repartitioning (quantized E-step)")
    // frequent substrings of 'training' earn multi-char pieces
    assert(v1.pieces.keys.exists(p => p.length >= 3 && "training".contains(p)),
      s"expected a multi-char piece from the planted word, got ${v1.pieces.keys.filter(_.length >= 3)}")
    // viterbi on a fit word uses a multi-char piece (fewer pieces than chars)
    val seg = UnigramLM.viterbi("training", v1)
    assert(seg.mkString("") == "training" && seg.length < "training".length)
  }

  test("encodeStats: dictionary contraction, per-doc round-trip pass") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, "beta gamma")).toDF("doc_id", "text")
    val vocab = UnigramLM.fit(UnigramLM.wordFreq(docs, "text"),
      maxLen = 5, vocabMulti = 20, emRounds = 1)
    val got = UnigramLM.encodeStats(docs, "doc_id", "text", vocab)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(1L)._1 == 3L && got(2L)._1 == 2L)
    assert(got.values.forall(_._4), "round-trip must hold for every doc")
    assert(got.values.forall(v => v._2 >= v._1), "pieces >= words")
  }

  test("store/load: reloaded vocab is bit-identical to the fit") {
    val name = s"uni${System.nanoTime()}"
    try {
      val docs = (1 to 40).map(i => (i.toLong, "store and reload the stored model"))
        .toDF("doc_id", "text")
      val wf = UnigramLM.wordFreq(docs, "text")
      val (counts, ml) = UnigramLM.fitCounts(wf, maxLen = 6, vocabMulti = 30,
        emRounds = 2)
      UnigramLM.store(spark, counts, ml, name)
      val loaded = UnigramLM.load(spark, name)
      val direct = UnigramLM.fit(wf, maxLen = 6, vocabMulti = 30, emRounds = 2)
      assert(loaded.pieces == direct.pieces, "probabilities must re-derive bit-identically")
      assert(loaded.maxLen == direct.maxLen)
      // and the encode through the reloaded model matches
      val a = UnigramLM.encodeStats(docs, "doc_id", "text", loaded).collect().toSeq.map(_.toString).sorted
      val b = UnigramLM.encodeStats(docs, "doc_id", "text", direct).collect().toSeq.map(_.toString).sorted
      assert(a == b)
    } finally Seq("_pieces", "_meta").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $name$sfx"))
  }

  test("emRound: the driver collect is loudly size-guarded, never corpus-sized") {
    val docs = (1 to 50).map(i => (i.toLong, "guarded collect stays vocab bounded"))
      .toDF("doc_id", "text")
    val wf = UnigramLM.wordFreq(docs, "text")
    val vocab = UnigramLM.seedVocab(wf, maxLen = 6, topMulti = 50)
    // the real bound: |vocab| + |alphabet| pieces, far under the cap
    val e = UnigramLM.emRound(wf, vocab)
    assert(e.nonEmpty && e.size <= vocab.pieces.size + 64)
    // a cap below the true piece count must fail LOUDLY with the count,
    // not silently collect — the guard a future lattice change trips
    val ex = intercept[IllegalArgumentException] {
      UnigramLM.emRound(wf, vocab, maxPieces = 3L)
    }
    assert(ex.getMessage.contains("maxPieces"))
  }
}
