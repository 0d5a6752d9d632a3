package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Bigram LM vs a driver-side reference: count tables, likelihood
  * masses, and the transcendental perplexity (which the DuckDB oracle
  * can't certify — q72 covers the mass form).
  */
class NgramLMSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the cat ate the rat"),
    (3L, "a dog sat on a log"),
    (4L, "single"),          // < 2 tokens: no grams, absent from scores
    (5L, "the the the"))     // repeated-token degenerate case

  private def refTokens(t: String) = t.trim.split("\\s+").toSeq

  private def refModel = {
    val grams = corpus.flatMap { case (_, t) =>
      val w = refTokens(t); if (w.length < 2) Nil else w.sliding(2).toSeq
    }
    val c2 = grams.groupBy(identity).map { case (g, gs) => g -> gs.size.toLong }
    val c1 = grams.groupBy(_.head).map { case (w, gs) => w -> gs.size.toLong }
    val v = corpus.flatMap(c => refTokens(c._2)).distinct.size.toLong
    (c2, c1, v)
  }

  test("fit: count tables and vocab size match the reference") {
    val docs = corpus.toDF("doc_id", "text")
    val model = NgramLM.fit(docs, "doc_id", "text")
    val (c2, c1, v) = refModel
    assert(model.vocabSize == v)
    assert(model.bigrams.count() == c2.size)
    assert(model.prefixes.count() == c1.size)
    // spot totals: sum of bigram counts == total gram occurrences
    assert(model.bigrams.agg(org.apache.spark.sql.functions.sum("c2"))
      .head().getLong(0) == c2.values.sum)
  }

  test("likelihoodMass: masses and single-division score match the reference") {
    val docs = corpus.toDF("doc_id", "text")
    val model = NgramLM.fit(docs, "doc_id", "text")
    val (c2, c1, v) = refModel
    val got = NgramLM.likelihoodMass(docs, "doc_id", "text", model)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("hit_mass"),
          r.getAs[Long]("prefix_mass"), r.getAs[Double]("score"))).toMap
    assert(!got.contains(4L), "a one-token doc has no grams")
    corpus.filter(c => refTokens(c._2).length >= 2).foreach { case (id, t) =>
      val grams = refTokens(t).sliding(2).toSeq
      val hit = grams.map(g => c2(g) + 1).sum
      val pre = grams.map(g => c1(g.head) + v).sum
      assert(got(id) == ((grams.size.toLong, hit, pre, hit.toDouble / pre)),
        s"doc $id")
    }
  }

  test("perplexity: matches the driver-side add-one bigram computation") {
    val docs = corpus.toDF("doc_id", "text")
    val model = NgramLM.fit(docs, "doc_id", "text")
    val (c2, c1, v) = refModel
    val got = NgramLM.perplexity(docs, "doc_id", "text", model)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("perplexity")).toMap
    corpus.filter(c => refTokens(c._2).length >= 2).foreach { case (id, t) =>
      val nlls = refTokens(t).sliding(2).toSeq.map { g =>
        -math.log((c2(g) + 1).toDouble / (c1(g.head) + v)) / math.log(2)
      }
      val want = math.pow(2, nlls.sum / nlls.size)
      assert(math.abs(got(id) - want) < 1e-9, s"doc $id: ${got(id)} vs $want")
    }
    // the degenerate doc "the the the": both grams are ("the","the"),
    // seen twice in fit → well-defined finite perplexity
    assert(got(5L) > 1.0 && java.lang.Double.isFinite(got(5L)))
  }

  test("merge: fit(A ∪ B) count tables equal merge(fit(A), fit(B))") {
    val a = corpus.take(2).toDF("doc_id", "text")
    val b = corpus.drop(2).toDF("doc_id", "text")
    val whole = NgramLM.fit(corpus.toDF("doc_id", "text"), "doc_id", "text")
    val pieces = NgramLM.merge(
      NgramLM.fit(a, "doc_id", "text"), NgramLM.fit(b, "doc_id", "text"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(pieces.bigrams) == m(whole.bigrams))
    assert(m(pieces.prefixes) == m(whole.prefixes))
    // vocabSize sums per-batch vocab (documented over-count on
    // overlap): equality only when batches share no tokens — here
    // they DO share ("the", "sat", "on"), so merged > whole
    assert(pieces.vocabSize > whole.vocabSize)
    // the vocab-table companion restores the exact V
    assert(NgramLM.exactVocabSize(pieces) == whole.vocabSize)
  }

  test("stored model: store/load round-trips scores; stored side joins without a shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val tbl = s"lm${System.nanoTime()}"
    try {
      val docs = corpus.toDF("doc_id", "text")
      val model = NgramLM.fit(docs, "doc_id", "text")
      NgramLM.store(model, tbl, buckets = 4)
      val stored = NgramLM.load(spark, tbl)
      assert(stored.vocabSize == model.vocabSize)
      // scoring through the stored model reproduces the live scores
      def scores(m: NgramLM.Model) =
        NgramLM.likelihoodMass(docs, "doc_id", "text", m).collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
      assert(scores(stored) == scores(model))
      // plan shape at the 100 TB setting (no broadcast): the stored
      // bigram table must ride its bucketing into the join — no
      // exchange whose subtree scans it
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val j = NgramLM.likelihoodMass(docs, "doc_id", "text", stored)
        j.collect()
        val plan = j.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        def scansStored(p: SparkPlan): Boolean =
          p.collectLeaves().exists(l => l.toString.contains(s"${tbl}_bigrams") ||
            l.toString.contains(s"${tbl}_prefixes"))
        val shufflesOverStored = plan.collect {
          case s: ShuffleExchangeExec if scansStored(s) => s
        }
        assert(plan.toString.contains(s"${tbl}_bigrams"), "stored scan present")
        assert(shufflesOverStored.isEmpty,
          s"stored count tables must join through their bucketing, plan:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      // appendToStored: day-2 batch accretes; counts equal whole-corpus
      // fit INCLUDING vocabSize — day2 OVERLAPS day1's tokens ("the",
      // "cat", "sat", "a"), so the anti-join must count only the
      // genuinely new ones ("again", "new", "dog")
      val day2 = Seq((7L, "the cat sat again"), (8L, "a new dog")).toDF("doc_id", "text")
      NgramLM.appendToStored(spark, tbl, day2, "doc_id", "text", buckets = 4)
      val whole = NgramLM.fit(docs.union(day2), "doc_id", "text")
      def m(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val after = NgramLM.load(spark, tbl)
      assert(m(after.bigrams) == m(whole.bigrams))
      assert(m(after.prefixes) == m(whole.prefixes))
      assert(after.vocabSize == whole.vocabSize,
        "append ≡ refit must extend to the smoothing denominator V")
      // a second, FULLY-overlapping append: vocab must not move at all
      val day3 = Seq((9L, "the cat sat")).toDF("doc_id", "text")
      NgramLM.appendToStored(spark, tbl, day3, "doc_id", "text", buckets = 4)
      assert(NgramLM.load(spark, tbl).vocabSize == whole.vocabSize,
        "an all-seen batch must add zero vocab")
      // and scoring through the accreted store matches a whole refit
      val whole3 = NgramLM.fit(docs.union(day2).union(day3), "doc_id", "text")
      assert(scores(NgramLM.load(spark, tbl)) == scores(whole3))
    } finally Seq("_bigrams", "_prefixes", "_vocab", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl$s"))
  }

  test("appendToStored crash discipline: every crash step replays to the exact refit model; tags make retries no-ops") {
    val docs = corpus.toDF("doc_id", "text")
    val day2 = Seq((7L, "the cat sat again"), (8L, "a new dog")).toDF("doc_id", "text")
    val whole = NgramLM.fit(docs.union(day2), "doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (wantBig, wantPre) = (m(whole.bigrams), m(whole.prefixes))
    // steps: 1 = stages written pre-marker (roll BACK, retry re-appends),
    // 2 = marker written pre-swap (roll FORWARD, retry no-ops),
    // 3 = mid-swap after the first live drop (roll FORWARD)
    for (step <- 1 to 3) {
      val tbl = s"lmcr${step}_${System.nanoTime()}"
      try {
        NgramLM.store(NgramLM.fit(docs, "doc_id", "text"), tbl, buckets = 4)
        intercept[IllegalStateException] {
          NgramLM.appendToStoredImpl(spark, tbl, day2, "doc_id", "text",
            buckets = 4, batchTag = Some("day2"), crashAfterStep = step)
        }
        // the RETRY — recoverStored runs on entry and classifies the
        // crash by the commit marker; the tag prevents double-counting
        val after = NgramLM.appendToStored(spark, tbl, day2, "doc_id", "text",
          buckets = 4, batchTag = Some("day2"))
        assert(m(after.bigrams) == wantBig, s"step $step: bigrams")
        assert(m(after.prefixes) == wantPre, s"step $step: prefixes")
        assert(after.vocabSize == whole.vocabSize, s"step $step: vocab size")
        // a SECOND tagged retry of the committed append: pure no-op
        val again = NgramLM.appendToStored(spark, tbl, day2, "doc_id", "text",
          buckets = 4, batchTag = Some("day2"))
        assert(m(again.bigrams) == wantBig, s"step $step: replayed tag must not double-count")
        // no stage or marker residue survives
        Seq("__stage_bigrams", "__stage_prefixes", "__stage_vocab",
          "__stage_meta", "__stage_tags", "__commit").foreach(s =>
          assert(!spark.catalog.tableExists(s"$tbl$s"), s"step $step: residue $s"))
      } finally Seq("_bigrams", "_prefixes", "_vocab", "_meta", "_tags",
        "__stage_bigrams", "__stage_prefixes", "__stage_vocab",
        "__stage_meta", "__stage_tags", "__commit").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $tbl$s"))
    }
  }

  private val allLmParts = Seq("_bigrams", "_prefixes", "_vocab", "_meta",
    "_tags", "_delta_bigrams", "_delta_prefixes", "_delta_vocab",
    "_delta_tags", "__stage_bigrams", "__stage_prefixes", "__stage_vocab",
    "__stage_meta", "__stage_tags", "__commit")

  private def dropLm(tbl: String): Unit =
    allLmParts.foreach(s => spark.sql(s"DROP TABLE IF EXISTS $tbl$s"))

  test("delta accretion: O(batch) appends compose to the exact refit, compaction folds them into the base, replays no-op before AND after compacting") {
    val docs = corpus.toDF("doc_id", "text")
    val day2 = Seq((7L, "the cat sat again"), (8L, "a new dog")).toDF("doc_id", "text")
    val day3 = Seq((9L, "entirely novel words here")).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = NgramLM.fit(docs.union(day2).union(day3), "doc_id", "text")
    val tbl = s"lmdelta_${System.nanoTime()}"
    try {
      NgramLM.store(NgramLM.fit(docs, "doc_id", "text"), tbl, buckets = 4)
      val baseBig = m(spark.table(s"${tbl}_bigrams"))
      NgramLM.appendDeltaToStored(spark, tbl, day2, "doc_id", "text", "d2")
      NgramLM.appendDeltaToStored(spark, tbl, day3, "doc_id", "text", "d3")
      // the BASE tables are untouched — that is the O(batch) claim
      assert(m(spark.table(s"${tbl}_bigrams")) == baseBig,
        "a delta append must not rewrite the base count tables")
      assert(!spark.catalog.tableExists(s"${tbl}_tags"))
      assert(NgramLM.pendingDeltaCount(spark, tbl) == 2)
      // composed read == refit, INCLUDING the exact smoothing V (day2
      // overlaps the base vocab and day3 doesn't — both directions)
      val composed = NgramLM.load(spark, tbl)
      assert(m(composed.bigrams) == m(whole.bigrams))
      assert(m(composed.prefixes) == m(whole.prefixes))
      assert(composed.vocabSize == whole.vocabSize,
        "composed V must count cross-delta overlap exactly once")
      // a replayed delta tag no-ops BEFORE compaction
      NgramLM.appendDeltaToStored(spark, tbl, day2, "doc_id", "text", "d2")
      assert(m(NgramLM.load(spark, tbl).bigrams) == m(whole.bigrams),
        "a pending delta tag's replay must no-op")
      // compaction folds both deltas in one staged swap
      assert(NgramLM.compactStored(spark, tbl, buckets = 4) == 2)
      assert(!spark.catalog.tableExists(s"${tbl}_delta_tags"),
        "compaction must drop the delta tables")
      assert(!spark.catalog.tableExists(s"${tbl}_delta_bigrams"))
      val after = NgramLM.load(spark, tbl)
      assert(m(after.bigrams) == m(whole.bigrams))
      assert(m(after.prefixes) == m(whole.prefixes))
      assert(after.vocabSize == whole.vocabSize)
      assert(spark.table(s"${tbl}_tags").collect().map(_.getString(0)).toSet
        == Set("d2", "d3"), "compacted tags move to the base tag table")
      // nothing pending: compaction is a no-op, not an empty swap
      assert(NgramLM.compactStored(spark, tbl, buckets = 4) == 0)
      // a replayed delta tag no-ops AFTER compaction too
      NgramLM.appendDeltaToStored(spark, tbl, day3, "doc_id", "text", "d3")
      assert(NgramLM.pendingDeltaCount(spark, tbl) == 0)
      assert(m(NgramLM.load(spark, tbl).bigrams) == m(whole.bigrams),
        "a compacted tag's replay must no-op")
    } finally dropLm(tbl)
  }

  test("mixed usage: a full appendToStored with deltas pending compacts them first — one exact model, no double-counted partitions") {
    val docs = corpus.toDF("doc_id", "text")
    val day2 = Seq((7L, "the cat sat again")).toDF("doc_id", "text")
    val day3 = Seq((9L, "entirely novel words here")).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = NgramLM.fit(docs.union(day2).union(day3), "doc_id", "text")
    val tbl = s"lmmix_${System.nanoTime()}"
    try {
      NgramLM.store(NgramLM.fit(docs, "doc_id", "text"), tbl, buckets = 4)
      NgramLM.appendDeltaToStored(spark, tbl, day2, "doc_id", "text", "d2")
      val after = NgramLM.appendToStored(spark, tbl, day3, "doc_id", "text",
        buckets = 4, batchTag = Some("full3"))
      assert(m(after.bigrams) == m(whole.bigrams))
      assert(after.vocabSize == whole.vocabSize)
      assert(!spark.catalog.tableExists(s"${tbl}_delta_tags"),
        "the full append must fold the pending delta into its base first")
      assert(spark.table(s"${tbl}_tags").collect().map(_.getString(0)).toSet
        == Set("d2", "full3"))
    } finally dropLm(tbl)
  }

  test("delta append crash discipline: a crash at every step leaves the committed model unchanged, and the retry converges exactly") {
    val docs = corpus.toDF("doc_id", "text")
    val day2 = Seq((7L, "the cat sat again"), (8L, "a new dog")).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = NgramLM.fit(docs, "doc_id", "text")
    val whole = NgramLM.fit(docs.union(day2), "doc_id", "text")
    // steps: 1 = bigram delta written, 2 = + prefix delta, 3 = + vocab
    // delta — in every case the tag row never committed, so the orphan
    // partitions are invisible and the retry's drop-then-append rewrite
    // converges
    for (step <- 1 to 3) {
      val tbl = s"lmdcr${step}_${System.nanoTime()}"
      try {
        NgramLM.store(base, tbl, buckets = 4)
        intercept[IllegalStateException] {
          NgramLM.appendDeltaToStoredImpl(spark, tbl, day2, "doc_id", "text",
            batchTag = "d2", crashAfterStep = step)
        }
        assert(NgramLM.pendingDeltaCount(spark, tbl) == 0,
          s"step $step: an uncommitted delta must be invisible")
        assert(m(NgramLM.load(spark, tbl).bigrams) == m(base.bigrams),
          s"step $step: the crashed append must not change the model")
        NgramLM.appendDeltaToStored(spark, tbl, day2, "doc_id", "text", "d2")
        val after = NgramLM.load(spark, tbl)
        assert(m(after.bigrams) == m(whole.bigrams),
          s"step $step: the retry must converge (no orphan double rows)")
        assert(after.vocabSize == whole.vocabSize, s"step $step: vocab")
      } finally dropLm(tbl)
    }
  }

  test("compaction crash discipline: every crash step reads or recovers to the exact refit — including the marker window where folded deltas still linger") {
    val docs = corpus.toDF("doc_id", "text")
    val day2 = Seq((7L, "the cat sat again"), (8L, "a new dog")).toDF("doc_id", "text")
    val day3 = Seq((9L, "entirely novel words here")).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = NgramLM.fit(docs.union(day2).union(day3), "doc_id", "text")
    // steps: 1 = stages written pre-marker (recovery drops stages,
    // deltas INTACT → still composed-exact, retry compacts), 2 = marker
    // written pre-swap (roll forward incl. delta drop), 3 = mid-swap,
    // 4 = swap renamed but delta tables NOT yet dropped — the folded
    // tags sit in BOTH tag tables, and the committed-delta subtraction
    // (delta ∖ base) must keep the lingering partitions excluded
    for (step <- 1 to 4) {
      val tbl = s"lmccr${step}_${System.nanoTime()}"
      try {
        NgramLM.store(NgramLM.fit(docs, "doc_id", "text"), tbl, buckets = 4)
        NgramLM.appendDeltaToStored(spark, tbl, day2, "doc_id", "text", "d2")
        NgramLM.appendDeltaToStored(spark, tbl, day3, "doc_id", "text", "d3")
        intercept[IllegalStateException] {
          NgramLM.compactStoredImpl(spark, tbl, buckets = 4,
            crashAfterStep = step)
        }
        if (step == 1 || step == 4) {
          // readable crash states (stages beside live / marker window):
          // a lease-less READER must already see the exact model
          assert(m(NgramLM.load(spark, tbl).bigrams) == m(whole.bigrams),
            s"step $step: the crash-state read must stay exact")
        }
        if (step == 4)
          assert(spark.catalog.tableExists(s"${tbl}_delta_tags"),
            "step 4 is the marker window: deltas still on disk")
        NgramLM.recoverStored(spark, tbl)
        val recovered = NgramLM.load(spark, tbl)
        assert(m(recovered.bigrams) == m(whole.bigrams),
          s"step $step: recovery must land the exact refit")
        assert(recovered.vocabSize == whole.vocabSize, s"step $step: vocab")
        if (step == 1) {
          // marker never landed: deltas survive; the retry compacts them
          assert(NgramLM.pendingDeltaCount(spark, tbl) == 2, s"step $step")
          assert(NgramLM.compactStored(spark, tbl, buckets = 4) == 2)
        } else {
          // marker landed: roll-forward folded AND dropped the deltas
          assert(!spark.catalog.tableExists(s"${tbl}_delta_tags"),
            s"step $step: roll-forward must drop the folded deltas")
          assert(NgramLM.compactStored(spark, tbl, buckets = 4) == 0)
        }
        assert(m(NgramLM.load(spark, tbl).bigrams) == m(whole.bigrams),
          s"step $step: post-recovery compaction state")
        // the folded tags guard replays in every recovery path
        NgramLM.appendDeltaToStored(spark, tbl, day2, "doc_id", "text", "d2")
        assert(m(NgramLM.load(spark, tbl).bigrams) == m(whole.bigrams),
          s"step $step: a compacted tag's replay must no-op")
      } finally dropLm(tbl)
    }
  }

  test("crashed-holder takeover mid-compaction: a successor breaks the expired lease, recovers the store, and compacts exactly") {
    // the r15 lease-spec pattern applied to the NEW compaction path: the
    // first compactor dies mid-swap holding the lease; a second writer
    // must first be REFUSED (live lease), then break the expired lock,
    // run entry recovery, and land the exact model
    val docs = corpus.toDF("doc_id", "text")
    val day2 = Seq((7L, "the cat sat again")).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = NgramLM.fit(docs.union(day2), "doc_id", "text")
    val tbl = s"lmtake_${System.nanoTime()}"
    try {
      NgramLM.store(NgramLM.fit(docs, "doc_id", "text"), tbl, buckets = 4)
      NgramLM.appendDeltaToStored(spark, tbl, day2, "doc_id", "text", "d2")
      // crash mid-swap (marker present, live bigrams dropped)…
      intercept[IllegalStateException] {
        NgramLM.compactStoredImpl(spark, tbl, buckets = 4,
          owner = "dead-writer", crashAfterStep = 3)
      }
      // …and simulate the dead holder's lock still being live: a
      // successor with a different owner is refused LOUDLY
      val statePath = WriterLease.tableStatePath(spark, tbl)
      WriterLease.acquire(spark, statePath, owner = "dead-writer", ttlMs = 250L)
      intercept[java.util.ConcurrentModificationException] {
        NgramLM.compactStored(spark, tbl, buckets = 4, owner = "successor")
      }
      Thread.sleep(300L) // the dead holder's TTL expires
      // the successor breaks the expired lock; entry recovery rolls the
      // staged compaction forward (marker present), then finds nothing
      // pending
      assert(NgramLM.compactStored(spark, tbl, buckets = 4,
        owner = "successor") == 0)
      val after = NgramLM.load(spark, tbl)
      assert(m(after.bigrams) == m(whole.bigrams))
      assert(after.vocabSize == whole.vocabSize)
      assert(!spark.catalog.tableExists(s"${tbl}_delta_tags"))
    } finally dropLm(tbl)
  }

  test("delta guards: a vocab-less store refuses delta accretion, and a path-hostile tag refuses before touching state") {
    val docs = corpus.toDF("doc_id", "text")
    val tbl = s"lmguard_${System.nanoTime()}"
    try {
      val fitted = NgramLM.fit(docs, "doc_id", "text")
      NgramLM.store(fitted.copy(vocab = None), tbl, buckets = 4)
      val e = intercept[IllegalArgumentException] {
        NgramLM.appendDeltaToStored(spark, tbl, docs, "doc_id", "text", "d1")
      }
      assert(e.getMessage.contains("vocab"))
      val bad = intercept[IllegalArgumentException] {
        NgramLM.appendDeltaToStored(spark, tbl, docs, "doc_id", "text",
          "bad tag/with path chars")
      }
      assert(bad.getMessage.contains("batchTag"))
    } finally dropLm(tbl)
  }

  test("committed-tag SET: a replay of ANY older committed tag no-ops, and a legacy meta-only tag still guards") {
    val docs = corpus.toDF("doc_id", "text")
    val day2 = Seq((7L, "the cat sat again"), (8L, "a new dog")).toDF("doc_id", "text")
    val day3 = Seq((9L, "entirely novel words here")).toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = m(NgramLM.fit(docs.union(day2).union(day3), "doc_id", "text").bigrams)
    val tbl = s"lmtags_${System.nanoTime()}"
    try {
      NgramLM.store(NgramLM.fit(docs, "doc_id", "text"), tbl, buckets = 4)
      NgramLM.appendToStored(spark, tbl, day2, "doc_id", "text",
        buckets = 4, batchTag = Some("day2"))
      NgramLM.appendToStored(spark, tbl, day3, "doc_id", "text",
        buckets = 4, batchTag = Some("day3"))
      assert(m(NgramLM.load(spark, tbl).bigrams) == want)
      // the r12 hole: replaying the OLDER committed tag after a newer
      // one landed silently double-counted every gram (only the latest
      // tag was kept); the committed-tag table makes it a no-op
      val replayOld = NgramLM.appendToStored(spark, tbl, day2, "doc_id", "text",
        buckets = 4, batchTag = Some("day2"))
      assert(m(replayOld.bigrams) == want,
        "an out-of-order replay of an older committed tag must no-op")
      // legacy codec: a store whose last tag lives only in the meta row
      // (pre-tags-table shape) still refuses that tag's replay
      spark.sql(s"DROP TABLE ${tbl}_tags")
      val replayLegacy = NgramLM.appendToStored(spark, tbl, day3, "doc_id", "text",
        buckets = 4, batchTag = Some("day3"))
      assert(m(replayLegacy.bigrams) == want,
        "the meta row's latest tag must still guard a pre-upgrade store")
    } finally Seq("_bigrams", "_prefixes", "_vocab", "_meta", "_tags",
      "__stage_bigrams", "__stage_prefixes", "__stage_vocab",
      "__stage_meta", "__stage_tags", "__commit").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl$s"))
  }

  test("tag retention bounds the committed-tag set: retained tags still no-op, aged-out tags fall outside the replay horizon") {
    val docs = corpus.toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batches = (1 to 5).map(i =>
      i -> Seq((100L + i, s"retention batch number$i words")).toDF("doc_id", "text"))
    val tbl = s"lmret_${System.nanoTime()}"
    try {
      NgramLM.store(NgramLM.fit(docs, "doc_id", "text"), tbl, buckets = 4)
      batches.foreach { case (i, b) =>
        NgramLM.appendToStored(spark, tbl, b, "doc_id", "text",
          buckets = 4, batchTag = Some(s"t$i"), tagRetention = 3)
      }
      // only the 3 most-recent tags survive (bounded state, the O(n²)
      // rewrite fix) — and the table carries their commit order
      val kept = spark.table(s"${tbl}_tags").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(kept == Map("t3" -> 2L, "t4" -> 3L, "t5" -> 4L),
        s"retention must keep exactly the most-recent 3: $kept")
      val want = m(NgramLM.load(spark, tbl).bigrams)
      // a replay of a RETAINED tag no-ops exactly as before
      val replay = NgramLM.appendToStored(spark, tbl, batches(3)._2,
        "doc_id", "text", buckets = 4, batchTag = Some("t4"), tagRetention = 3)
      assert(m(replay.bigrams) == want,
        "a retained tag's replay must still no-op")
      // a tag aged OUT of the horizon is no longer recognized: the
      // documented contract is retention >= the caller's replay
      // horizon — the double-count is the expected breach behavior
      NgramLM.appendToStored(spark, tbl, batches(1)._2,
        "doc_id", "text", buckets = 4, batchTag = Some("t1"), tagRetention = 3)
      assert(m(NgramLM.load(spark, tbl).bigrams) != want,
        "an aged-out tag re-appends (outside the horizon by contract)")
      // legacy tags table (no seq column): retention treats its rows as
      // tied-oldest and a retained replay still guards
      val legacyTbl = s"lmretleg_${System.nanoTime()}"
      try {
        NgramLM.store(NgramLM.fit(docs, "doc_id", "text"), legacyTbl, buckets = 4)
        NgramLM.appendToStored(spark, legacyTbl, batches(1)._2, "doc_id", "text",
          buckets = 4, batchTag = Some("old1"))
        // strip seq to recreate the pre-r14 shape
        val legacyRows = spark.table(s"${legacyTbl}_tags").select("tag").localCheckpoint()
        legacyRows.write.mode("overwrite").saveAsTable(s"${legacyTbl}_tags")
        val before = m(NgramLM.load(spark, legacyTbl).bigrams)
        val lr = NgramLM.appendToStored(spark, legacyTbl, batches(1)._2,
          "doc_id", "text", buckets = 4, batchTag = Some("old1"), tagRetention = 3)
        assert(m(lr.bigrams) == before,
          "a legacy (seq-less) tag must still no-op its replay")
      } finally Seq("_bigrams", "_prefixes", "_vocab", "_meta", "_tags",
        "__stage_bigrams", "__stage_prefixes", "__stage_vocab",
        "__stage_meta", "__stage_tags", "__commit").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $legacyTbl$s"))
    } finally Seq("_bigrams", "_prefixes", "_vocab", "_meta", "_tags",
      "__stage_bigrams", "__stage_prefixes", "__stage_vocab",
      "__stage_meta", "__stage_tags", "__commit").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl$s"))
  }

  test("tagRetention < 1 fails loudly: a retention that would drop the committing tag in its own swap is a caller bug, not a silent replay hole") {
    // (r14 ADVICE) retention 0 made `kept` empty — the tag being
    // committed vanished in the same staged swap, so an immediate
    // replay of that very batch double-counted silently
    val day = Seq((1L, "retention guard words")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      NgramLM.appendToStored(spark, s"lmreq_${System.nanoTime()}", day,
        "doc_id", "text", buckets = 4, batchTag = Some("t"), tagRetention = 0)
    }
    assert(e.getMessage.contains("tagRetention"))
  }

  test("streaming: likelihoodMass scores arrivals against a static model, matches batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val model = NgramLM.fit(corpus.toDF("doc_id", "text"), "doc_id", "text")
    val arrivals = Seq((11L, "the cat sat on a log"), (12L, "novel words entirely"))
    val input = MemoryStream[(Long, String)]
    val scored = NgramLM.likelihoodMass(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", model)
    val q = scored.writeStream.format("memory").queryName("lm_stream")
      .outputMode("complete").start()
    try {
      input.addData(arrivals)
      q.processAllAvailable()
      val got = spark.table("lm_stream").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("hit_mass"), r.getAs[Long]("prefix_mass"),
            r.getAs[Double]("score"))).toMap
      val want = NgramLM.likelihoodMass(
        arrivals.toDF("doc_id", "text"), "doc_id", "text", model)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("hit_mass"), r.getAs[Long]("prefix_mass"),
            r.getAs[Double]("score"))).toMap
      assert(got == want, s"stream scores must match batch: $got vs $want")
    } finally q.stop()
  }

  test("order 3: trigram count tables and masses match a sliding-window reference") {
    val docs = corpus.toDF("doc_id", "text")
    val model = NgramLM.fit(docs, "doc_id", "text", order = 3)
    assert(model.order == 3)
    // reference trigram model off the same corpus
    val grams3 = corpus.flatMap { case (_, t) =>
      val w = refTokens(t); if (w.length < 3) Nil else w.sliding(3).toSeq
    }
    val c3 = grams3.groupBy(identity).map { case (_, gs) => gs.size.toLong }
    assert(model.bigrams.count() == grams3.distinct.size)
    assert(model.bigrams.agg(org.apache.spark.sql.functions.sum("c2"))
      .head().getLong(0) == c3.sum)
    // prefixes are 2-token windows of docs long enough for a trigram
    val p2 = grams3.map(_.take(2)).distinct.size
    assert(model.prefixes.count() == p2)
    // mass parity per doc against the reference arithmetic
    val cnt3 = grams3.groupBy(identity).map { case (g, gs) => g -> gs.size.toLong }
    val cnt2 = grams3.groupBy(_.take(2)).map { case (p, gs) => p -> gs.size.toLong }
    val v = corpus.flatMap(c => refTokens(c._2)).distinct.size.toLong
    val expect = corpus.flatMap { case (id, t) =>
      val w = refTokens(t)
      if (w.length < 3) None else {
        val ws = w.sliding(3).toSeq
        Some(id -> (ws.map(g => cnt3(g) + 1).sum, ws.map(g => cnt2(g.take(2)) + v).sum))
      }
    }.toMap
    val got = NgramLM.likelihoodMass(docs, "doc_id", "text", model)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("hit_mass"), r.getAs[Long]("prefix_mass"))).toMap
    assert(got == expect)
    // merging across orders must fail loud, not corrupt counts
    val m2 = NgramLM.fit(docs, "doc_id", "text")
    intercept[IllegalArgumentException](NgramLM.merge(model, m2))
  }

  test("scoring a corpus with unseen grams takes the add-one floor, never NPE") {
    val train = corpus.toDF("doc_id", "text")
    val model = NgramLM.fit(train, "doc_id", "text")
    val unseen = Seq((9L, "completely novel words here")).toDF("doc_id", "text")
    val row = NgramLM.likelihoodMass(unseen, "doc_id", "text", model)
      .collect().head
    // every gram unseen: hit_mass = n_grams * 1, prefix_mass = n_grams * V
    assert(row.getAs[Long]("n_grams") == 3L)
    assert(row.getAs[Long]("hit_mass") == 3L)
    assert(row.getAs[Long]("prefix_mass") == 3L * model.vocabSize)
  }
}
