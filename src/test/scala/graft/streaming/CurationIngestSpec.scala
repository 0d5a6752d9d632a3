package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** The composed-ingest seam the solo streaming specs leave untested:
  * normalize → scrub → stored-index dedup admission → stored-LM gate →
  * split → offset-continued packing as ONE streaming job, proven
  * BIT-EQUAL to a single batch run of the same chain over the same
  * corpus and day-0 state — micro-batching must be invisible in the
  * admitted set, the bucket totals, and the packed token layout.
  */
class CurationIngestSpec extends AnyFunSuite {
  import graft.operators.{DedupIndex, NgramLM, StoredMerge}

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  // ---- day-0 corpus: the stored state both runs start from ----------
  private val vocabSentences = Seq(
    "the quick brown fox jumps over the lazy dog near the river bank",
    "a steady stream of fresh water flows past the old stone mill",
    "the miller grinds golden wheat into fine flour every single morning",
    "fresh bread from the village oven smells of warm golden wheat",
    "the lazy dog sleeps beside the warm oven while the fox watches",
    "every morning the village wakes to the steady sound of the mill",
    "stone walls keep the flour dry through the long wet winter months",
    "the river rises in spring and turns the great wheel of the mill")
  // each sentence stored twice: seen-bigram counts reach c2 = 2, so an
  // in-domain score (≈ 3/(2+V)) separates ~3x from the add-one floor
  // (1/V) — two copies are what give the LM gate a usable margin on a
  // corpus this small
  private def day0: DataFrame =
    (vocabSentences ++ vocabSentences).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")

  /** Day-1 arrivals in doc_id order: exact replays (PII-salted), a
    * near-dup trailer variant, out-of-domain junk, and novel
    * recombinations of the day-0 vocabulary (distinct enough to clear
    * the jaccard threshold vs every stored doc).
    */
  private val day1: Seq[(Long, String)] = {
    val replays = Seq(
      100L -> (vocabSentences(0) + " contact alice@example.com"),
      101L -> (vocabSentences(3) + " reach bob@corp.org"))
    val nearDup = Seq(
      102L -> (vocabSentences(1) + " flows past the old stone mill again"))
    val junk = Seq(
      103L -> "zxqv blorp wug snarf glip norb quux zelch vrump klaatu barada nikto",
      104L -> "qqqq wwww eeee rrrr tttt yyyy uuuu iiii oooo pppp aaaa ssss")
    // novel in-domain docs: a 13-word base from two day-0 sentences
    // (64 distinct bases) + TWO per-doc tokens inserted at doc-varying
    // positions. The insertions disrupt ~6 of ~12 base shingles, so any
    // two same-base docs sit near jaccard ~0.25 and every doc sits well
    // under 0.5 vs every stored sentence — no intra-day near-dup pair
    // exists (the documented parity boundary), while ~85% of bigrams
    // stay in-domain so the LM gate clears them.
    val novel = (110L until 280L).map { i =>
      val base = (vocabSentences((i % 8).toInt).split(" ") ++
        vocabSentences(((i / 8) % 8).toInt).split(" ")).take(13)
      val p1 = ((i * 5) % 11 + 1).toInt
      val p2 = ((i * 7) % 13 + 1).toInt
      i -> base.patch(p1, Seq(s"zq${i}a"), 0).patch(p2 + 1, Seq(s"zq${i}b"), 0)
        .mkString(" ")
    }
    replays ++ nearDup ++ junk ++ novel
  }

  private def freshState(tag: String): CurationIngest.Config = {
    // nanoTime-fresh table names: overwrite cannot replace orphan
    // warehouse dirs from a previous session (the DedupIndexSpec rule)
    val t0 = System.nanoTime()
    val dedup = s"ci_${tag}_${t0}_dedup"
    val lm = s"ci_${tag}_${t0}_lm"
    val cleaned0 = day0.select(col("doc_id"),
      graft.functions.Curation.redactPii(
        graft.functions.Curation.normalizeText(col("text"))).as("clean"))
    DedupIndex.saveCorpus(spark, cleaned0, "doc_id", "clean", dedup)
    NgramLM.store(NgramLM.fit(cleaned0, "doc_id", "clean"), lm)
    val cfg = CurationIngest.Config(
      dedupTable = dedup, lmTable = lm,
      offsetsPath = java.nio.file.Files
        .createTempDirectory(s"ci_${tag}_off").toString + "/offsets",
      scoreCut = scoreCutFor(lm), budget = 32)
    CurationIngest.initOffsets(spark, cfg)
    cfg
  }

  /** The gate cut, derived once from the stored model on neutral text
    * (junk scores near the add-one floor; in-domain scores far above). */
  private def scoreCutFor(lm: String): Double = {
    val model = NgramLM.load(spark, lm)
    val probe = Seq(
      (1L, "the quick brown fox sleeps beside the old stone mill"),
      (2L, "zxqv blorp wug snarf glip norb quux zelch vrump"))
      .toDF("doc_id", "text")
    val s = NgramLM.likelihoodMass(probe, "doc_id", "text", model)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("score")).toMap
    assert(s(1L) > 2 * s(2L), s"cut must separate: $s")
    (s(1L) + s(2L)) / 2
  }

  /** The stream's job-lifetime lease releases via an ASYNC terminated
    * listener — a different-owner mutation right after stop() must
    * wait it out (same-owner restarts just re-enter, no wait needed).
    */
  private def awaitLeaseFree(path: String): Unit = {
    // 60 s, not 15 (r17 deflake hardening): the release rides the
    // ASYNC terminated-listener thread, and under external load (the
    // r16 driver gate ran at load ≈ 7) the listener bus + filesystem
    // CAS can lag far past a quiet box's milliseconds. The deadline
    // only bounds a HANG — a passing run waits exactly as long as the
    // release takes — so a generous bound costs nothing when green.
    val deadline = System.currentTimeMillis() + 60000
    while (graft.operators.WriterLease.holder(spark, path).isDefined &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(graft.operators.WriterLease.holder(spark, path).isEmpty,
      s"stream lease on $path not released after stop")
  }

  private def rowsOf(df: DataFrame): Set[(Long, Long, String)] =
    df.select(col("doc_id"), col("n_tok"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private def manifestRollup(df: DataFrame): Map[(String, Long), (Long, Long, Long, Long)] =
    df.groupBy(col("bucket"), col("seq_id"))
      .agg(sum(col("n_docs")).as("nd"), sum(col("n_tokens")).as("nt"),
        min(col("first_doc")).as("fd"), max(col("last_doc")).as("ld"))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap

  test("streaming (3 micro-batches) bit-equals the one-shot batch chain; every stage fires; offsets converge") {
    // packSlices = 2 on the streaming side ONLY: parity vs the
    // slices=1 batch replay proves the sliced pack window is invisible
    // in the offsets-continued output too (the 100× --once drain path)
    val streamCfg = freshState("s").copy(packSlices = 2)
    val batchCfg = freshState("b")

    // ---- batch replay: ONE curateBatch over the whole day ----------
    val (bLabeled, bManifest) =
      CurationIngest.curateBatch(spark, day1.toDF("doc_id", "text"), batchCfg)
    val bRows = rowsOf(bLabeled)
    val bRoll = manifestRollup(bManifest)

    // ---- the ONE streaming job, three doc_id-ordered micro-batches --
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val tmp = java.nio.file.Files.createTempDirectory("ci_out").toString
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val q = CurationIngest.start(spark,
      input.toDF().toDF("doc_id", "text"), streamCfg,
      s"$tmp/labeled", s"$tmp/manifest", s"$tmp/ckpt",
      trigger = "1 seconds")
    try {
      val (b1, rest) = day1.splitAt(4)
      val (b2, b3) = rest.splitAt(30)
      for (b <- Seq(b1, b2, b3)) { input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // storage hygiene: every block a micro-batch pinned (its labeled
    // checkpoint, the sliced pack's materialized input) is released by
    // processBatch — a long-running stream must not accumulate one
    // materialized batch per trigger
    assert((spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore).isEmpty,
      "the drained stream must leave no pinned batch blocks behind: " +
        (spark.sparkContext.getPersistentRDDs -- pinnedBefore).values
          .map(r => s"id=${r.id} name=${r.name} str=${r.toString}").mkString("; "))
    val sLabeled = spark.read.parquet(s"$tmp/labeled")
    val sManifest = spark.read.parquet(s"$tmp/manifest")

    // ---- bit-parity ------------------------------------------------
    assert(rowsOf(sLabeled) == bRows,
      "admitted set + bucket labels must be identical under any micro-batch split")
    assert(manifestRollup(sManifest) == bRoll,
      "per-(bucket, seq) packed layout must tile the one-shot manifest exactly")

    // ---- stage coverage: every bucket provably fires ----------------
    val buckets = bRows.map(_._3)
    assert(Set("drop:stored_dup", "drop:quality", "train", "val", "test")
      .subsetOf(buckets), s"stages missing: $buckets")
    assert(bRows.count(_._3 == "drop:stored_dup") >= 3) // 2 exact + 1 near
    assert(bRows.count(_._3 == "drop:quality") >= 2)

    // ---- stored state converges to the replay's closed form ---------
    val admittedSums = bLabeled.filter(!col("bucket").startsWith("drop:"))
      .groupBy(col("bucket")).agg(sum(col("n_tok")).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val off = StoredMerge.readBuckets(spark, streamCfg.offsetsPath)
      .select(col("bucket"), col("base_tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(off == Map("train" -> admittedSums.getOrElse("train", 0L),
      "val" -> admittedSums.getOrElse("val", 0L),
      "test" -> admittedSums.getOrElse("test", 0L)))

    // ---- replayed commit is a no-op (foreachBatch crash-replay) -----
    awaitLeaseFree(streamCfg.offsetsPath)
    CurationIngest.commitBatch(spark,
      sLabeled.filter(!col("bucket").startsWith("drop:")), batchId = 0L,
      streamCfg)
    val off2 = StoredMerge.readBuckets(spark, streamCfg.offsetsPath)
      .select(col("bucket"), col("base_tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(off2 == off, "a committed batch id must not advance offsets twice")

    // ---- cross-batch state: batch-2/3 replays of batch-1 ADMITS are
    // suppressed by the appended corpus (prove with one more arrival) --
    val admittedId = bRows.filter(r => r._3 == "train").head._1
    val replayText = day1.toMap.apply(admittedId)
    val (relabeled, _) = CurationIngest.curateBatch(spark,
      Seq((900L, replayText)).toDF("doc_id", "text"), streamCfg)
    assert(rowsOf(relabeled).head._3 == "drop:stored_dup",
      "an earlier ADMITTED doc must suppress its later replay via the appended corpus")
  }

  private def offMap(cfg: CurationIngest.Config): Map[String, (Long, Long)] =
    StoredMerge.readBuckets(spark, cfg.offsetsPath)
      .select(col("bucket"), col("base_tok"), col("last_batch"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** Corpus-table CONTENT (ids with provenance) plus raw row counts —
    * set equality + count equality pins multiset equality, so a
    * replay that double-appended would fail the count leg. */
  private def corpusShape(cfg: CurationIngest.Config)
      : (Set[(Int, Long, Long, Long)], Long, Set[(Long, Long)], Long) = {
    val bk = spark.table(s"${cfg.dedupTable}_buckets")
      .select(col("band"), col("band_hash"), col("doc_id"), col("batch_id")).collect()
    val st = spark.table(s"${cfg.dedupTable}_sets")
      .select(col("doc_id"), col("batch_id")).collect()
    (bk.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet,
      bk.length.toLong,
      st.map(r => (r.getLong(0), r.getLong(1))).toSet, st.length.toLong)
  }

  test("a batch whose curation throws after its first checkpoint leaves no pinned block behind") {
    // the dedup table is missing: the scrub checkpoint is pinned, then
    // the stored-corpus probe throws
    val cfg = freshState("leak").copy(dedupTable = s"ci_missing_${System.nanoTime()}_dedup")
    val out = java.nio.file.Files.createTempDirectory("ci_leak").toString
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      CurationIngest.processBatch(spark, day1.take(4).toDF("doc_id", "text"), 0L, cfg,
        s"$out/labeled", s"$out/manifest")
    }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore).isEmpty,
      "a failed batch must release what it pinned: " +
        (spark.sparkContext.getPersistentRDDs -- pinnedBefore).values
          .map(r => s"id=${r.id} str=${r.toString}").mkString("; "))
  }

  test("crash at EVERY commit step: the foreachBatch replay reproduces bit-identical sinks, offsets, and corpus") {
    val docs = day1.take(44)
    val (b0, b1) = docs.splitAt(4)

    // reference: the uninterrupted two-batch run of the REAL
    // foreachBatch body
    val refCfg = freshState("crr")
    val refOut = java.nio.file.Files.createTempDirectory("ci_crash_ref").toString
    for ((b, id) <- Seq(b0 -> 0L, b1 -> 1L))
      CurationIngest.processBatch(spark, b.toDF("doc_id", "text"), id, refCfg,
        s"$refOut/labeled", s"$refOut/manifest")
    val refRows = rowsOf(spark.read.parquet(s"$refOut/labeled"))
    val refRoll = manifestRollup(spark.read.parquet(s"$refOut/manifest"))
    val refOff = offMap(refCfg)
    val refCorpus = corpusShape(refCfg)
    assert(b1.map(_._1).toSet.intersect(
      refRows.filter(_._3 == "train").map(_._1)).nonEmpty,
      "batch 1 must admit docs or the crash windows are vacuous")

    // steps: 1 = corpus buckets appended, 2 = bloom merged,
    // 3 = corpus sets appended, 4 = offsets advanced (commit complete,
    // streaming commit-log write still pending — the r11 ADVICE
    // window). The "o" cases crash INSIDE the offsets bucket swap
    // (upsertBucketsImpl's own seam): o2 = a live offset bucket
    // renamed aside (rolled back whole on recovery), o3 = one bucket's
    // NEW state renamed in (recovery keeps it — SOME buckets then
    // carry batch 1, the rest batch 0, the partial-commit state the
    // min() watermark + per-bucket advance guard exist for; under the
    // old max() guard this case silently stranded the rolled-back
    // buckets' offsets forever).
    val cases = Seq("1" -> (1, Int.MaxValue), "2" -> (2, Int.MaxValue),
      "3" -> (3, Int.MaxValue), "4" -> (4, Int.MaxValue),
      "o2" -> (Int.MaxValue, 2), "o3" -> (Int.MaxValue, 3))
    for ((tag, (step, oStep)) <- cases) {
      val cfg = freshState(s"cr$tag")
      val out = java.nio.file.Files.createTempDirectory(s"ci_crash_$tag").toString
      CurationIngest.processBatch(spark, b0.toDF("doc_id", "text"), 0L, cfg,
        s"$out/labeled", s"$out/manifest")
      // batch 1, first attempt: sinks written (processBatch order), then
      // the commit dies after `step`
      val (labeled, manifest) = CurationIngest.curateBatch(
        spark, b1.toDF("doc_id", "text"), cfg)
      val l = labeled.localCheckpoint()
      l.write.mode("overwrite").parquet(s"$out/labeled/batch_id=1")
      manifest.write.mode("overwrite").parquet(s"$out/manifest/batch_id=1")
      intercept[IllegalStateException] {
        CurationIngest.commitBatchImpl(spark, l, 1L, cfg,
          crashAfterStep = step, offsetsCrashStep = oStep)
      }
      spark.catalog.clearCache() // a simulated crash skips the operator's own release
      // a crash inside the swap leaves aside dirs that refuse reads —
      // repair on entry, exactly what CurationIngest.start runs before
      // the restarted stream's first batch
      StoredMerge.recoverMerge(spark, cfg.offsetsPath)
      // REPLAY: exactly what foreachBatch re-runs after restart
      CurationIngest.processBatch(spark, b1.toDF("doc_id", "text"), 1L, cfg,
        s"$out/labeled", s"$out/manifest")
      assert(rowsOf(spark.read.parquet(s"$out/labeled")) == refRows,
        s"step $tag: labels must replay bit-identically (no self-match relabeling)")
      assert(manifestRollup(spark.read.parquet(s"$out/manifest")) == refRoll,
        s"step $tag: packed manifest must replay bit-identically")
      assert(offMap(cfg) == refOff,
        s"step $tag: offsets must advance exactly once")
      assert(corpusShape(cfg) == refCorpus,
        s"step $tag: corpus must converge with no duplicate appends")
    }
  }

  test("online LM accretion: per-batch DELTA accretion equals a one-shot refit, compaction folds deltas at the cadence, a crash replay no-ops via the writer-scoped tag, and the tag set stays bounded") {
    import graft.operators.NgramLM
    def bigramMap(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cleaned0 = day0.select(col("doc_id"),
      graft.functions.Curation.redactPii(
        graft.functions.Curation.normalizeText(col("text"))).as("clean"))
    val accLm = s"ci_acclm_${System.nanoTime()}"
    try {
      // the accretion model is a SEPARATE seeded store (Config refuses
      // lmAccreteTable == lmTable — the self-reinforcement guard)
      NgramLM.store(NgramLM.fit(cleaned0, "doc_id", "clean"), accLm, buckets = 4)
      val base = freshState("acc")
      intercept[IllegalArgumentException] {
        base.copy(lmAccreteTable = Some(base.lmTable))
      }
      intercept[IllegalArgumentException] { base.copy(lmCompactEvery = -1) }
      val cfg = base.copy(lmAccreteTable = Some(accLm), lmAccreteBuckets = 4,
        tagRetention = 2, lmCompactEvery = 2)
      def tag(i: Int) = s"ci-${cfg.writerId}-$i"
      def tagsOf(t: String): Set[String] =
        spark.table(t).collect().map(_.getString(0)).toSet
      val out = java.nio.file.Files.createTempDirectory("ci_acc").toString
      // closed form at any point: the accreted model == one refit over
      // day-0 ∪ every admitted clean (append ≡ refit, composed through
      // the streaming commit path — base alone after a compaction,
      // base + pending deltas between them)
      def wantNow(): Map[Long, Long] = bigramMap(NgramLM.fit(
        cleaned0.union(spark.read.parquet(s"$out/labeled")
          .filter(!col("bucket").startsWith("drop:"))
          .select(col("doc_id"), col("clean"))), "doc_id", "clean").bigrams)
      def proc(docs: Seq[(Long, String)], id: Long): Unit =
        CurationIngest.processBatch(spark, docs.toDF("doc_id", "text"), id,
          cfg, s"$out/labeled", s"$out/manifest")

      // batch 0 admits NOTHING (2 exact replays, 1 near-dup, 1 junk) —
      // the empty-accretion skip: no delta tables appear at all
      proc(day1.take(4), 0L)
      assert(!spark.catalog.tableExists(s"${accLm}_delta_tags"),
        "an all-dropped batch must not touch the accretion model")
      // batch 1: ONE committed delta, below the cadence — the base is
      // untouched (no base tag table yet), and the COMPOSED read
      // (base + pending delta) already equals the refit
      proc(day1.slice(4, 24), 1L)
      assert(tagsOf(s"${accLm}_delta_tags") == Set(tag(1)))
      assert(!spark.catalog.tableExists(s"${accLm}_tags"),
        "a delta append must not rewrite the base model")
      assert(bigramMap(NgramLM.load(spark, accLm).bigrams) == wantNow(),
        "composed base+delta read must equal the one-shot refit")
      // batch 2: the second delta reaches lmCompactEvery=2 — the commit
      // compacts: deltas fold into the base, delta tables drop, the
      // writer-scoped tags move to the base tag table
      proc(day1.slice(24, 44), 2L)
      assert(!spark.catalog.tableExists(s"${accLm}_delta_tags"),
        "compaction must drop the delta tables")
      assert(tagsOf(s"${accLm}_tags") == Set(tag(1), tag(2)))
      val compacted = NgramLM.load(spark, accLm)
      assert(bigramMap(compacted.bigrams) == wantNow(),
        "the compacted model must equal the one-shot refit")
      assert(compacted.vocabSize == NgramLM.exactVocabSize(compacted),
        "compaction's smoothing denominator must stay exact")

      // crash INSIDE the offsets swap, AFTER the accretion's delta
      // committed: the replay must complete the offsets WITHOUT
      // double-counting the accreted LM (the ci-3 delta tag no-ops the
      // re-append; 1 pending < cadence, so no compaction yet)
      val b3 = day1.slice(44, 60)
      val (labeled3, manifest3) = CurationIngest.curateBatch(
        spark, b3.toDF("doc_id", "text"), cfg)
      val l3 = labeled3.localCheckpoint()
      l3.write.mode("overwrite").parquet(s"$out/labeled/batch_id=3")
      manifest3.write.mode("overwrite").parquet(s"$out/manifest/batch_id=3")
      intercept[IllegalStateException] {
        CurationIngest.commitBatchImpl(spark, l3, 3L, cfg, offsetsCrashStep = 3)
      }
      spark.catalog.clearCache()
      StoredMerge.recoverMerge(spark, cfg.offsetsPath)
      proc(b3, 3L)
      assert(bigramMap(NgramLM.load(spark, accLm).bigrams) == wantNow(),
        "a crash replay must not double-count the accreted LM")
      assert(tagsOf(s"${accLm}_delta_tags") == Set(tag(3)),
        "the replayed batch stays ONE pending delta")
      assert(offMap(cfg).values.map(_._2).toSet == Set(3L),
        "the crashed offsets swap must complete on replay")

      // batches 4..6: two more compactions. Retention 2 trims the base
      // tag set to the 2 most-recent at each swap, EXCEPT the tags
      // compacted in that swap (the reader's committed-delta set is
      // delta ∖ base — a just-compacted tag must survive its own swap),
      // so the set is bounded at retention + cadence and the OLDEST
      // tags fall off
      proc(day1.slice(60, 76), 4L) // 2nd pending → compaction
      assert(tagsOf(s"${accLm}_tags") == Set(tag(1), tag(2), tag(3), tag(4)),
        "trim(base, 2) ∪ this swap's deltas")
      proc(day1.slice(76, 92), 5L)
      proc(day1.slice(92, 108), 6L) // → compaction
      assert(tagsOf(s"${accLm}_tags") == Set(tag(3), tag(4), tag(5), tag(6)),
        "the oldest tags must trim off at the NEXT compaction")
      assert(!spark.catalog.tableExists(s"${accLm}_delta_tags"))
      val fin = NgramLM.load(spark, accLm)
      assert(bigramMap(fin.bigrams) == wantNow(),
        "after three compactions the model still equals the refit")
      assert(fin.vocabSize == NgramLM.exactVocabSize(fin))
    } finally Seq("_bigrams", "_prefixes", "_vocab", "_meta", "_tags",
      "_delta_bigrams", "_delta_prefixes", "_delta_vocab", "_delta_tags",
      "__stage_bigrams", "__stage_prefixes", "__stage_vocab",
      "__stage_meta", "__stage_tags", "__commit").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $accLm$s"))
  }

  test("two jobs sharing one accretion model: writer-scoped tags keep BOTH jobs' same-numbered batches (no silent no-op), totals equal one refit") {
    // the hole writer-scoping closes: NgramLM's committed-tag check
    // NO-OPS a seen tag (it cannot refuse — that is the replay path),
    // so with bare `ci-<batchId>` tags job B's batch 0 would silently
    // vanish from a shared accretion model after job A committed ITS
    // batch 0 — several ingest streams feeding one corpus LM is a
    // natural fleet shape, and the corpus-side writer_id refusal never
    // sees it (separate corpora)
    import graft.operators.NgramLM
    def bigramMap(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cleaned0 = day0.select(col("doc_id"),
      graft.functions.Curation.redactPii(
        graft.functions.Curation.normalizeText(col("text"))).as("clean"))
    val accLm = s"ci_fleetlm_${System.nanoTime()}"
    try {
      NgramLM.store(NgramLM.fit(cleaned0, "doc_id", "clean"), accLm, buckets = 4)
      val cfgA = freshState("fa").copy(lmAccreteTable = Some(accLm),
        lmAccreteBuckets = 4)
      val cfgB = freshState("fb").copy(lmAccreteTable = Some(accLm),
        lmAccreteBuckets = 4)
      assert(cfgA.writerId != cfgB.writerId)
      val docsA = day1.slice(4, 14)
      val docsB = day1.slice(24, 34)
      val out = java.nio.file.Files.createTempDirectory("ci_fleetlm").toString
      // both jobs commit THEIR batch 0 into the shared accretion model
      CurationIngest.processBatch(spark, docsA.toDF("doc_id", "text"), 0L,
        cfgA, s"$out/labeledA", s"$out/manifestA")
      CurationIngest.processBatch(spark, docsB.toDF("doc_id", "text"), 0L,
        cfgB, s"$out/labeledB", s"$out/manifestB")
      val admitted = spark.read.parquet(s"$out/labeledA")
        .unionByName(spark.read.parquet(s"$out/labeledB"))
        .filter(!col("bucket").startsWith("drop:"))
        .select(col("doc_id"), col("clean"))
      assert(admitted.count() > 0)
      val want = bigramMap(NgramLM.fit(cleaned0.union(admitted),
        "doc_id", "clean").bigrams)
      assert(bigramMap(NgramLM.load(spark, accLm).bigrams) == want,
        "both jobs' batch 0 must land — a bare batch-id tag would drop B's")
      // both deltas pending (default cadence 16): each job's tag in the
      // shared delta tag table
      val tags = spark.table(s"${accLm}_delta_tags").collect()
        .map(_.getString(0)).toSet
      assert(tags == Set(s"ci-${cfgA.writerId}-0", s"ci-${cfgB.writerId}-0"),
        s"writer-scoped tags: $tags")
      // and each job's own replay still no-ops (the tag's purpose)
      CurationIngest.commitBatch(spark, spark.read.parquet(s"$out/labeledB")
        .filter(!col("bucket").startsWith("drop:")), 0L, cfgB)
      assert(bigramMap(NgramLM.load(spark, accLm).bigrams) == want,
        "a replayed commit must not double-count the shared model")
      // EITHER job may compact the shared model (same lease discipline):
      // both jobs' deltas fold in, and B's replay of a COMPACTED tag
      // still no-ops
      assert(NgramLM.compactStored(spark, accLm, buckets = 4,
        owner = cfgA.writerId) == 2)
      assert(!spark.catalog.tableExists(s"${accLm}_delta_tags"))
      assert(bigramMap(NgramLM.load(spark, accLm).bigrams) == want,
        "compacting the shared model must preserve both jobs' batches")
      NgramLM.appendDeltaToStored(spark, accLm, admitted, "doc_id", "clean",
        batchTag = s"ci-${cfgB.writerId}-0", owner = cfgB.writerId)
      assert(bigramMap(NgramLM.load(spark, accLm).bigrams) == want,
        "a replay of a compacted tag must no-op")
    } finally Seq("_bigrams", "_prefixes", "_vocab", "_meta", "_tags",
      "_delta_bigrams", "_delta_prefixes", "_delta_vocab", "_delta_tags",
      "__stage_bigrams", "__stage_prefixes", "__stage_vocab",
      "__stage_meta", "__stage_tags", "__commit").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $accLm$s"))
  }

  test("restart from checkpoint mid-corpus: the resumed query's final output bit-equals the one-shot batch chain") {
    val cfg = freshState("rs")
    val batchCfg = freshState("rsb")
    val (bLabeled, bManifest) =
      CurationIngest.curateBatch(spark, day1.toDF("doc_id", "text"), batchCfg)
    val bRows = rowsOf(bLabeled)
    val bRoll = manifestRollup(bManifest)

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val tmp = java.nio.file.Files.createTempDirectory("ci_restart").toString
    val (h1, h2) = day1.splitAt(40)
    def startQuery() = CurationIngest.start(spark,
      input.toDF().toDF("doc_id", "text"), cfg,
      s"$tmp/labeled", s"$tmp/manifest", s"$tmp/ckpt",
      trigger = "1 seconds")
    // first query: half the corpus, clean stop
    val q1 = startQuery()
    try { input.addData(h1); q1.processAllAvailable() } finally q1.stop()
    // second query, SAME checkpoint: resumes at the next batch id and
    // drains the rest
    input.addData(h2)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    assert(rowsOf(spark.read.parquet(s"$tmp/labeled")) == bRows,
      "restart must not relabel, drop, or re-admit anything")
    assert(manifestRollup(spark.read.parquet(s"$tmp/manifest")) == bRoll,
      "packed layout must tile the one-shot manifest across the restart")
  }

  test("two interleaved writers on one stored state: the second commitBatch fails loudly, state uncorrupted, retry lands after release") {
    val cfg = freshState("lk") // writer 1's config (its own writerId)
    val cfg2 = cfg.copy(writerId = java.util.UUID.randomUUID().toString)
    val (labeled, _) = CurationIngest.curateBatch(
      spark, day1.take(8).toDF("doc_id", "text"), cfg)
    val l = labeled.localCheckpoint()
    val offBefore = offMap(cfg)
    val corpusBefore = corpusShape(cfg)
    // writer 1 is mid-commit (holds the lease, as commitBatch does)
    graft.operators.WriterLease.acquire(spark, cfg.offsetsPath, cfg.writerId)
    try {
      // writer 2 — a second job pointed at the same stored state — must
      // fail LOUDLY before touching the corpus or the offsets
      intercept[java.util.ConcurrentModificationException] {
        CurationIngest.commitBatch(spark, l, batchId = 0L, cfg2)
      }
      assert(offMap(cfg) == offBefore, "refused commit must not move offsets")
      assert(corpusShape(cfg) == corpusBefore,
        "refused commit must not append to the corpus")
    } finally graft.operators.WriterLease.release(spark, cfg.offsetsPath, cfg.writerId)
    // writer 1 gone: the retry commits normally
    CurationIngest.commitBatch(spark, l, batchId = 0L, cfg2)
    assert(offMap(cfg).values.map(_._2).toSet == Set(0L),
      "the post-release retry must commit batch 0")
  }

  test("job-lifetime lease: a second streaming job (different checkpoint) is refused at START; the lease frees on stop and a successor starts") {
    val cfg = freshState("jl")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val tmp = java.nio.file.Files.createTempDirectory("ci_joblease").toString
    def startAt(ckpt: String) = CurationIngest.start(spark,
      input.toDF().toDF("doc_id", "text"), cfg,
      s"$tmp/labeled", s"$tmp/manifest", ckpt, trigger = "1 seconds")
    // a FAILED start (bad trigger here; bad checkpoint/source the same
    // way) must not strand the lease for the TTL
    intercept[IllegalArgumentException] {
      CurationIngest.start(spark,
        input.toDF().toDF("doc_id", "text"), cfg,
        s"$tmp/labeled", s"$tmp/manifest", s"$tmp/ckptFail",
        trigger = "not a duration")
    }
    assert(graft.operators.WriterLease.holder(spark, cfg.offsetsPath).isEmpty,
      "a start() failure must release the lease immediately")
    val q1 = startAt(s"$tmp/ckptA")
    try {
      assert(graft.operators.WriterLease.holder(spark, cfg.offsetsPath)
        .exists(_.owner.startsWith("ci-")),
        "the running job must hold a checkpoint-derived lease")
      // a DIFFERENT job (its own checkpoint) on the same stored state:
      // refused before its stream ever starts — the between-commit
      // ping-pong (job B reading job A's advanced high-water and
      // silently skipping its own batches) can never begin
      intercept[java.util.ConcurrentModificationException] {
        startAt(s"$tmp/ckptB")
      }
    } finally q1.stop()
    awaitLeaseFree(cfg.offsetsPath)
    // the state is free again: the other job starts cleanly now
    val q2 = startAt(s"$tmp/ckptB")
    try {
      input.addData(day1.take(4))
      q2.processAllAvailable()
      assert(spark.read.parquet(s"$tmp/labeled").count() > 0)
    } finally q2.stop()
    awaitLeaseFree(cfg.offsetsPath)
  }

  test("decontamination stage (benchTable): streaming bit-equals the one-shot batch chain; contaminated docs drop before the probe and never enter the corpus") {
    // bench doc = day-0 sentence 0 verbatim (13 tokens = exactly one
    // 13-gram): doc 100 (an exact replay of that sentence + a PII tail)
    // carries the gram and must relabel drop:contaminated — it would be
    // drop:stored_dup without the stage (the main parity test pins that)
    val benchTbl = s"ci_bench_${System.nanoTime()}"
    graft.operators.Contamination.storeBenchGrams(spark,
      Seq((500L, vocabSentences(0))).toDF("doc_id", "text"),
      "doc_id", "text", benchTbl, n = 13)
    try {
      val streamCfg = freshState("dcs").copy(benchTable = Some(benchTbl))
      val batchCfg = freshState("dcb").copy(benchTable = Some(benchTbl))

      val (bLabeled, bManifest) =
        CurationIngest.curateBatch(spark, day1.toDF("doc_id", "text"), batchCfg)
      val bRows = rowsOf(bLabeled)
      assert(bRows.filter(_._1 == 100L).head._3 == "drop:contaminated",
        s"the bench-gram carrier must gate as contaminated: $bRows")
      assert(bRows.count(_._3 == "drop:stored_dup") >= 2,
        "the dedup stage must still fire for non-contaminated replays")

      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, String)]
      val tmp = java.nio.file.Files.createTempDirectory("ci_decon").toString
      val q = CurationIngest.start(spark,
        input.toDF().toDF("doc_id", "text"), streamCfg,
        s"$tmp/labeled", s"$tmp/manifest", s"$tmp/ckpt",
        trigger = "1 seconds")
      try {
        val (b1, b2) = day1.splitAt(20)
        for (b <- Seq(b1, b2)) { input.addData(b); q.processAllAvailable() }
      } finally q.stop()
      assert(rowsOf(spark.read.parquet(s"$tmp/labeled")) == bRows,
        "micro-batching must be invisible with the decontamination stage on")
      assert(manifestRollup(spark.read.parquet(s"$tmp/manifest")) ==
        manifestRollup(bManifest))
      // contaminated docs never reach the corpus append
      val corpusIds = spark.table(s"${streamCfg.dedupTable}_sets")
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      assert(!corpusIds.contains(100L),
        "a contaminated doc must not be appended to the dedup corpus")

      // plan: the stored bench-gram side BROADCASTS into the probe —
      // no shuffle ever carries the gram join (the q37 scale shape:
      // eval sets are small by construction, the corpus streams
      // through one scan)
      val (planLbl, _) = CurationIngest.curateBatch(
        spark, day1.take(8).toDF("doc_id", "text"), batchCfg)
      planLbl.collect()
      val plan = planLbl.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def scansBench(p: SparkPlan): Boolean =
        p.collectLeaves().exists(_.toString.contains(benchTbl))
      assert(plan.toString.contains(benchTbl),
        s"bench gram scan expected in:\n$plan")
      assert(plan.collect {
        case s: ShuffleExchangeExec if scansBench(s) => s
      }.isEmpty, s"bench grams must broadcast, never shuffle:\n$plan")
    } finally spark.sql(s"DROP TABLE IF EXISTS $benchTbl")
  }

  test("zero-exchange stored side: the dedup probe's _sets scan reaches its join through the bucketing") {
    val cfg = freshState("p")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val cleaned = day1.toDF("doc_id", "text").select(col("doc_id"),
        graft.functions.Curation.redactPii(
          graft.functions.Curation.normalizeText(col("text"))).as("clean"))
      val (sigs, lazyOut) = DedupIndex.dedupAgainstStoredPlan(spark,
        cfg.dedupTable, cleaned, "doc_id", "clean", cfg.threshold,
        cfg.k, cfg.bands, cfg.shingleN)
      lazyOut.collect()
      val plan = lazyOut.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      sigs.unpersist(blocking = false)
      def scansSets(p: SparkPlan): Boolean =
        p.collectLeaves().exists(_.toString.contains(s"${cfg.dedupTable}_sets"))
      val shuffledSets = plan.collect {
        case s: ShuffleExchangeExec if scansSets(s) => s
      }
      assert(plan.toString.contains(s"${cfg.dedupTable}_sets"),
        s"stored sets scan expected in:\n$plan")
      assert(shuffledSets.isEmpty,
        s"stored sets must ride their doc_id bucketing into the fetch join:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
