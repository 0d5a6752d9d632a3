package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{DedupIndex, NgramLM, StoredMerge, WriterLease}
import graft.streaming.CurationIngest

/** Long-horizon soak of the curation-ingest streaming job (r13 verdict
  * item: "the standing proof the crash + concurrency disciplines
  * compose over a long horizon, not just per-window"). Drives the REAL
  * streaming job — file source, one checkpoint — through `nBatches`
  * micro-batches (one source file per trigger), kills the query
  * mid-soak, restarts it on the same checkpoint, and asserts:
  *
  *  - FLAT STORAGE: the pinned-block count never grows with batch
  *    count (each batch's materialized frames are released by
  *    `processBatch`; a leak accumulates one localCheckpoint per
  *    trigger and this loop makes 200 of them);
  *  - FLAT LEASE STATE: the job-lifetime writer lease is held while
  *    the query runs, FREE between the two phases and at the end
  *    (depth-balanced: 200 nested per-commit re-entries net to zero);
  *  - MONOTONIC OFFSETS: the stored pack offsets' high-water equals
  *    the last processed batch at every phase boundary, and the final
  *    state converges to exactly `nBatches` committed batches with one
  *    labeled partition per batch;
  *  - RESTART CONVERGENCE: the mid-soak kill (query.stop() can land
  *    inside a commit) replays per the documented contract and the
  *    drained output is complete.
  *
  * Run with `tools/soak_ingest.sh [nBatches] [outJson]` (defaults 200,
  * SOAK_LOCAL.json); prints one JSON line. This is a tools/ run, not a
  * spec: 200 full pipeline micro-batches cost minutes by design — the
  * per-window disciplines are spec-covered in CurationIngestSpec.
  */
object SoakIngest {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(200)
    val outJson = args.lift(1).getOrElse("SOAK_LOCAL.json")
    val t0 = System.nanoTime()
    val work = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val spark = graft.GraftSession.builder(graft.GraftSession.envCpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- day-0 stored state (the CurationIngestSpec recipe) ---------
    val vocab = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "a steady stream of fresh water flows past the old stone mill",
      "the miller grinds golden wheat into fine flour every single morning",
      "fresh bread from the village oven smells of warm golden wheat",
      "the lazy dog sleeps beside the warm oven while the fox watches",
      "every morning the village wakes to the steady sound of the mill",
      "stone walls keep the flour dry through the long wet winter months",
      "the river rises in spring and turns the great wheel of the mill")
    val day0 = (vocab ++ vocab).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.Curation.redactPii(
        graft.functions.Curation.normalizeText(col("text"))).as("clean"))
    DedupIndex.saveCorpus(spark, day0, "doc_id", "clean", "soak_dedup")
    NgramLM.store(NgramLM.fit(day0, "doc_id", "clean"), "soak_lm")
    val model = NgramLM.load(spark, "soak_lm")
    // the ONLINE accretion model (r15; r16: per-batch delta appends +
    // compaction every lmCompactEvery batches): a separate store the
    // stream accretes every batch's admissions into — the soak proves
    // the tag replay guard holds across the kill/restart boundary, the
    // tag tables stay bounded over 200 batches, and ~12 in-stream
    // compactions land the exact refit (small buckets: the staged
    // rewrite runs only at the cadence now)
    NgramLM.store(NgramLM.fit(day0, "doc_id", "clean"), "soak_lm_acc",
      buckets = 4)

    // ---- one source file per micro-batch: every batch carries novel
    // in-domain docs (admit), one junk doc (drop:quality), and one
    // day-0 replay (drop:stored_dup) so every stage fires every batch.
    // Novel docs are SHINGLE-UNIQUE by construction: a rotating 13-word
    // in-domain window plus 5 per-doc tokens at spread positions — any
    // two docs share at most a couple of intact base shingles (jaccard
    // ≲ 0.15), so admissions stay flat across all 200 batches instead
    // of decaying as the corpus accretes
    val allWords = vocab.flatMap(_.split(" ")).toArray
    def novelDoc(i: Long): String = {
      val start = ((i * 7) % allWords.length).toInt
      val out = scala.collection.mutable.ArrayBuffer.tabulate(13)(k =>
        allWords((start + k) % allWords.length))
      (0 until 5).foreach { u =>
        out.insert(math.min(out.size, ((i + u * 3) % 11 + 1 + u).toInt),
          s"zq${i}x$u")
      }
      out.mkString(" ")
    }
    // the quality cut, SELF-CALIBRATED between the junk floor and the
    // weakest generated novel doc (unique tokens after high-frequency
    // prefixes score below the naive add-one floor, so a hand-picked
    // cut either drops good docs or admits junk): score every novel
    // doc once up front — they are deterministic
    val allNovel = (0 until nBatches).flatMap { b =>
      val base = 1000L + b * 10L
      (0 until 3).map(j => (base + j, novelDoc(base + j)))
    }
    val junkText = "zxqv blorp wug snarf glip norb quux zelch vrump klaatu"
    val calib = NgramLM.likelihoodMass(
      (allNovel :+ (1L, junkText)).toDF("doc_id", "text"),
      "doc_id", "text", model)
      .select(col("doc_id"), col("score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val junkScore = calib(1L)
    val minNovel = (calib - 1L).values.min
    require(minNovel > 1.1 * junkScore,
      s"LM gate must separate: minNovel=$minNovel junk=$junkScore")
    println(f"[soak] LM cut calibration: junk=$junkScore%.4f minNovel=$minNovel%.4f")
    val cfg = CurationIngest.Config(
      dedupTable = "soak_dedup", lmTable = "soak_lm",
      offsetsPath = s"$work/offsets", scoreCut = (junkScore + minNovel) / 2,
      budget = 64,
      lmAccreteTable = Some("soak_lm_acc"), lmAccreteBuckets = 4)
    CurationIngest.initOffsets(spark, cfg)

    println(s"[soak] writing $nBatches source files...")
    val docsDir = s"$work/docs"
    (0 until nBatches).foreach { b =>
      val base = 1000L + b * 10L
      val docs = (0 until 3).map(j => (base + j, novelDoc(base + j))) ++ Seq(
        (base + 8, "zxqv blorp wug snarf glip norb quux zelch vrump klaatu"),
        (base + 9, vocab(b % 8) + s" contact user$b@example.com"))
      docs.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(f"$docsDir/f$b%04d")
    }

    val labeledDir = s"$work/labeled"
    val manifestDir = s"$work/manifest"
    val ckpt = s"$work/ckpt"
    def stream(): DataFrame = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(docsDir)
      .select(col("doc_id"), col("text"))

    def offsetsHighWater(): (Long, Long) = {
      val r = StoredMerge.readBuckets(spark, cfg.offsetsPath)
        .agg(min(col("last_batch")), max(col("last_batch"))).head
      (r.getLong(0), r.getLong(1))
    }
    def pinned(): Int = spark.sparkContext.getPersistentRDDs.size
    var pinnedMax = 0
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    def check(ok: Boolean, msg: => String): Unit =
      if (!ok) { failures += msg; System.err.println(s"[soak] FAIL: $msg") }
    // stop() can return while the interrupted micro-batch thread is
    // still unwinding its commit lease, and the job release is an
    // async listener — poll it free (the CurationIngestSpec rule)
    def leaseFreed(): Boolean = {
      val deadline = System.currentTimeMillis() + 15000
      while (WriterLease.holder(spark, cfg.offsetsPath).isDefined &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
      WriterLease.holder(spark, cfg.offsetsPath).isEmpty
    }

    // ---- phase 1: run to ~half, then KILL --------------------------
    val killAt = nBatches / 2
    println(s"[soak] phase 1: run to batch ~$killAt, then kill")
    val q1 = CurationIngest.start(spark, stream(), cfg,
      labeledDir, manifestDir, ckpt, trigger = "10 milliseconds")
    val leaseOwner = CurationIngest.jobWriterId(spark, ckpt)
    while (q1.isActive &&
           Option(q1.lastProgress).forall(_.batchId < killAt)) {
      Thread.sleep(100)
      pinnedMax = pinnedMax.max(pinned())
    }
    check(WriterLease.holder(spark, cfg.offsetsPath).exists(_.owner == leaseOwner),
      "job-lifetime lease must be held while the query runs")
    q1.stop() // the mid-soak kill: can land inside a commit
    CurationIngest.releaseLease(q1)
    check(leaseFreed(),
      "lease must be FREE after stop + release (depth balanced)")
    val (mn1, mx1) = offsetsHighWater()
    println(s"[soak] phase 1 done: offsets min=$mn1 max=$mx1 pinnedMax=$pinnedMax")
    check(mx1 >= 1, "phase 1 must have committed at least a couple of batches")

    // ---- phase 2: restart on the SAME checkpoint, drain the rest ----
    println("[soak] phase 2: restart on the same checkpoint, drain all")
    val pinnedBefore2 = pinned()
    val q2 = CurationIngest.start(spark, stream(), cfg,
      labeledDir, manifestDir, ckpt, availableNow = true)
    while (q2.isActive) {
      Thread.sleep(200)
      pinnedMax = pinnedMax.max(pinned())
    }
    q2.awaitTermination()
    CurationIngest.releaseLease(q2)

    // ---- convergence ------------------------------------------------
    val (mnF, mxF) = offsetsHighWater()
    check(mnF == mxF, s"final offsets must be fully swapped: min=$mnF max=$mxF")
    check(mxF == nBatches - 1,
      s"final high-water must be ${nBatches - 1}, got $mxF")
    val labeledBatches = spark.read.parquet(labeledDir)
      .select(col("batch_id")).distinct().count()
    check(labeledBatches == nBatches,
      s"every batch must have a labeled partition: $labeledBatches/$nBatches")
    val labeled = spark.read.parquet(labeledDir)
    val admitted = labeled.filter(!col("bucket").startsWith("drop:")).count()
    val total = labeled.count()
    check(total == nBatches * 5L, s"labeled rows: $total != ${nBatches * 5}")
    // per-batch composition: 3 admit-ish (novel; a few may near-dup a
    // prior batch's admission by construction), 1 junk, 1 stored replay
    check(admitted >= nBatches * 2L,
      s"most novel docs should admit: $admitted of $total")
    // packed token conservation: manifest totals equal admitted n_tok
    val packTok = spark.read.parquet(manifestDir)
      .agg(coalesce(sum(col("n_tokens")), lit(0L))).head.getLong(0)
    val admTok = labeled.filter(!col("bucket").startsWith("drop:"))
      .agg(coalesce(sum(col("n_tok")), lit(0L))).head.getLong(0)
    check(packTok == admTok,
      s"packed tokens must equal admitted tokens: $packTok != $admTok")
    // online LM accretion convergence (r15; r16 delta shape): 200
    // per-batch DELTA accretions — across the kill/restart replay
    // boundary AND ~12 in-stream compactions at the default cadence —
    // must land on exactly the one-shot refit over day-0 ∪ every
    // admitted clean (the composed base+pending read), and both tag
    // tables must stay bounded: pending deltas < lmCompactEvery by
    // construction, base tags ≤ retention + one cadence worth (each
    // compaction keeps trim(base, retention) plus its own folded tags)
    val admittedClean = labeled.filter(!col("bucket").startsWith("drop:"))
      .select(col("doc_id"), col("clean"))
    def bigramMap(df: DataFrame): Map[Long, Long] = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val accGot = bigramMap(NgramLM.load(spark, "soak_lm_acc").bigrams)
    val accWant = bigramMap(
      NgramLM.fit(day0.union(admittedClean), "doc_id", "clean").bigrams)
    check(accGot == accWant,
      s"accreted LM must equal the one-shot refit: ${accGot.size} grams vs " +
        s"${accWant.size} (first diff: ${(accWant.toSet -- accGot.toSet).take(2)})")
    val accTags = spark.table("soak_lm_acc_tags").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    check(accTags.length <= cfg.tagRetention + cfg.lmCompactEvery,
      s"base tag set must stay bounded at retention + cadence: " +
        s"${accTags.length} > ${cfg.tagRetention + cfg.lmCompactEvery}")
    val pendingDeltas = NgramLM.pendingDeltaCount(spark, "soak_lm_acc")
    check(pendingDeltas < cfg.lmCompactEvery,
      s"pending deltas must stay under the cadence: $pendingDeltas")
    // tags are writer-scoped (ci-<writerId>-<batchId>); the stream
    // derives its writerId from the checkpoint dir. The latest batch's
    // tag is committed in the delta table (pending) or the base (just
    // compacted) — either way it must be recognizable for replay.
    val soakWriter = CurationIngest.jobWriterId(spark, ckpt)
    val deltaTags =
      if (spark.catalog.tableExists("soak_lm_acc_delta_tags"))
        spark.table("soak_lm_acc_delta_tags").collect().map(_.getString(0)).toSet
      else Set.empty[String]
    check((accTags.map(_._1).toSet ++ deltaTags)
        .contains(s"ci-$soakWriter-${nBatches - 1}"),
      s"latest batch's tag must be retained: base=${accTags.mkString(",")} " +
        s"delta=${deltaTags.mkString(",")}")
    check(leaseFreed(), "lease must be free at the end")
    val pinnedAfter = pinned()
    check(pinnedAfter <= pinnedBefore2 + 2,
      s"storage must stay flat: $pinnedAfter pinned blocks at end " +
        s"(baseline $pinnedBefore2)")
    // flatness, not just the endpoint: with per-batch release the
    // in-flight ceiling is a few frames, never O(batches)
    check(pinnedMax <= 16,
      s"pinned ceiling grew with batch count: max=$pinnedMax")

    val wall = (System.nanoTime() - t0) / 1e9
    val json = s"""{"batches":$nBatches,"kill_at_batch":${mx1},""" +
      s""""labeled_batches":$labeledBatches,"labeled_rows":$total,""" +
      s""""admitted":$admitted,"packed_tokens":$packTok,""" +
      s""""accreted_lm_exact":${accGot == accWant},""" +
      s""""accreted_tags":${accTags.length},"tag_retention":${cfg.tagRetention},""" +
      s""""pending_deltas":$pendingDeltas,"compact_every":${cfg.lmCompactEvery},""" +
      s""""pinned_max_during":$pinnedMax,"pinned_after":$pinnedAfter,""" +
      s""""offsets_final":$mxF,"failures":[${failures.map(f =>
        "\"" + f.replace("\"", "'") + "\"").mkString(",")}],""" +
      s""""wall_sec":${math.round(wall * 10) / 10.0}}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
