package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{Curation, TextFunctions}
import graft.operators.{DedupIndex, NgramLM, Packing, StoredMerge}
import graft.streaming.CurationIngest

/** Decomposes the one-shot drain's ADMISSION CHAIN into per-stage
  * timings (r14 verdict item 1): `DRAIN_SCALE_r14.json` named the
  * chain — minhash signatures, LM scoring joins, corpus append — as
  * ~98.5% of the 500k-doc drain at ~11k docs/s, but not its internal
  * split. Measurement discipline learned writing this tool: pinned
  * checkpoint blocks from earlier sections degrade later ones (a ~3 GB
  * storage tail slowed the trailing A/B by ~2× in a draft run), so the
  * whole-batch A/B runs FIRST on the clean JVM with interleaved
  * repetitions (old/new/old/new, min per side), and the stage
  * isolation releases every checkpoint as soon as its consumers are
  * materialized.
  *
  * Sections, in run order:
  *  1. `e2e_drain` — one uninstrumented drain through the REAL
  *     streaming path (the denominator);
  *  2. `batch_old_shape` vs `batch_new_shape` — the r15 fix's honest
  *     A/B, same JVM, interleaved, fresh seeded state per run:
  *     the pre-r15 processBatch (declarative curateBatch + one labeled
  *     checkpoint; the MANIFEST plan re-executes the whole admission
  *     DAG, and the scrub chain re-runs once per DAG leg) vs the r15
  *     processBatch (scrub + labeled checkpointed once, every consumer
  *     reads them). Output parity is asserted.
  *  3. Stage isolation over materialized inputs (noop sink — each
  *     number is one stage's own work): `read_scrub` (the regex
  *     chain), `dedup_probe` (bloom-pruned vs the disjoint seed, so
  *     ≈ batch-side shingle→minhash signatures), `lm_score`,
  *     `label_assemble`, `pack`, `sink_writes`, `corpus_append`
  *     (recomputes signatures by design — the documented
  *     recompute-over-materialize trade), `offsets_upsert`.
  *
  * Run with `tools/drain_stages.sh [docsCount] [outJson]` on a QUIET
  * box (defaults 500000, DRAIN_STAGES_LOCAL.json); prints one JSON
  * line.
  */
object DrainStages {
  def main(args: Array[String]): Unit = {
    val docsCount = args.headOption.map(_.toInt).getOrElse(500000)
    val outJson = args.filterNot(_.startsWith("--")).lift(1)
      .getOrElse("DRAIN_STAGES_LOCAL.json")
    // `--skipAb` skips section 2 (the r15 fix's old/new A/B — already
    // proven at 500k and 2M): at 8M+ the pre-r15 shape alone would
    // dominate the wall clock, and the scale-law question (section 3's
    // per-stage growth) doesn't need it
    val skipAb = args.contains("--skipAb")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val work = java.nio.file.Files.createTempDirectory("graft_stages").toString
    val spark = graft.GraftSession.builder(graft.GraftSession.envCpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- corpus + seeded state: byte-identical recipe to DrainScale
    // (sf0.1 documents replicated with unique trailer tokens; disjoint
    // 100-doc seed corpus; LM fit on the source docs) -----------------
    val src = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val srcRows = src.count()
    val reps = math.max(1L, (docsCount + srcRows - 1) / srcRows)
    val docsDir = s"$work/docs"
    src.withColumn("r", explode(sequence(lit(0L), lit(reps - 1))))
      .select((col("doc_id") + col("r") * lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(" uq"),
          (col("doc_id") + col("r") * lit(10000000L)).cast("string")).as("text"))
      .limit(docsCount)
      .repartition(32)
      .write.mode("overwrite").parquet(docsDir)
    val nDocs = spark.read.parquet(docsDir).count()
    println(s"[stages] corpus written: $nDocs docs at $docsDir")

    val seed = (0 until 100).map(i =>
      (i.toLong, s"seedvocab$i alpha$i beta$i gamma$i delta$i epsilon$i " +
        s"zeta$i eta$i theta$i iota$i kappa$i lambda$i"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Curation.redactPii(
        Curation.normalizeText(col("text"))).as("clean"))
    NgramLM.store(NgramLM.fit(
      src.select(col("doc_id"),
        Curation.normalizeText(col("text")).as("clean")),
      "doc_id", "clean"), "stages_lm")
    val model = NgramLM.load(spark, "stages_lm")
    val cfgBase = CurationIngest.Config("stages_dedup_e2e", "stages_lm",
      s"$work/offsets_e2e", scoreCut = 0.0, budget = 256)

    def timed(label: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      val w = (System.nanoTime() - t0) / 1e9
      println(f"[stages] $label%-18s $w%7.2f s")
      w
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def releaseCheckpoints(dfs: DataFrame*): Unit =
      dfs.flatMap(_.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }).foreach(_.unpersist(blocking = false))

    // ---- warmup (codegen + reader init, discarded): a small drain
    // through the REAL streaming path, exactly like DrainScale --------
    locally {
      val warmDir = s"$work/docs_warm"
      spark.read.parquet(docsDir).limit(math.min(20000, docsCount.toInt))
        .repartition(8).write.mode("overwrite").parquet(warmDir)
      DedupIndex.saveCorpus(spark, seed, "doc_id", "clean", "stages_dedup_warm",
        k = cfgBase.k, bands = cfgBase.bands, shingleN = cfgBase.shingleN)
      val cfg = cfgBase.copy(dedupTable = "stages_dedup_warm",
        offsetsPath = s"$work/offsets_warm")
      CurationIngest.initOffsets(spark, cfg)
      val docs = spark.readStream.schema("doc_id BIGINT, text STRING")
        .parquet(warmDir).select(col("doc_id"), col("text"))
      val q = CurationIngest.start(spark, docs, cfg, s"$work/labeled_warm",
        s"$work/manifest_warm", s"$work/ckpt_warm", availableNow = true)
      q.awaitTermination()
      CurationIngest.releaseLease(q)
      println("[stages] warmup drain done (discarded)")
    }

    // ---- 1. the END-TO-END denominator: one real drain --------------
    DedupIndex.saveCorpus(spark, seed, "doc_id", "clean", "stages_dedup_e2e",
      k = cfgBase.k, bands = cfgBase.bands, shingleN = cfgBase.shingleN)
    CurationIngest.initOffsets(spark, cfgBase)
    val e2e = timed("e2e_drain") {
      val docs = spark.readStream.schema("doc_id BIGINT, text STRING")
        .parquet(docsDir).select(col("doc_id"), col("text"))
      val q = CurationIngest.start(spark, docs, cfgBase, s"$work/labeled_e2e",
        s"$work/manifest_e2e", s"$work/ckpt_e2e", availableNow = true)
      q.awaitTermination()
      CurationIngest.releaseLease(q)
    }

    val raw = spark.read.parquet(docsDir).select(col("doc_id"), col("text"))

    // ---- 2. whole-batch A/B: pre-r15 vs r15 processBatch shape ------
    var sideN = 0
    def freshSide(tag: String): CurationIngest.Config = {
      DedupIndex.saveCorpus(spark, seed, "doc_id", "clean", s"stages_ab_$tag",
        k = cfgBase.k, bands = cfgBase.bands, shingleN = cfgBase.shingleN)
      val c = cfgBase.copy(dedupTable = s"stages_ab_$tag",
        offsetsPath = s"$work/offsets_ab_$tag")
      CurationIngest.initOffsets(spark, c)
      c
    }
    def oldShape(): Double = {
      sideN += 1
      val cfg = freshSide(s"old$sideN")
      timed(s"batch_old_shape") {
        val (labeled0, manifest0) = CurationIngest.curateBatchImpl(
          spark, raw, cfg, 0L, pinned = None)
        val l = labeled0.localCheckpoint()
        l.write.mode("overwrite").parquet(s"$work/labeled_old/batch_id=0")
        manifest0.write.mode("overwrite").parquet(s"$work/manifest_old/batch_id=0")
        CurationIngest.commitBatch(spark, l, 0L, cfg)
        releaseCheckpoints(l, labeled0, manifest0)
      }
    }
    def newShape(): Double = {
      sideN += 1
      val cfg = freshSide(s"new$sideN")
      timed(s"batch_new_shape") {
        CurationIngest.processBatch(spark, raw, 0L, cfg,
          s"$work/labeled_new", s"$work/manifest_new")
      }
    }
    // interleaved old/new/old/new: position effects (page cache, JIT
    // tail) cancel; min per side
    val (tOldShape, tNewShape, parity) =
      if (skipAb) { println("[stages] A/B skipped (--skipAb)"); (-1.0, -1.0, true) }
      else {
        val oldTimes = scala.collection.mutable.ArrayBuffer[Double]()
        val newTimes = scala.collection.mutable.ArrayBuffer[Double]()
        oldTimes += oldShape(); newTimes += newShape()
        oldTimes += oldShape(); newTimes += newShape()
        // two-sided multiset equality: a one-way exceptAll only proves
        // containment — extra rows on the other side would hide
        def sameRows(aDir: String, bDir: String, cols: Seq[String]): Boolean = {
          val a = spark.read.parquet(aDir).select(cols.map(col): _*)
          val b = spark.read.parquet(bDir).select(cols.map(col): _*)
          a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
        }
        val manifestCols = spark.read.parquet(s"$work/manifest_old").columns.toSeq
        val p =
          sameRows(s"$work/labeled_old", s"$work/labeled_new",
            Seq("doc_id", "bucket")) &&
          sameRows(s"$work/manifest_old", s"$work/manifest_new", manifestCols)
        println(s"[stages] old/new parity: $p")
        (oldTimes.min, newTimes.min, p)
      }

    // ---- 3. stage isolation over materialized inputs ----------------
    def cleanedPlan(in: DataFrame): DataFrame = in
      .select(col("doc_id").cast("long").as("doc_id"),
        Curation.redactPii(Curation.normalizeText(col("text"))).as("clean"))
      .withColumn("n_tok", TextFunctions.tokenCount(col("clean")).cast("long"))
    val tScrub = timed("read_scrub")(noop(cleanedPlan(raw)))
    val cleaned = cleanedPlan(raw).localCheckpoint()

    // probe a FRESH seed-only corpus, NOT stages_dedup_e2e: the e2e
    // drain above already appended the whole corpus into that table and
    // its bloom, so probing the same docs there passes EVERY bucket
    // through the prune and broadcasts a batch-scaled frame — a state
    // the documented measurement ("bloom-pruned vs the disjoint seed")
    // never intended, and a maxResultSize abort at 16M (r17 finding;
    // the 2M-8M r16 numbers carried that hidden broadcast cost)
    DedupIndex.saveCorpus(spark, seed, "doc_id", "clean", "stages_dedup_iso",
      k = cfgBase.k, bands = cfgBase.bands, shingleN = cfgBase.shingleN)
    val tProbe = timed("dedup_probe") {
      noop(DedupIndex.dedupAgainstStored(spark, "stages_dedup_iso", cleaned,
        "doc_id", "clean", cfgBase.threshold, cfgBase.k, cfgBase.bands,
        cfgBase.shingleN, committedBatch = -1L))
    }
    val tScore = timed("lm_score") {
      noop(NgramLM.likelihoodMass(cleaned, "doc_id", "clean", model))
    }
    // the r15 scale-law question: the leg grew mildly superlinearly
    // 500k→2M. Hypothesis: the per-doc gram aggregation's shuffle (the
    // leg's ONLY exchange, ~25 gram rows/doc) outgrows 32 partitions
    // and starts sort-spilling. Re-measure with a wider initial
    // partition count (AQE coalesces it back when small) — if this one
    // scales linearly where lm_score doesn't, the cause is named and
    // the fix is the standard knob, not code.
    val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
    val tScoreWide = timed("lm_score_256p") {
      spark.conf.set("spark.sql.shuffle.partitions", "256")
      try noop(NgramLM.likelihoodMass(cleaned, "doc_id", "clean", model))
      finally spark.conf.set("spark.sql.shuffle.partitions", prevSp)
    }
    // materialize the probe/score outputs so label_assemble times only
    // its own joins (the dup set is EMPTY here — the disjoint seed —
    // exactly like the e2e drain's)
    val dupIds = DedupIndex.dedupAgainstStored(spark, "stages_dedup_iso",
        cleaned, "doc_id", "clean", cfgBase.threshold, cfgBase.k,
        cfgBase.bands, cfgBase.shingleN, committedBatch = -1L)
      .select(col("new_id").as("doc_id")).distinct()
      .withColumn("__dup", lit(true)).localCheckpoint()
    val scores = NgramLM.likelihoodMass(cleaned, "doc_id", "clean", model)
      .select(col("doc_id"), col("score")).localCheckpoint()
    def labelAssemble(in: DataFrame): DataFrame = in
      .join(dupIds, Seq("doc_id"), "left")
      .join(scores, Seq("doc_id"), "left")
      .withColumn("score", coalesce(col("score"), lit(0.0)))
      .withColumn("bucket",
        when(col("__dup"), lit("drop:stored_dup"))
          .when(col("score") < cfgBase.scoreCut, lit("drop:quality"))
          .otherwise(Curation.splitAssign(col("doc_id"))))
      .select(col("doc_id"), col("clean"), col("n_tok"), col("score"),
        col("bucket"))
    val tLabel = timed("label_assemble")(noop(labelAssemble(cleaned)))
    val labeled = labelAssemble(cleaned).localCheckpoint()
    val admitted = labeled.filter(!col("bucket").startsWith("drop:"))
      .localCheckpoint()
    // everything downstream reads `admitted`/`labeled`: drop the
    // upstream pins NOW so the trailing stages run unpressured
    releaseCheckpoints(cleaned, dupIds, scores)

    val base = Seq(("train", 0L), ("val", 0L), ("test", 0L))
      .toDF("bucket", "base_tok")
    val tPack = timed("pack") {
      noop(Packing.packManifestFrom(
        admitted.select(col("bucket"), col("doc_id"), col("n_tok")),
        groupCols = Seq("bucket"), orderCol = "doc_id", tokenCol = "n_tok",
        budget = cfgBase.budget, baseOffsets = base, slices = 1))
    }
    val manifest = Packing.packManifestFrom(
      admitted.select(col("bucket"), col("doc_id"), col("n_tok")),
      groupCols = Seq("bucket"), orderCol = "doc_id", tokenCol = "n_tok",
      budget = cfgBase.budget, baseOffsets = base, slices = 1)
      .localCheckpoint()
    val tSinks = timed("sink_writes") {
      labeled.write.mode("overwrite").parquet(s"$work/labeled_iso/batch_id=0")
      manifest.write.mode("overwrite").parquet(s"$work/manifest_iso/batch_id=0")
    }
    DedupIndex.saveCorpus(spark, seed, "doc_id", "clean", "stages_dedup_app",
      k = cfgBase.k, bands = cfgBase.bands, shingleN = cfgBase.shingleN)
    val tAppend = timed("corpus_append") {
      DedupIndex.appendCorpus(spark, admitted.select(col("doc_id"), col("clean")),
        "doc_id", "clean", "stages_dedup_app", cfgBase.k, cfgBase.bands,
        cfgBase.shingleN, setBuckets = 32, batchId = 0L, owner = "stages")
    }
    StoredMerge.writeBuckets(
      Seq("train", "val", "test").map(b => (b, 0L, -1L))
        .toDF("bucket", "base_tok", "last_batch"),
      s"$work/offsets_iso", Seq("bucket"), cfgBase.offsetBuckets)
    val tOffsets = timed("offsets_upsert") {
      val sums = admitted.groupBy(col("bucket"))
        .agg(sum(col("n_tok")).cast("long").as("__add"))
      val off = StoredMerge.readBuckets(spark, s"$work/offsets_iso")
        .drop("__bucket")
      val updated = off.join(sums, Seq("bucket"), "left")
        .select(col("bucket"),
          (col("base_tok") + coalesce(col("__add"), lit(0L))).as("base_tok"),
          lit(0L).as("last_batch"))
      StoredMerge.upsertBuckets(spark, s"$work/offsets_iso", updated,
        Seq("bucket"), cfgBase.offsetBuckets, owner = "stages")
    }
    releaseCheckpoints(labeled, admitted, manifest)

    val stages = Seq(
      "read_scrub" -> tScrub, "dedup_probe" -> tProbe, "lm_score" -> tScore,
      "label_assemble" -> tLabel, "pack" -> tPack, "sink_writes" -> tSinks,
      "corpus_append" -> tAppend, "offsets_upsert" -> tOffsets)
    val stagesSum = stages.map(_._2).sum
    val json = s"""{"docs":$nDocs,"e2e_sec":${f"$e2e%.1f"},""" +
      s""""batch_old_shape_sec":${f"$tOldShape%.1f"},""" +
      s""""batch_new_shape_sec":${f"$tNewShape%.1f"},""" +
      s""""old_new_parity":$parity,""" +
      s""""stages_sec":{${stages.map { case (k, v) =>
        s""""$k":${f"$v%.2f"}""" }.mkString(",")}},""" +
      s""""lm_score_256p_sec":${f"$tScoreWide%.2f"},""" +
      s""""stages_sum_sec":${f"$stagesSum%.1f"},""" +
      s""""sf_dir":"$sfDir"}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
    spark.stop()
    if (!parity) sys.exit(1)
  }
}
