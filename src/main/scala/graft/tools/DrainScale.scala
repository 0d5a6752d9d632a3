package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{DedupIndex, NgramLM, Packing}
import graft.streaming.CurationIngest

/** Measures the one-shot drain's pack-window slicing instead of
  * asserting it (r13 verdict item 2): the slices=8 pack leg is
  * certified row-identical, but its parallelism benefit was so far
  * only architectural. This tool builds a ~500k-doc corpus (sf0.1's
  * documents replicated with unique trailer tokens, so nothing dups
  * against the seed corpus and the pack stage sees the full set),
  * drains it through `OpsCli curationIngest --once`'s exact code path
  * (Trigger.AvailableNow, ONE micro-batch) at `packSlices = 1` and
  * `= 8`, and also times the pack stage IN ISOLATION over the same
  * admitted frame — the end-to-end wall answers "does slicing move the
  * drain", the isolated A/B answers "does slicing move the pack
  * stage", and together they name the bottleneck honestly if the
  * composed number doesn't move.
  *
  * Run with `tools/drain_scale.sh [docsCount] [outJson]` on a QUIET box
  * (defaults 500000, DRAIN_SCALE_LOCAL.json); prints one JSON line.
  * Parity is re-asserted at this scale: both drains must produce
  * identical labeled-bucket counts and per-(bucket, seq) manifest
  * rollups.
  */
object DrainScale {
  def main(args: Array[String]): Unit = {
    // docsCount = 0 skips the corpus drains and runs ONLY the
    // synthetic pack-stage crossover sweep (see below)
    val docsCount = args.headOption.map(_.toInt).getOrElse(500000)
    val outJson = args.lift(1).getOrElse("DRAIN_SCALE_LOCAL.json")
    // run order is a measurement knob (verify order-independence by
    // reversing); the committed capture uses the default
    val sliceOrder = args.lift(2).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 8))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val work = java.nio.file.Files.createTempDirectory("graft_drain").toString
    val spark = graft.GraftSession.builder(graft.GraftSession.envCpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // ---- pack-stage CROSSOVER sweep (synthetic, always runs): the
    // 500k-doc drain shows the pack window is not the bottleneck at
    // ~170k rows/bucket — this sweep measures WHERE slicing starts to
    // win, over pure (bucket, doc_id, n_tok) rows with no admission
    // chain attached (the pack stage's own scaling law). Expect the
    // crossover where one per-bucket sort task becomes the straggler.
    def crossover(): Seq[(Long, Seq[(Int, Double)])] = {
      val base3 = Seq(("b0", 0L), ("b1", 0L), ("b2", 0L))
        .toDF("bucket", "base_tok")
      Seq(500000L, 2000000L, 10000000L).map { perBucket =>
        val df = spark.range(perBucket * 3)
          .select(concat(lit("b"), (col("id") % 3).cast("string")).as("bucket"),
            col("id").as("doc_id"),
            (col("id") % 200 + lit(50)).as("n_tok"))
          .localCheckpoint() // materialized: times ONLY the pack
        def t(slices: Int): Double = {
          val t0 = System.nanoTime()
          Packing.packManifestFrom(df, groupCols = Seq("bucket"),
              orderCol = "doc_id", tokenCol = "n_tok", budget = 2048,
              baseOffsets = base3, slices = slices)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        t(1) // warm
        val times = Seq(1, 8).map(s => s -> Seq(t(s), t(s)).min)
        times.foreach { case (s, w) =>
          println(f"[drain] crossover ${perBucket}%d rows/bucket slices=$s%d: $w%.2f s") }
        df.queryExecution.analyzed.collect {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
        }.foreach(_.unpersist(blocking = false))
        perBucket -> times
      }
    }
    def crossJson(c: Seq[(Long, Seq[(Int, Double)])]): String =
      c.map { case (n, ts) =>
        s""""per_bucket_$n":{${ts.map { case (s, w) =>
          s""""slices$s":${f"$w%.2f"}""" }.mkString(",")}}"""
      }.mkString(",")

    if (docsCount == 0) {
      val c = crossover()
      val json = s"""{"pack_crossover_sec":{${crossJson(c)}}}"""
      println(json)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
      spark.stop()
      return
    }

    // ---- the drain corpus: sf0.1 documents replicated with shifted
    // ids and a unique trailer token per replica (replicas never probe
    // each other — intra-batch survivorship is the batch q204 job's
    // semantic, not the admission stream's)
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
    println(s"[drain] corpus written: $nDocs docs at $docsDir")

    // ---- seed stored state: a small DISJOINT day-0 corpus (the probe
    // stays bloom-pruned — the measurement targets the stages the
    // drain actually funnels through, scoring and packing), an LM fit
    // on the source docs (in-domain scores), and an admit-all cut
    val seed = (0 until 100).map(i =>
      (i.toLong, s"seedvocab$i alpha$i beta$i gamma$i delta$i epsilon$i " +
        s"zeta$i eta$i theta$i iota$i kappa$i lambda$i"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.Curation.redactPii(
        graft.functions.Curation.normalizeText(col("text"))).as("clean"))
    NgramLM.store(NgramLM.fit(
      src.select(col("doc_id"),
        graft.functions.Curation.normalizeText(col("text")).as("clean")),
      "doc_id", "clean"), "drain_lm")

    def rollup(df: DataFrame): Map[(String, Long), (Long, Long, Long, Long)] =
      df.groupBy(col("bucket"), col("seq_id"))
        .agg(sum(col("n_docs")).as("nd"), sum(col("n_tokens")).as("nt"),
          min(col("first_doc")).as("fd"), max(col("last_doc")).as("ld"))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap

    // ---- warmup drain (discarded): the first drain in a JVM absorbs
    // codegen compilation and reader init — without it the slices=1
    // run (measured first) reads artificially slow
    val warmDir = s"$work/docs_warm"
    spark.read.parquet(docsDir).limit(math.min(20000, docsCount))
      .repartition(8).write.mode("overwrite").parquet(warmDir)
    locally {
      DedupIndex.saveCorpus(spark, seed, "doc_id", "clean", "drain_dedup_warm")
      val cfg = CurationIngest.Config("drain_dedup_warm", "drain_lm",
        s"$work/offsets_warm", scoreCut = 0.0, budget = 256)
      CurationIngest.initOffsets(spark, cfg)
      val docs = spark.readStream.schema("doc_id BIGINT, text STRING")
        .parquet(warmDir).select(col("doc_id"), col("text"))
      val q = CurationIngest.start(spark, docs, cfg, s"$work/labeled_warm",
        s"$work/manifest_warm", s"$work/ckpt_warm", availableNow = true)
      q.awaitTermination()
      CurationIngest.releaseLease(q)
      println("[drain] warmup drain done (discarded)")
    }

    // ---- the two end-to-end drains ----------------------------------
    val results = sliceOrder.map { slices =>
      val tag = s"s$slices"
      val dedup = s"drain_dedup_$tag"
      DedupIndex.saveCorpus(spark, seed, "doc_id", "clean", dedup)
      val cfg = CurationIngest.Config(
        dedupTable = dedup, lmTable = "drain_lm",
        offsetsPath = s"$work/offsets_$tag", scoreCut = 0.0,
        budget = 256, packSlices = slices)
      CurationIngest.initOffsets(spark, cfg)
      val docs = spark.readStream.schema("doc_id BIGINT, text STRING")
        .parquet(docsDir).select(col("doc_id"), col("text"))
      val t0 = System.nanoTime()
      val q = CurationIngest.start(spark, docs, cfg,
        s"$work/labeled_$tag", s"$work/manifest_$tag", s"$work/ckpt_$tag",
        availableNow = true)
      q.awaitTermination()
      CurationIngest.releaseLease(q)
      val wall = (System.nanoTime() - t0) / 1e9
      val labeled = spark.read.parquet(s"$work/labeled_$tag")
      val admitted = labeled.filter(!col("bucket").startsWith("drop:")).count()
      val roll = rollup(spark.read.parquet(s"$work/manifest_$tag"))
      println(f"[drain] packSlices=$slices%d end-to-end: $wall%.1f s, " +
        s"admitted $admitted of $nDocs")
      (slices, wall, admitted, roll)
    }
    val parity = results(0)._3 == results(1)._3 && results(0)._4 == results(1)._4

    // ---- the pack stage in ISOLATION over the same admitted frame ---
    val admittedFrame = spark.read.parquet(s"$work/labeled_s1")
      .filter(!col("bucket").startsWith("drop:"))
      .select(col("bucket"), col("doc_id"), col("n_tok"))
      .localCheckpoint() // materialized: the A/B times ONLY the pack
    val base = Seq(("train", 0L), ("val", 0L), ("test", 0L))
      .toDF("bucket", "base_tok")
    def timePack(slices: Int): Double = {
      val t0 = System.nanoTime()
      Packing.packManifestFrom(admittedFrame, groupCols = Seq("bucket"),
          orderCol = "doc_id", tokenCol = "n_tok", budget = 256,
          baseOffsets = base, slices = slices)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    timePack(1) // warm (codegen, checkpoint block reads)
    val packTimes = Seq(1, 8).map(s => s -> {
      val runs = (1 to 3).map(_ => timePack(s))
      runs.min
    })
    packTimes.foreach { case (s, t) =>
      println(f"[drain] isolated pack slices=$s%d: $t%.2f s (best of 3)") }

    val cross = crossover()
    val e2e = results.map { case (s, w, _, _) =>
      s""""slices$s":${f"$w%.1f"}""" }.mkString(",")
    val json = s"""{"docs":$nDocs,"admitted":${results(0)._3},""" +
      s""""e2e_sec":{$e2e},""" +
      s""""pack_stage_sec":{"slices1":${f"${packTimes(0)._2}%.2f"},""" +
      s""""slices8":${f"${packTimes(1)._2}%.2f"}},""" +
      s""""pack_crossover_sec":{${crossJson(cross)}},""" +
      s""""parity":$parity,"sf_dir":"$sfDir"}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
    spark.stop()
    if (!parity) sys.exit(1)
  }
}
