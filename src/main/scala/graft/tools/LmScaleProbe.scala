package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Curation
import graft.operators.NgramLM

/** Fixed-model scale probe for the LM-scoring leg (r16, the drain
  * scale-law follow-up): [[DrainStages]] scores each batch against a
  * model fit over the CONSTANT sf source table (931 grams at sf0.1 —
  * the broadcast is trivial), yet its isolated `lm_score` per-doc cost
  * still grew ~30% from 2M to 8M docs and the 256-partition A/B HURT
  * at 8M only — so the growth cannot be the scoring plan's own shape
  * (fixed tiny model, linear gram volume). The remaining suspect is
  * the harness's batch-sized `cleaned.localCheckpoint()`: the pinned
  * text blocks occupy unified-manager storage that the gram explode's
  * execution side would otherwise use.
  *
  * This tool scores ~2M/4M/8M batches against ONE fixed model, each
  * batch twice over IDENTICAL pre-scrubbed parquet input (the scrub is
  * materialized to disk up front, partitioned by a bucket column so
  * each point is a pruned parallel scan — no limit(), no scrub
  * recompute inside the timers): `nopin` (score straight off the
  * scan — nothing batch-sized resident in memory) and `pinned` (the
  * drain harness's shape: localCheckpoint the batch, score the
  * checkpoint). Flat nopin + growing pinned = the drain's residual
  * lm_score growth is storage-pressure coupling from the pinned
  * batch, not the scoring leg; both flat = the drain numbers carried
  * host noise; both growing = the leg itself is superlinear and needs
  * real work.
  *
  * Run via `tools/lm_scale_probe.sh [maxDocs] [outJson]` on a quiet
  * box; prints one JSON line.
  */
object LmScaleProbe {
  def main(args: Array[String]): Unit = {
    val maxDocs = args.headOption.map(_.toInt).getOrElse(8000000)
    val outJson = args.lift(1).getOrElse("LM_SCALE_LOCAL.json")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val work = java.nio.file.Files.createTempDirectory("graft_lmscale").toString
    val spark = graft.GraftSession.builder(graft.GraftSession.envCpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // corpus recipe byte-identical to DrainStages (sf docs replicated
    // with unique trailer tokens); model fit over the SOURCE table —
    // constant across batch sizes, like the drain's. The scrubbed
    // batch text is materialized ONCE, bucketed by doc_id mod 4, so
    // every point below reads a pruned, 32-way-parallel scan of
    // EXACTLY its docs.
    val src = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val srcRows = src.count()
    val reps = math.max(1L, (maxDocs + srcRows - 1) / srcRows)
    val scrubDir = s"$work/scrubbed"
    src.withColumn("r", explode(sequence(lit(0L), lit(reps - 1))))
      .select((col("doc_id") + col("r") * lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(" uq"),
          (col("doc_id") + col("r") * lit(10000000L)).cast("string")).as("text"))
      .limit(maxDocs)
      .repartition(32)
      .select(col("doc_id"),
        Curation.redactPii(Curation.normalizeText(col("text"))).as("clean"),
        pmod(col("doc_id"), lit(4)).cast("int").as("b"))
      .write.partitionBy("b").mode("overwrite").parquet(scrubDir)
    NgramLM.store(NgramLM.fit(
      src.select(col("doc_id"), Curation.normalizeText(col("text")).as("clean")),
      "doc_id", "clean"), "lmscale_model")
    val model = NgramLM.load(spark, "lmscale_model")
    val modelGrams = model.bigrams.count()
    println(s"[lmscale] fixed model: $modelGrams grams, V=${model.vocabSize}")

    def timed(label: String)(body: => Unit): Double = {
      val t0 = System.nanoTime(); body
      val w = (System.nanoTime() - t0) / 1e9
      println(f"[lmscale] $label%-16s $w%7.2f s"); w
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def batch(buckets: Int): DataFrame = spark.read.parquet(scrubDir)
      .filter(col("b") < buckets).select(col("doc_id"), col("clean"))

    // codegen/reader warmup, discarded
    noop(NgramLM.likelihoodMass(
      batch(1).limit(20000), "doc_id", "clean", model))

    val results = Seq(1, 2, 4).map { buckets =>
      val n = batch(buckets).count()
      val tNopin = timed(s"nopin_$n") {
        noop(NgramLM.likelihoodMass(batch(buckets), "doc_id", "clean", model))
      }
      val cleaned = batch(buckets).localCheckpoint()
      val tPinned = timed(s"pinned_$n") {
        noop(NgramLM.likelihoodMass(cleaned, "doc_id", "clean", model))
      }
      cleaned.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }.foreach(_.unpersist(blocking = true))
      (n, tNopin, tPinned)
    }

    val json = s"""{"model_grams":$modelGrams,""" +
      s""""points":[${results.map { case (n, a, b) =>
        s"""{"docs":$n,"nopin_sec":${f"$a%.2f"},"pinned_sec":${f"$b%.2f"}}"""
      }.mkString(",")}],"sf_dir":"$sfDir"}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
    spark.stop()
  }
}
