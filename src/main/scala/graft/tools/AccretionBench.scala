package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.NgramLM

/** Measures the online LM accretion's per-batch cost law (r16 verdict
  * item 1): the r15 shape accreted every micro-batch through
  * [[NgramLM.appendToStored]] — a staged FULL-MODEL swap, O(model) per
  * trigger, quadratic-cumulative on high-novelty streams. The r16
  * shape ([[NgramLM.appendDeltaToStored]] + cadenced
  * [[NgramLM.compactStored]]) writes one batch-sized delta partition
  * per trigger and pays the model-sized rewrite once per cadence.
  *
  * The measurement runs the SAME high-novelty batch stream (each doc a
  * real sf document plus unique trailer tokens, so the vocabulary —
  * and with it the model — grows every batch) against TWO base model
  * sizes, old shape vs new shape, and asserts end-state parity
  * (delta-accreted-then-compacted ≡ full-append ≡ refit checksums):
  *
  *  - old per-batch times should GROW with the model (each append
  *    rewrites everything accreted so far);
  *  - new per-batch times should stay FLAT and base-size-independent,
  *    with the rewrite cost visible only in the separately-timed
  *    compactions.
  *
  * Run `tools/accretion_bench.sh [batches] [docsPerBatch] [outJson]`
  * on a quiet box (defaults 8, 2000, ACCRETION_LOCAL.json); prints one
  * JSON line.
  */
object AccretionBench {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(8)
    val perBatch = args.lift(1).map(_.toInt).getOrElse(2000)
    val outJson = args.lift(2).getOrElse("ACCRETION_LOCAL.json")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val work = java.nio.file.Files.createTempDirectory("graft_acc").toString
    val spark = graft.GraftSession.builder(graft.GraftSession.envCpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val src = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val srcRows = src.count()

    /** `count` docs with per-doc unique trailer tokens in id range
      * `lot` — every lot injects fresh vocabulary (the high-novelty
      * stream the old shape's cost law degrades on). */
    def novelDocs(lot: Long, count: Int): DataFrame = {
      val reps = math.max(1L, (count + srcRows - 1) / srcRows)
      src.withColumn("r", explode(sequence(lit(0L), lit(reps - 1))))
        .select((col("doc_id") + col("r") * lit(10000000L) +
          lit(lot * 1000000000L)).as("doc_id"), col("text"))
        .limit(count)
        .select(col("doc_id"),
          concat(col("text"), lit(" nv"), col("doc_id").cast("string"),
            lit("a nv"), col("doc_id").cast("string"), lit("b")).as("text"))
    }

    /** Order-insensitive model checksum: count, total mass, and a
      * hash-of-rows XOR per count table (XOR, not sum — a sum of 64-bit
      * hashes overflows ANSI longs), plus the exact vocab size — enough
      * to assert two accretion paths landed the same model without
      * collecting vocab-sized tables. */
    def checksum(m: NgramLM.Model): Seq[Long] = {
      def t(df: DataFrame, k: String, c: String): Seq[Long] = {
        val r = df.agg(count(lit(1)), sum(col(c)),
          expr(s"bit_xor(xxhash64($k, $c))")).head()
        Seq(r.getLong(0), r.getLong(1), r.getLong(2))
      }
      t(m.bigrams, "gram_hash", "c2") ++ t(m.prefixes, "prefix_hash", "c1") ++
        Seq(m.vocabSize)
    }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // bytes on disk under a model's tables — the scale-honest cost
    // metric: at web-scale models the per-trigger cost IS the IO, and
    // wall-clock at toy sizes is dominated by fixed job overhead. The
    // old shape REWRITES the whole model's bytes per trigger; the delta
    // shape writes only its batch-sized partitions.
    def tableBytes(prefix: String): Long = {
      val wh = new java.io.File(s"$work/warehouse")
      def sizeOf(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(sizeOf).sum
        else f.length()
      Option(wh.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(prefix)).map(sizeOf).sum
    }
    def dropLm(name: String): Unit =
      Seq("_bigrams", "_prefixes", "_vocab", "_meta", "_tags",
        "_delta_bigrams", "_delta_prefixes", "_delta_vocab", "_delta_tags",
        "__stage_bigrams", "__stage_prefixes", "__stage_vocab",
        "__stage_meta", "__stage_tags", "__commit")
        .foreach(s => spark.sql(s"DROP TABLE IF EXISTS $name$s"))

    // two base sizes: the new shape's per-batch cost must not depend on
    // either; the old shape's must grow with both the base and the
    // accreted stream
    val bases = Seq(
      "small" -> src,
      "big" -> novelDocs(lot = 900L, count = (srcRows * 10L).toInt))
    // the measured stream, shared by every run (deterministic lots)
    val lots = (0 until nBatches).map(i => novelDocs(i.toLong, perBatch))

    // warmup: codegen + writer init on a throwaway store
    locally {
      dropLm("accw")
      NgramLM.store(NgramLM.fit(src.limit(200), "doc_id", "text"), "accw", buckets = 8)
      NgramLM.appendDeltaToStored(spark, "accw", novelDocs(800L, 200),
        "doc_id", "text", "w0")
      NgramLM.compactStored(spark, "accw", buckets = 8)
      NgramLM.appendToStored(spark, "accw", novelDocs(801L, 200),
        "doc_id", "text", buckets = 8, batchTag = Some("w1"))
      dropLm("accw")
      println("[acc] warmup done")
    }

    val results = bases.map { case (label, baseDocs) =>
      val oldName = s"acc_old_$label"
      val newName = s"acc_new_$label"
      dropLm(oldName); dropLm(newName)
      val baseModel = NgramLM.fit(baseDocs, "doc_id", "text")
      NgramLM.store(baseModel, oldName, buckets = 32)
      NgramLM.store(baseModel, newName, buckets = 32)
      val baseGrams = spark.table(s"${oldName}_bigrams").count()
      println(s"[acc] base '$label': $baseGrams grams, V=${baseModel.vocabSize}")

      // OLD shape: full-model swap per batch (tagged, retention-bounded
      // exactly like the r15 streaming path). Bytes: the staged swap
      // rewrites the WHOLE model — the live size after each append is
      // the bytes that trigger wrote.
      val oldBytes = scala.collection.mutable.ArrayBuffer[Long]()
      val oldTimes = lots.zipWithIndex.map { case (b, i) =>
        val w = timed(NgramLM.appendToStored(spark, oldName, b, "doc_id",
          "text", buckets = 32, batchTag = Some(s"t$i"), tagRetention = 16))
        oldBytes += tableBytes(oldName)
        println(f"[acc] $label old batch $i: $w%6.2f s  ${oldBytes.last / 1024}%d KiB rewritten")
        w
      }
      // NEW shape: delta append per batch + compaction at cadence
      // (half-way and at the end, so end-state parity is base-only).
      // Bytes: each trigger writes only its delta partitions; the
      // model-sized rewrite happens once per cadence.
      val compactEvery = math.max(1, nBatches / 2)
      val compactTimes = scala.collection.mutable.ArrayBuffer[Double]()
      val compactBytes = scala.collection.mutable.ArrayBuffer[Long]()
      val deltaBytes = scala.collection.mutable.ArrayBuffer[Long]()
      val newTimes = lots.zipWithIndex.map { case (b, i) =>
        val before = tableBytes(s"${newName}_delta")
        val w = timed(NgramLM.appendDeltaToStored(spark, newName, b,
          "doc_id", "text", batchTag = s"t$i"))
        deltaBytes += tableBytes(s"${newName}_delta") - before
        println(f"[acc] $label new batch $i: $w%6.2f s  ${deltaBytes.last / 1024}%d KiB written")
        if (NgramLM.pendingDeltaCount(spark, newName) >= compactEvery) {
          val cw = timed(NgramLM.compactStored(spark, newName, buckets = 32,
            tagRetention = 16))
          compactTimes += cw
          compactBytes += tableBytes(newName) - tableBytes(s"${newName}_delta")
          println(f"[acc] $label compaction after batch $i: $cw%6.2f s  " +
            f"${compactBytes.last / 1024}%d KiB rewritten")
        }
        w
      }
      val parity = checksum(NgramLM.load(spark, oldName)) ==
        checksum(NgramLM.load(spark, newName))
      println(s"[acc] $label parity: $parity")
      dropLm(oldName); dropLm(newName)
      (label, baseGrams, oldTimes, newTimes, compactTimes.toSeq, parity,
        oldBytes.toSeq, deltaBytes.toSeq, compactBytes.toSeq)
    }

    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]")
    def arrL(xs: Seq[Long]) = xs.mkString("[", ",", "]")
    val json = s"""{"batches":$nBatches,"docs_per_batch":$perBatch,""" +
      results.map { case (label, grams, o, n, c, p, ob, db, cb) =>
        s""""$label":{"base_grams":$grams,"old_per_batch_sec":${arr(o)},""" +
          s""""new_per_batch_sec":${arr(n)},"compactions_sec":${arr(c)},""" +
          s""""old_total_sec":${f"${o.sum}%.1f"},""" +
          s""""new_total_sec":${f"${n.sum + c.sum}%.1f"},""" +
          s""""old_bytes_rewritten_per_batch":${arrL(ob)},""" +
          s""""new_delta_bytes_per_batch":${arrL(db)},""" +
          s""""compaction_bytes_rewritten":${arrL(cb)},"parity":$p}"""
      }.mkString(",") + s""","sf_dir":"$sfDir"}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
    spark.stop()
    if (results.exists(!_._6)) sys.exit(1)
  }
}
