package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{DedupIndex, NgramLM, StoredMerge, WriterLease}
import graft.streaming.CurationIngest

/** TWO-JOB fleet soak (r14 verdict item 3): the r14 `writer_id`
  * provenance refusal and the job-lifetime lease are unit-spec'd —
  * this tool proves them END TO END with two real `curationIngest`
  * streaming jobs (distinct checkpoints) and captures both refusal
  * messages into a committed artifact:
  *
  *  - PHASE 1 — shared OFFSETS: job B launched against job A's LIVE
  *    offsets path is refused AT START by the job-lifetime writer
  *    lease (before touching any state);
  *  - PHASE 2 — shared CORPUS, own offsets: job B's first commit is
  *    refused at the (writer_id, batch_id) provenance boundary — both
  *    jobs' checkpoint-derived batch numbering starts at 0, so without
  *    the stamp B's append would silently no-op against A's committed
  *    batch 0 and B's admitted docs would never enter duplicate
  *    detection (the r13 ADVICE silent-loss path). The shared corpus
  *    must be byte-identical before/after the refused attempt. (The
  *    corpus LEASE arm — two live jobs appending in the same instant —
  *    serializes the same boundary and is spec-covered in
  *    CurationIngestSpec's interleaved-writers test; the stamp is the
  *    durable guard this phase pins.)
  *  - PHASE 3 — B re-pointed at its OWN corpus table, SAME checkpoint:
  *    Structured Streaming replays the uncommitted batch and the job
  *    drains green — refusal is recoverable, not a dead end.
  *
  * Run with `tools/fleet_soak.sh [outJson]` (default FLEET_LOCAL.json);
  * prints one JSON line. Exit 1 if any assertion failed.
  */
object FleetSoak {
  def main(args: Array[String]): Unit = {
    val outJson = args.headOption.getOrElse("FLEET_LOCAL.json")
    val work = java.nio.file.Files.createTempDirectory("graft_fleet").toString
    val spark = graft.GraftSession.builder(graft.GraftSession.envCpus)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val failures = scala.collection.mutable.ArrayBuffer[String]()
    def check(ok: Boolean, msg: => String): Unit =
      if (!ok) { failures += msg; System.err.println(s"[fleet] FAIL: $msg") }

    // ---- day-0 state: ONE shared corpus + LM, the fleet hazard ------
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
    DedupIndex.saveCorpus(spark, day0, "doc_id", "clean", "fleet_shared")
    NgramLM.store(NgramLM.fit(day0, "doc_id", "clean"), "fleet_lm")

    // per-job docs: 3 files (micro-batches) of novel in-domain docs,
    // disjoint id/trailer spaces so the two jobs never dup each other
    val allWords = vocab.flatMap(_.split(" ")).toArray
    def novelDoc(tag: String, i: Long): String = {
      val start = ((i * 7) % allWords.length).toInt
      val out = scala.collection.mutable.ArrayBuffer.tabulate(13)(k =>
        allWords((start + k) % allWords.length))
      (0 until 5).foreach { u =>
        out.insert(math.min(out.size, ((i + u * 3) % 11 + 1 + u).toInt),
          s"$tag${i}x$u")
      }
      out.mkString(" ")
    }
    def writeDocs(dir: String, tag: String, base: Long): Unit =
      (0 until 3).foreach { b =>
        (0 until 5).map(j => (base + b * 10 + j, novelDoc(tag, base + b * 10 + j)))
          .toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(f"$dir/f$b%02d")
      }
    writeDocs(s"$work/docsA", "zqa", 1000L)
    writeDocs(s"$work/docsB", "zqb", 5000L)
    def stream(dir: String): DataFrame = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", 1).option("recursiveFileLookup", "true")
      .parquet(dir).select(col("doc_id"), col("text"))
    def cfg(offsets: String, corpus: String): CurationIngest.Config =
      CurationIngest.Config(corpus, "fleet_lm", offsets,
        scoreCut = 0.0, budget = 64)
    def corpusShape(t: String): (Long, Long, Set[String]) = (
      spark.table(s"${t}_buckets").count(),
      spark.table(s"${t}_sets").count(),
      spark.table(s"${t}_buckets").select(col("writer_id"))
        .filter(col("writer_id").isNotNull).distinct()
        .collect().map(_.getString(0)).toSet)

    // ---- PHASE 1: job A live; job B on the SAME offsets path --------
    val cfgA = cfg(s"$work/offsetsA", "fleet_shared")
    CurationIngest.initOffsets(spark, cfgA)
    val qA = CurationIngest.start(spark, stream(s"$work/docsA"), cfgA,
      s"$work/labeledA", s"$work/manifestA", s"$work/ckptA",
      trigger = "100 milliseconds")
    // wait until A holds its job-lifetime lease and has committed once
    val deadline = System.currentTimeMillis() + 60000
    while (System.currentTimeMillis() < deadline &&
           !WriterLease.holder(spark, cfgA.offsetsPath).exists(
             _.owner == CurationIngest.jobWriterId(spark, s"$work/ckptA")))
      Thread.sleep(50)
    val phase1Refusal =
      try {
        CurationIngest.start(spark, stream(s"$work/docsB"), cfgA,
          s"$work/labeledB1", s"$work/manifestB1", s"$work/ckptB1")
        check(ok = false, "phase 1: job B must be refused at start")
        ""
      } catch {
        case e: java.util.ConcurrentModificationException => e.getMessage
      }
    println(s"[fleet] phase 1 refusal: $phase1Refusal")
    check(phase1Refusal.contains("lease-held by writer"),
      s"phase 1 refusal must name the live lease: $phase1Refusal")
    // job A is unharmed: let it finish its drain
    while (qA.isActive && Option(qA.lastProgress).forall(_.batchId < 2))
      Thread.sleep(100)
    qA.stop(); CurationIngest.releaseLease(qA)
    val offA = StoredMerge.readBuckets(spark, cfgA.offsetsPath)
      .agg(min(col("last_batch"))).head.getLong(0)
    check(offA == 2, s"job A must have committed its 3 batches: $offA")

    // ---- PHASE 2: job B, own offsets + checkpoint, SHARED corpus ----
    val cfgB = cfg(s"$work/offsetsB", "fleet_shared")
    CurationIngest.initOffsets(spark, cfgB)
    val beforeB = corpusShape("fleet_shared")
    val qB = CurationIngest.start(spark, stream(s"$work/docsB"), cfgB,
      s"$work/labeledB", s"$work/manifestB", s"$work/ckptB",
      availableNow = true)
    val phase2Refusal =
      try { qB.awaitTermination(); check(ok = false,
        "phase 2: job B's commit must be refused at the foreign stamp"); "" }
      catch {
        // the SAME root-cause unwrap the ops CLI prints (r16): walk to
        // the ConcurrentModificationException itself, not the first
        // wrapper whose message happens to EMBED the cause text — the
        // r15 artifact captured the [STREAM_FAILED] wrapper because
        // Spark's wrapper message contains the cause's
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          graft.ops.OpsCli.rootRefusal(e).map(_.getMessage).getOrElse(e.getMessage)
      }
    CurationIngest.releaseLease(qB)
    println(s"[fleet] phase 2 refusal: $phase2Refusal")
    check(phase2Refusal.contains("stamped by a DIFFERENT writer") &&
      phase2Refusal.contains("cannot share one dedup corpus"),
      s"phase 2 refusal must name the provenance collision: $phase2Refusal")
    val afterB = corpusShape("fleet_shared")
    check(beforeB == afterB,
      s"the refused job must leave the shared corpus untouched: $beforeB vs $afterB")
    val offB = StoredMerge.readBuckets(spark, cfgB.offsetsPath)
      .agg(max(col("last_batch"))).head.getLong(0)
    check(offB == -1, s"job B's offsets must not have advanced: $offB")

    // ---- PHASE 3: job B on its OWN corpus, SAME checkpoint ----------
    DedupIndex.saveCorpus(spark, day0, "doc_id", "clean", "fleet_own_b")
    val cfgB2 = cfg(s"$work/offsetsB", "fleet_own_b")
    val qB2 = CurationIngest.start(spark, stream(s"$work/docsB"), cfgB2,
      s"$work/labeledB", s"$work/manifestB", s"$work/ckptB",
      availableNow = true)
    qB2.awaitTermination()
    CurationIngest.releaseLease(qB2)
    val offB2 = StoredMerge.readBuckets(spark, cfgB2.offsetsPath)
      .agg(min(col("last_batch"))).head.getLong(0)
    check(offB2 == 2, s"job B must drain green on its own corpus: $offB2")
    val labeledB = spark.read.parquet(s"$work/labeledB")
    val admittedB = labeledB.filter(!col("bucket").startsWith("drop:")).count()
    check(labeledB.count() == 15, s"job B must label all 15 docs: ${labeledB.count()}")
    check(admittedB >= 10, s"most of job B's novel docs must admit: $admittedB")
    val ownShape = corpusShape("fleet_own_b")
    check(ownShape._3 == Set(CurationIngest.jobWriterId(spark, s"$work/ckptB")),
      s"job B's corpus must carry exactly its own writer stamp: ${ownShape._3}")
    check(corpusShape("fleet_shared") == afterB,
      "phase 3 must not touch the shared corpus")

    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "'")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")
    val json = s"""{"phase1_refusal":"${esc(phase1Refusal)}",""" +
      s""""phase2_refusal":"${esc(phase2Refusal)}",""" +
      s""""shared_corpus_untouched":${beforeB == afterB},""" +
      s""""job_a_offsets":$offA,"job_b_offsets_after_refusal":$offB,""" +
      s""""job_b_offsets_own_corpus":$offB2,"job_b_admitted":$admittedB,""" +
      s""""failures":[${failures.map(f => "\"" + esc(f) + "\"").mkString(",")}]}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json + "\n")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
