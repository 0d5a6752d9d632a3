package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Incremental dedup against a stored corpus: correctness vs the batch
  * operator over the unioned corpus, the admission filter, and the
  * plan-shape guarantee that the stored side is never shuffled.
  */
class DedupIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-dix-wh").toString)
    .getOrCreate()

  private lazy val corpus = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  // unique per run: managed-table LOCATIONS outlive the in-memory
  // catalog, so a reused name from a previous JVM fails creation
  private def freshTable(prefix: String) = s"$prefix${System.nanoTime()}"

  private def withTables(tbl: String)(body: => Unit): Unit =
    try body finally {
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_buckets")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_sets")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_bloom")
    }

  /** A clean batch's buckets are definite bloom misses, bar a false
    * positive: at most one of its buckets (8 per doc) survives the prune.
    * A saturated filter passes all of them, so it still fails this.
    */
  private def assertPrunesClean(tbl: String, batch: org.apache.spark.sql.DataFrame,
                                clue: String): Unit = {
    val bk = DedupIndex.batchBuckets(batch, "doc_id", "text")
    val total = bk.count()
    val kept = DedupIndex.bloomPrune(spark, tbl, bk).count()
    assert(total >= 8 && kept <= 1, s"$clue: $kept of $total buckets survive the prune")
  }

  private def newBatch = {
    import spark.implicits._
    val base = corpus.orderBy("doc_id").limit(1)
      .select(col("doc_id"), col("text")).collect().head
    val text = base.getString(1)
    val nearDup = text.split("\\s+").toSeq.patch(2, Seq("altered"), 1).mkString(" ")
    Seq(
      (900001L, text),                       // exact duplicate of corpus doc
      (900002L, nearDup),                    // near duplicate (one token swapped)
      (900003L, "completely fresh unrelated content about volcanic geology basalt")
    ).toDF("doc_id", "text")
  }

  test("stored-corpus dedup matches the batch operator over the union") {
    val tbl = freshTable("dix")
    withTables(tbl) {
    DedupIndex.saveCorpus(spark, corpus, "doc_id", "text", tbl)
    val got = DedupIndex.dedupAgainstStored(spark, tbl, newBatch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // oracle: the already-verified batch operator over corpus ∪ batch,
    // restricted to cross pairs (new ids are > any corpus id)
    val unioned = corpus.select(col("doc_id"), col("text"))
      .union(newBatch)
    val expected = Dedup.minhashLSH(unioned, "doc_id", "text", k = 32, bands = 8,
        threshold = 0.5)
      .filter(col("id_b") >= 900001L && col("id_a") < 900001L)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2))).toSet

    assert(got == expected, s"got=$got expected=$expected")
    assert(got.map(_._1) == Set(900001L, 900002L),
      "exact and near dup flagged, fresh doc not")
    assert(got.exists(p => p._1 == 900001L && p._3 == 1.0), "exact dup at jaccard 1.0")
    }
  }

  test("admitAgainstStored keeps only documents new to the corpus") {
    val tbl = freshTable("dix")
    withTables(tbl) {
    DedupIndex.saveCorpus(spark, corpus, "doc_id", "text", tbl)
    val admitted = DedupIndex.admitAgainstStored(spark, tbl, newBatch, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(900003L))
    }
  }

  test("appendCorpus completes the incremental loop: tomorrow checks against today's batch") {
    import spark.implicits._
    val tbl = freshTable("dix")
    withTables(tbl) {
      DedupIndex.saveCorpus(spark, corpus, "doc_id", "text", tbl)
      // day 1: admit a fresh doc, then append the batch's state
      val day1 = Seq((910001L, "completely fresh unrelated content about volcanic geology basalt"))
        .toDF("doc_id", "text")
      assert(DedupIndex.dedupAgainstStored(spark, tbl, day1, "doc_id", "text").count() == 0)
      DedupIndex.appendCorpus(spark, day1, "doc_id", "text", tbl)
      // day 2: a near-dup of the DAY-1 doc (never in the original
      // corpus) must now be caught, with no rebuild
      val day2 = Seq(
        (920001L, "completely fresh unrelated content about volcanic geology pumice"),
        (920002L, "and some genuinely novel second day material entirely")).toDF("doc_id", "text")
      val hits = DedupIndex.dedupAgainstStored(spark, tbl, day2, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits == Set((920001L, 910001L)), s"day-2 near-dup caught against day-1 state: $hits")
    }
  }

  test("bloom prefilter: clean batch prunes to zero buckets; results unchanged either way") {
    import spark.implicits._
    val tbl = freshTable("dix")
    withTables(tbl) {
      DedupIndex.saveCorpus(spark, corpus, "doc_id", "text", tbl)
      // a fully-fresh batch: every bucket is a definite Bloom miss
      val clean = Seq(
        (930001L, "totally novel prose about deep sea hydrothermal vents"),
        (930002L, "second novel fragment regarding alpine glacier dynamics"))
        .toDF("doc_id", "text")
      assert(DedupIndex.dedupAgainstStored(spark, tbl, clean, "doc_id", "text").count() == 0)
      assertPrunesClean(tbl, clean, "a clean batch prunes before any stored-table join")
      // dirty batch: identical results with the bloom present vs dropped
      val dirty = newBatch
      val withBloom = DedupIndex.dedupAgainstStored(spark, tbl, dirty, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      spark.sql(s"DROP TABLE ${tbl}_bloom")
      val without = DedupIndex.dedupAgainstStored(spark, tbl, dirty, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(withBloom == without, "bloom prune must not change results")
      assert(withBloom.map(_._1) == Set(900001L, 900002L))
    }
  }

  test("bloom prune rate is observable and the append path keeps the filter in sync") {
    import spark.implicits._
    val tbl = freshTable("dix")
    withTables(tbl) {
      DedupIndex.saveCorpus(spark, corpus, "doc_id", "text", tbl)
      val fresh = Seq((940001L, "entirely new content on desert varnish microbiomes today"))
        .toDF("doc_id", "text")
      // the fresh batch's buckets miss the stored bloom
      assertPrunesClean(tbl, fresh, "the buckets of a fresh doc are misses")
      val freshBuckets = DedupIndex.batchBuckets(fresh, "doc_id", "text")
      // after appending the fresh doc, its buckets are bloom hits
      DedupIndex.appendCorpus(spark, fresh, "doc_id", "text", tbl)
      assert(DedupIndex.bloomPrune(spark, tbl, freshBuckets).count() == freshBuckets.count(),
        "appended batch's buckets must be present in the merged bloom")
      // and an exact re-send of the doc is caught through the bloom path
      val resend = Seq((950001L, "entirely new content on desert varnish microbiomes today"))
        .toDF("doc_id", "text")
      val hits = DedupIndex.dedupAgainstStored(spark, tbl, resend, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits == Set((950001L, 940001L)))
    }
  }

  test("bloom overflow rebuilds at doubled capacity: no false negatives, fresh batches still prune (r17 saturation fix)") {
    import spark.implicits._
    val tbl = freshTable("dix")
    withTables(tbl) {
      // capacity floors at 2× the initial bucket rows (2 docs × 8 bands
      // = 16 rows → cap 32), so the first real append overflows it
      DedupIndex.saveCorpus(spark, corpus.limit(2), "doc_id", "text", tbl,
        bloomItems = 16)
      def meta() = spark.table(s"${tbl}_bloom")
        .select(col("items"), col("n_inserted")).collect().head
      val cap0 = meta().getLong(0)
      assert(meta().getLong(1) == 16L, "initial counter = initial bucket rows")
      // every 3-shingle of each doc carries an i-varying token, so the
      // docs are pairwise jaccard-0 and the append is pure growth
      val day1 = (0 until 40).map(i =>
        (960000L + i, s"material $i on subject$i covering theme$i " +
          s"with detail$i and aspect$i"))
        .toDF("doc_id", "text")
      DedupIndex.appendCorpus(spark, day1, "doc_id", "text", tbl)
      val m1 = meta()
      assert(m1.getLong(0) >= cap0 * 2, s"overflow must grow capacity: $m1")
      assert(m1.getLong(1) == spark.table(s"${tbl}_buckets").count(),
        "rebuild resets the counter to the exact stored row count")
      // superset invariant: a rebuilt filter missing any stored hash
      // would prune TRUE duplicates — every stored bucket must hit
      val stored = spark.table(s"${tbl}_buckets")
      assert(DedupIndex.bloomPrune(spark, tbl, stored).count() == stored.count(),
        "rebuilt filter contains every stored band hash")
      // a resend of a post-rebuild doc is still caught end-to-end
      val resend = Seq((970001L, "material 7 on subject7 covering theme7 " +
        "with detail7 and aspect7")).toDF("doc_id", "text")
      val hits = DedupIndex.dedupAgainstStored(spark, tbl, resend, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits == Set((970001L, 960007L)), s"resend caught after rebuild: $hits")
      // and the rebuilt filter actually PRUNES again (the saturated one
      // passed everything): a disjoint batch's buckets all miss
      val fresh = Seq((980001L, "unrelated closing fragment regarding " +
        "tidal marsh sediment transport")).toDF("doc_id", "text")
      assertPrunesClean(tbl, fresh, "the rebuilt (unsaturated) filter prunes a fresh batch")
    }
  }

  test("a corrupt bloom table degrades to the un-pruned path (results unchanged); rebuildBloom restores pruning") {
    import spark.implicits._
    val tbl = freshTable("dix")
    withTables(tbl) {
      DedupIndex.saveCorpus(spark, corpus, "doc_id", "text", tbl)
      // corrupt the bloom table IN PLACE: replace its data files with a
      // non-parquet garbage file (what a crash mid-overwrite can leave)
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED ${tbl}_bloom")
        .filter(col("col_name") === "Location").head().getString(1)
      val p = new org.apache.hadoop.fs.Path(loc)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).foreach(st => fs.delete(st.getPath, true))
      val out = fs.create(new org.apache.hadoop.fs.Path(p, "part-00000-garbage.snappy.parquet"))
      out.write("definitely not parquet".getBytes); out.close()
      spark.catalog.refreshTable(s"${tbl}_bloom")
      // probes degrade to un-pruned: identical results, bloomPrune = identity
      val hits = DedupIndex.dedupAgainstStored(spark, tbl, newBatch, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits.map(_._1) == Set(900001L, 900002L),
        "a corrupt bloom must not change dedup results")
      val bk = DedupIndex.batchBuckets(newBatch, "doc_id", "text")
      assert(DedupIndex.bloomPrune(spark, tbl, bk).count() == bk.count(),
        "corrupt bloom: prune degrades to identity, not a crash")
      // repair: one linear scan of the stored buckets
      DedupIndex.rebuildBloom(spark, tbl)
      val clean = Seq((960001L, "utterly fresh musings on tidal bore surfing conditions"))
        .toDF("doc_id", "text")
      assertPrunesClean(tbl, clean, "the rebuilt bloom prunes a clean batch again")
    }
  }

  test("id collisions: a re-submitted known id is never reported as its own duplicate") {
    import spark.implicits._
    val tbl = freshTable("dix")
    withTables(tbl) {
      val base = Seq(
        (1L, "the quiet harbor town wakes before dawn to gull cries"),
        (2L, "industrial turbine maintenance follows a strict quarterly schedule"))
        .toDF("doc_id", "text")
      DedupIndex.saveCorpus(spark, base, "doc_id", "text", tbl)
      // same id, same text: a replay, not a self-dup — zero pairs
      val replay = Seq((1L, "the quiet harbor town wakes before dawn to gull cries"))
        .toDF("doc_id", "text")
      assert(DedupIndex.dedupAgainstStored(spark, tbl, replay, "doc_id", "text")
        .count() == 0, "a doc must never be its own duplicate")
      // same text under a NEW id still reports against the corpus doc
      val fresh = Seq((5L, "the quiet harbor town wakes before dawn to gull cries"))
        .toDF("doc_id", "text")
      val hits = DedupIndex.dedupAgainstStored(spark, tbl, fresh, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits == Set((5L, 1L)), s"other-id matches still report: $hits")
      // a replayed id ALSO still matches other corpus docs it duplicates
      val crossDup = Seq((2L, "the quiet harbor town wakes before dawn to gull cries"))
        .toDF("doc_id", "text")
      val cross = DedupIndex.dedupAgainstStored(spark, tbl, crossDup, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cross == Set((2L, 1L)), s"only the self-pair is excluded: $cross")
    }
  }

  test("watermarked probes treat a same-id resubmission as a stored duplicate (exclusion is unwatermarked-only)") {
    import spark.implicits._
    val tbl = freshTable("dix")
    withTables(tbl) {
      val base = Seq(
        (1L, "the quiet harbor town wakes before dawn to gull cries"))
        .toDF("doc_id", "text")
      DedupIndex.saveCorpus(spark, base, "doc_id", "text", tbl) // batch_id = -1
      val resubmit = Seq((1L, "the quiet harbor town wakes before dawn to gull cries"))
        .toDF("doc_id", "text")
      // unwatermarked: the ad-hoc replay contract — no self-pair
      assert(DedupIndex.dedupAgainstStored(spark, tbl, resubmit, "doc_id", "text")
        .count() == 0)
      // watermarked (the ingest discipline): the corpus row was
      // committed by an earlier batch, so the resubmission is a GENUINE
      // stored duplicate — admitting it would double-append the id
      val hits = DedupIndex.dedupAgainstStored(spark, tbl, resubmit, "doc_id", "text",
          committedBatch = 7L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits == Set((1L, 1L)),
        s"a same-id doc visible through the watermark must report: $hits")
      // and the admission filter drops it instead of re-admitting
      assert(DedupIndex.admitAgainstStored(spark, tbl, resubmit, "doc_id", "text",
        committedBatch = 7L).count() == 0)
    }
  }

  test("appendCorpus as the FIRST write: a nonexistent corpus is created, not mistaken for a legacy table") {
    import spark.implicits._
    val tbl = freshTable("dix")
    withTables(tbl) {
      // the documented batch-less path: no saveCorpus first — the
      // append itself creates the tables (the legacy-codec upgrade
      // must not probe them before they exist)
      val docs = Seq((1L, "the narrow canal boats pass under seven old bridges"))
        .toDF("doc_id", "text")
      DedupIndex.appendCorpus(spark, docs, "doc_id", "text", tbl)
      assert(spark.table(s"${tbl}_buckets").columns.contains("batch_id"))
      val probe = Seq((2L, "the narrow canal boats pass under seven old bridges"))
        .toDF("doc_id", "text")
      val hits = DedupIndex.dedupAgainstStored(spark, tbl, probe, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits == Set((2L, 1L)), s"the created corpus must probe: $hits")
    }
    // the STAMPED first write too: the replay-safety refresh and the
    // presence checks must skip tables that do not exist yet
    val tbl2 = freshTable("dix")
    withTables(tbl2) {
      val docs = Seq((5L, "brick warehouses line the east quay at low tide"))
        .toDF("doc_id", "text")
      DedupIndex.appendCorpus(spark, docs, "doc_id", "text", tbl2, batchId = 0L)
      assert(spark.table(s"${tbl2}_sets")
        .filter(col("batch_id") === 0L).count() == 1L)
      // and a replay of that first stamped batch is still a no-op
      DedupIndex.appendCorpus(spark, docs, "doc_id", "text", tbl2, batchId = 0L)
      assert(spark.table(s"${tbl2}_sets").count() == 1L,
        "the replayed first batch must not double-append")
    }
  }

  test("writer-keyed replay skip: a foreign writer's same batch id refuses loudly, own replay no-ops, legacy NULL stamps skip as own") {
    import spark.implicits._
    val tbl = freshTable("dix")
    withTables(tbl) {
      val docsA = Seq((1L, "tidal flats reveal razor clams at the spring ebb"))
        .toDF("doc_id", "text")
      val docsB = Seq((2L, "alpine meltwater braids across the gravel outwash plain"))
        .toDF("doc_id", "text")
      // job A commits ITS batch 0
      DedupIndex.appendCorpus(spark, docsA, "doc_id", "text", tbl,
        batchId = 0L, owner = "job-a")
      assert(spark.table(s"${tbl}_sets")
        .filter(col("writer_id") === "job-a").count() == 1L,
        "stamped rows must carry the writer")
      // job B's append of ITS OWN batch 0 must fail LOUDLY — a silent
      // skip would drop B's admitted docs from all future dup detection
      val before = spark.table(s"${tbl}_sets").count()
      val e = intercept[java.util.ConcurrentModificationException] {
        DedupIndex.appendCorpus(spark, docsB, "doc_id", "text", tbl,
          batchId = 0L, owner = "job-b")
      }
      assert(e.getMessage.contains("DIFFERENT writer"))
      assert(spark.table(s"${tbl}_sets").count() == before,
        "a refused append must leave the corpus untouched")
      // job A's own replay of batch 0 still no-ops (replay convergence)
      DedupIndex.appendCorpus(spark, docsA, "doc_id", "text", tbl,
        batchId = 0L, owner = "job-a")
      assert(spark.table(s"${tbl}_sets").count() == before)
      // and A's NEXT batch appends normally
      DedupIndex.appendCorpus(spark, docsB, "doc_id", "text", tbl,
        batchId = 1L, owner = "job-a")
      assert(spark.table(s"${tbl}_sets").count() == before + 1)

      // legacy pre-r14 stamps (writer_id NULL) belong to the table's
      // only historical writer: any owner's replay of that batch skips
      // (the pre-upgrade semantics), never refuses
      val stripped = spark.table(s"${tbl}_sets").drop("writer_id").localCheckpoint()
      stripped.write.mode("overwrite")
        .bucketBy(32, "doc_id").sortBy("doc_id").saveAsTable(s"${tbl}_sets")
      val bkStripped = spark.table(s"${tbl}_buckets").drop("writer_id").localCheckpoint()
      bkStripped.write.mode("overwrite").saveAsTable(s"${tbl}_buckets")
      DedupIndex.appendCorpus(spark, docsA, "doc_id", "text", tbl,
        batchId = 0L, owner = "job-after-upgrade")
      assert(spark.table(s"${tbl}_sets").count() == before + 1,
        "a NULL-stamped legacy batch must skip as this writer's own")
    }
  }

  test("mixed-stamp batch: the refusal stays deterministic even when the limit-1 probe samples an own/NULL row") {
    // (r15 ADVICE) the fast path reads ONE arbitrary row's writer_id
    // per (table, batch): if a batch ever carries MIXED stamps (a
    // pre-r15 race on the non-atomic file lease, historical misuse),
    // sampling an own row must not silently classify the batch as a
    // replay skip — the own/NULL sample triggers the full foreign-row
    // scan, which refuses loudly no matter the row order
    import spark.implicits._
    val tbl = freshTable("dixmix")
    withTables(tbl) {
      val docsA = Seq((1L, "tidal flats reveal razor clams at the spring ebb"))
        .toDF("doc_id", "text")
      DedupIndex.appendCorpus(spark, docsA, "doc_id", "text", tbl,
        batchId = 0L, owner = "job-a")
      // forge the mixed state: a foreign writer's rows under the SAME
      // batch id, appended directly (bypassing the guard, as the old
      // race could)
      spark.table(s"${tbl}_sets")
        .withColumn("doc_id", col("doc_id") + 1000L)
        .withColumn("writer_id", lit("job-x"))
        .localCheckpoint()
        .write.mode("append").bucketBy(32, "doc_id").sortBy("doc_id")
        .saveAsTable(s"${tbl}_sets")
      spark.table(s"${tbl}_buckets")
        .filter(col("writer_id") === "job-a")
        .withColumn("doc_id", col("doc_id") + 1000L)
        .withColumn("writer_id", lit("job-x"))
        .localCheckpoint()
        .write.mode("append").saveAsTable(s"${tbl}_buckets")
      spark.catalog.refreshTable(s"${tbl}_sets")
      spark.catalog.refreshTable(s"${tbl}_buckets")
      // job A's replay of batch 0 now sees a mixed batch: whatever row
      // the probe lands on, the append must REFUSE (job-x's rows prove
      // the batch numbering is shared), not skip
      val e = intercept[java.util.ConcurrentModificationException] {
        DedupIndex.appendCorpus(spark, docsA, "doc_id", "text", tbl,
          batchId = 0L, owner = "job-a")
      }
      assert(e.getMessage.contains("DIFFERENT writer") &&
        e.getMessage.contains("job-x"), e.getMessage)
    }
  }

  test("legacy corpus (no batch_id column): probes, watermarks, bloom, and append all work; append upgrades in place") {
    import spark.implicits._
    val tbl = freshTable("dix")
    withTables(tbl) {
      val base = Seq(
        (1L, "the lighthouse keeper logs every passing freighter at dusk"),
        (2L, "terraced vineyards climb the south slope above the lake"))
        .toDF("doc_id", "text")
      DedupIndex.saveCorpus(spark, base, "doc_id", "text", tbl)
      // recreate the r11 on-disk shape: strip the provenance stamp
      // (localCheckpoint first — overwriting a table being read)
      val bk = spark.table(s"${tbl}_buckets").drop("batch_id").localCheckpoint()
      bk.write.mode("overwrite").saveAsTable(s"${tbl}_buckets")
      val st = spark.table(s"${tbl}_sets").drop("batch_id").localCheckpoint()
      st.write.mode("overwrite")
        .bucketBy(32, "doc_id").sortBy("doc_id").saveAsTable(s"${tbl}_sets")
      assert(!spark.table(s"${tbl}_buckets").columns.contains("batch_id"))

      // a WATERMARKED probe must not throw on the missing column — the
      // whole legacy corpus predates every batch, so it all probes
      // (this is the resuming-stream-after-upgrade path)
      val probe = Seq((20L, "the lighthouse keeper logs every passing freighter at dusk"))
        .toDF("doc_id", "text")
      val hits = DedupIndex.dedupAgainstStored(spark, tbl, probe, "doc_id", "text",
          committedBatch = -1L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits == Set((20L, 1L)), s"legacy rows are committed rows: $hits")

      // a stamped append UPGRADES the schema in place (metadata-only);
      // legacy rows read NULL ≡ committed-before-any-batch
      val batch = Seq((10L, "container cranes unload midnight freight under sodium light"))
        .toDF("doc_id", "text")
      DedupIndex.appendCorpus(spark, batch, "doc_id", "text", tbl, batchId = 0L)
      assert(spark.table(s"${tbl}_buckets").columns.contains("batch_id"))
      assert(spark.table(s"${tbl}_sets")
        .filter(col("batch_id").isNull).count() == 2L,
        "legacy set rows must survive the upgrade as NULL-stamped")

      // watermark semantics across the mix: at -1 the legacy rows probe
      // but batch-0 rows are invisible; at 0 both probe
      val resend = Seq((21L, "container cranes unload midnight freight under sodium light"))
        .toDF("doc_id", "text")
      assert(DedupIndex.dedupAgainstStored(spark, tbl, resend, "doc_id", "text",
        committedBatch = -1L).count() == 0,
        "post-upgrade batch rows must stay above the legacy watermark")
      val hits0 = DedupIndex.dedupAgainstStored(spark, tbl, resend, "doc_id", "text",
          committedBatch = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits0 == Set((21L, 10L)))

      // the bloom path (built at save time, merged at append) still
      // prunes correctly over the upgraded corpus
      val clean = Seq((30L, "zxqv blorp wug snarf glip norb quux zelch vrump"))
        .toDF("doc_id", "text")
      assertPrunesClean(tbl, clean, "a clean batch prunes over the upgraded corpus")
    }
  }

  test("snapshot-by-watermark: uncommitted batch rows are invisible to the probe") {
    import spark.implicits._
    val tbl = freshTable("dix")
    withTables(tbl) {
      val base = Seq((1L, "wind farms along the ridge line hum through autumn storms"))
        .toDF("doc_id", "text")
      DedupIndex.saveCorpus(spark, base, "doc_id", "text", tbl) // stamped batch_id = -1
      val batch = Seq((10L, "the canal barge carries malted barley to the city brewery"))
        .toDF("doc_id", "text")
      DedupIndex.appendCorpus(spark, batch, "doc_id", "text", tbl, batchId = 0L)
      // a probe of the same TEXT under a new id, watermarked BEFORE the
      // append's batch, must see only the base corpus → no hit
      val resend = Seq((20L, "the canal barge carries malted barley to the city brewery"))
        .toDF("doc_id", "text")
      assert(DedupIndex.dedupAgainstStored(spark, tbl, resend, "doc_id", "text",
        committedBatch = -1L).count() == 0,
        "rows above the watermark must be invisible")
      // once the watermark covers the batch, the hit appears
      val hits = DedupIndex.dedupAgainstStored(spark, tbl, resend, "doc_id", "text",
        committedBatch = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits == Set((20L, 10L)), s"committed rows probe normally: $hits")
    }
  }

  test("batch-stamped append is replay-convergent: no duplicate corpus rows, half-appends complete") {
    import spark.implicits._
    val tbl = freshTable("dix")
    withTables(tbl) {
      val base = Seq((1L, "meltwater channels braid across the outwash plain each june"))
        .toDF("doc_id", "text")
      DedupIndex.saveCorpus(spark, base, "doc_id", "text", tbl)
      val batch = Seq((10L, "night markets sell grilled squid beside the ferry terminal"))
        .toDF("doc_id", "text")
      def counts = (spark.table(s"${tbl}_buckets").count(),
        spark.table(s"${tbl}_sets").count())
      DedupIndex.appendCorpus(spark, batch, "doc_id", "text", tbl, batchId = 3L)
      val after = counts
      // full replay: a no-op
      DedupIndex.appendCorpus(spark, batch, "doc_id", "text", tbl, batchId = 3L)
      assert(counts == after, "replaying a completed append must not duplicate rows")
      // half-crashed append (buckets landed, sets did not) completes on replay
      val b2 = Seq((11L, "volcanic ash layers date the settlement's three rebuildings"))
        .toDF("doc_id", "text")
      intercept[IllegalStateException] {
        DedupIndex.appendCorpusImpl(spark, b2, "doc_id", "text", tbl,
          k = 32, bands = 8, shingleN = 3, setBuckets = 32, batchId = 4L,
          crashAfterStep = 1)
      }
      spark.catalog.clearCache() // the simulated crash skips the internal release
      assert(spark.table(s"${tbl}_sets").filter(col("batch_id") === 4L).isEmpty,
        "crash after step 1: sets not yet appended")
      DedupIndex.appendCorpus(spark, b2, "doc_id", "text", tbl, batchId = 4L)
      assert(spark.table(s"${tbl}_buckets").filter(col("batch_id") === 4L).count() ==
        spark.table(s"${tbl}_buckets").filter(col("batch_id") === 3L).count(),
        "replay must not double the half-appended buckets")
      assert(spark.table(s"${tbl}_sets").filter(col("batch_id") === 4L).count() == 1L,
        "replay completes the missing sets append")
    }
  }

  test("the stored sets table joins through its bucketing — no shuffle on the stored side") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import spark.implicits._
    val tbl = freshTable("dix")
    withTables(tbl) {
    DedupIndex.saveCorpus(spark, corpus, "doc_id", "text", tbl)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the sort-merge path a 100 TB corpus side would take
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Seq(1L, 2L, 3L).toDF("doc_id")
      val j = spark.table(s"${tbl}_sets").join(probe, Seq("doc_id"))
      j.collect()
      val plan = j.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      def subtreeScansSets(p: SparkPlan): Boolean =
        p.collectLeaves().exists(_.toString.contains(s"${tbl}_sets"))
      val shufflesOverSets = plan.collect {
        case s: ShuffleExchangeExec if subtreeScansSets(s) => s
      }
      assert(plan.toString.contains(s"${tbl}_sets"), "stored scan present")
      assert(shufflesOverSets.isEmpty,
        s"stored side must ride its bucketing, plan:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("r16 probe memory shape: nothing cached, no batch-side broadcast in the verification legs") {
    import org.apache.spark.sql.execution.{SparkPlan, LocalTableScanExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val tbl = freshTable("dixmem")
    withTables(tbl) {
    DedupIndex.saveCorpus(spark, corpus, "doc_id", "text", tbl)
    // a batch WITH duplicates, so the candidate-sized verification
    // legs are genuinely exercised (an empty-candidate plan would
    // vacuously pass)
    val (_, lazyOut) = DedupIndex.dedupAgainstStoredPlan(spark, tbl,
      newBatch, "doc_id", "text", 0.5, 32, 8, 3)
    assert(lazyOut.collect().nonEmpty, "the seeded dups must match")
    val plan = lazyOut.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // AQE hides subtrees behind QueryStageExec leaf wrappers — walk
    // through them so the asserts see the whole physical tree
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val nodes = flatten(plan)
    // 1. The pre-r16 shape persisted the batch's doc-length-scaled
    //    signature frame (hset: ~13 GB of executor storage at 8M
    //    docs, the measured superlinear-wall cause) — the probe must
    //    never cache ANYTHING again.
    assert(!nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
      s"the probe must not persist any frame, plan:\n$plan")
    // 2. The pre-r16 shape also broadcast that batch frame into the
    //    verification join (a batch-scaled driver collect each
    //    micro-batch; a maxResultSize abort at 8M). In the output
    //    plan every broadcast must ride candidate-derived state (the
    //    checkpointed candidates RDD / the semi-pruned stored sets) —
    //    never a subtree containing the batch source. (The banding
    //    leg's pruned-bucket broadcast is by design and lives in the
    //    candidates checkpoint job, not this plan.)
    def containsBatchLeaf(p: SparkPlan): Boolean =
      flatten(p).exists(_.isInstanceOf[LocalTableScanExec])
    val batchBroadcasts = nodes.collect {
      case b: BroadcastExchangeExec if containsBatchLeaf(b) => b
    }
    assert(containsBatchLeaf(plan),
      s"the batch source must feed the verification leg, plan:\n$plan")
    assert(batchBroadcasts.isEmpty,
      s"no broadcast may carry the batch side, plan:\n$plan")
    }
  }
}
