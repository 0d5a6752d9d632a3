package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed upsert (MERGE) into a stored table — the lakehouse write
  * pattern the reference's config/ledger stores do row-at-a-time
  * (`common.js` dynamoDB putItem/updateItem upserts,
  * `processedFiles.js` re-injection) re-expressed as a set operation
  * an engine can run over billions of rows: a batch of updates
  * replaces the stored rows sharing its keys, inserts the rest, and
  * everything else survives untouched.
  *
  * Two exact formulations, both shuffle-minimal:
  *
  *  - `upsert` (batch-wins): `updates ∪ (stored ⟕̸ updateKeys)` — one
  *    anti-join on the key. The batch is authoritative; no version
  *    column needed. Duplicate keys WITHIN the batch are the caller's
  *    contract to resolve first (assertable via `requireUniqueKeys`).
  *  - `upsertLatest` (version-wins): union both sides and keep, per
  *    key, the row with the greatest (version, tieBreak) — survives
  *    out-of-order delivery where a stale update must NOT clobber a
  *    newer stored row. One hash aggregation via max_by-style struct
  *    ordering, no window.
  *
  * Scale design (100 TB stored / small batches): with the stored side
  * saved bucketed on the key ([[upsertStored]] preserves the layout,
  * the [[DedupIndex]]/[[Bm25Index]] convention), the anti-join reads
  * the stored table without an exchange and only the batch shuffles.
  * [[upsertStored]]'s managed-table write-back rewrites the WHOLE
  * table per merge (Spark's managed-table granularity) — fine for a
  * dimension, a wall at 100 TB. [[upsertBuckets]] is the scale path:
  * the table lives as a parquet directory PARTITIONED by a stable
  * key-hash bucket, a merge reads only the batch's touched buckets
  * (partition-pruned scan) and swaps only those bucket directories in
  * via the [[graft.ledger.Ledger]] compaction-rename discipline —
  * untouched buckets' files are never opened, never rewritten
  * (spec-pinned byte-identical), so merge cost is
  * O(touched_buckets · bucket_size), independent of table size.
  */
object StoredMerge {

  /** Batch-wins upsert: every stored row whose key appears in
    * `updates` is replaced; other stored rows pass through; new keys
    * insert. Column sets must match (positional-safe via unionByName).
    */
  def upsert(stored: DataFrame, updates: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val keys = updates.select(keyCols.map(col): _*).distinct()
    updates.unionByName(
      stored.join(keys, keyCols, "left_anti"))
  }

  /** Version-wins upsert: per key keep the single row with the
    * greatest (`versionCol`, `tieBreak`) across stored ∪ updates —
    * stale updates lose to newer stored rows. `tieBreak` must make
    * the order total within a key (e.g. a side marker or unique id);
    * ties on the full pair would otherwise pick an arbitrary winner.
    * One map-side-partial max_by aggregate on the key — no window,
    * no sort, skew-immune.
    */
  def upsertLatest(stored: DataFrame, updates: DataFrame, keyCols: Seq[String],
                   versionCol: String, tieBreak: String): DataFrame = {
    val all = stored.unionByName(updates)
    val dataCols = all.columns.filterNot(keyCols.contains)
    val packed = struct((Seq(versionCol, tieBreak).map(col) ++
      dataCols.filterNot(Seq(versionCol, tieBreak).contains).map(col)): _*)
    all.groupBy(keyCols.map(col): _*)
      .agg(max(packed).as("__w"))
      .select(keyCols.map(col) ++ dataCols.map(c => col(s"__w.$c").as(c)): _*)
  }

  /** Guard for [[upsert]]'s in-batch contract: fails fast if the batch
    * carries duplicate keys (which would double-insert).
    */
  def requireUniqueKeys(updates: DataFrame, keyCols: Seq[String]): Unit = {
    val dups = updates.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1).count()
    require(dups == 0, s"updates carry duplicate keys on ${keyCols.mkString(",")}")
  }

  /** Merge `updates` into the managed table `table` (batch-wins) and
    * write the result back under the SAME bucketed-on-key layout, so
    * the next merge's anti-join again reads the stored side
    * exchange-free. Writes via a temp table + rename-by-rewrite
    * (Spark managed tables can't self-overwrite mid-read).
    *
    * CRASH DISCIPLINE (the [[upsertBuckets]]/[[recoverMerge]] rule,
    * applied to the managed-table path): a crash between the DROP and
    * the RENAME leaves the table name dangling with the FULLY MERGED
    * result sitting in `<table>__merge_tmp` — entry repair completes
    * that swap before merging, and since the merge is batch-wins
    * (idempotent), "retry the merge" is always the correct caller
    * response, exactly as for the bucketed path. A crash before the
    * DROP leaves the live table untouched (the stale tmp is
    * overwritten on retry).
    */
  def upsertStored(spark: SparkSession, table: String, updates: DataFrame,
                   keyCols: Seq[String], buckets: Int = 32,
                   owner: String = WriterLease.jvmOwner): Unit =
    upsertStoredImpl(spark, table, updates, keyCols, buckets, owner)

  /** `crashAfterStep` test seam: 1 = tmp written, 2 = live table
    * dropped (the dangling-name window the entry repair exists for). */
  private[operators] def upsertStoredImpl(spark: SparkSession, table: String,
      updates: DataFrame, keyCols: Seq[String], buckets: Int,
      owner: String = WriterLease.jvmOwner,
      crashAfterStep: Int = Int.MaxValue): Unit =
    // same single-writer lease as the bucketed path: the entry repair
    // below would complete a CONCURRENT writer's interrupted swap and
    // then merge against it — serialize loudly instead. `owner` lets
    // same-JVM jobs with distinct writer identities conflict.
    WriterLease.withLease(spark, WriterLease.tableStatePath(spark, table), owner) {
      upsertStoredUnderLease(spark, table, updates, keyCols, buckets, crashAfterStep)
    }

  private def upsertStoredUnderLease(spark: SparkSession, table: String,
      updates: DataFrame, keyCols: Seq[String], buckets: Int,
      crashAfterStep: Int): Unit = {
    val tmp = s"${table}__merge_tmp"
    if (!spark.catalog.tableExists(table) && spark.catalog.tableExists(tmp))
      spark.sql(s"ALTER TABLE $tmp RENAME TO $table") // finish interrupted swap
    val merged = upsert(spark.table(table), updates, keyCols)
    merged.write.mode("overwrite")
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .saveAsTable(tmp)
    if (crashAfterStep <= 1)
      throw new IllegalStateException("simulated crash after tmp write")
    spark.sql(s"DROP TABLE $table")
    if (crashAfterStep <= 2)
      throw new IllegalStateException("simulated crash after live drop")
    // rename preserves the bucket spec — one write, no second rewrite
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
  }

  /** Stable key→bucket assignment for the partitioned-directory layout:
    * pmod(xxhash64(keys), n) — deterministic across sessions, so a
    * batch's buckets always land where the stored rows already live. */
  private def bucketOf(keyCols: Seq[String], nBuckets: Int) =
    pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets.toLong))

  /** Materialize `df` as a bucket-partitioned parquet directory:
    * `path/__bucket=0 … __bucket=n-1`. This is the layout
    * [[upsertBuckets]] merges into at touched-bucket granularity. */
  def writeBuckets(df: DataFrame, path: String, keyCols: Seq[String],
                   nBuckets: Int): Unit = {
    require(keyCols.nonEmpty, "need at least one key column")
    df.withColumn("__bucket", bucketOf(keyCols, nBuckets))
      .write.mode("overwrite").partitionBy("__bucket").parquet(path)
  }

  /** True while bucket-swap aside directories exist — i.e. an
    * [[upsertBuckets]] swap is mid-flight or died mid-swap. The
    * `.merge_tmp` staging dir deliberately does NOT count: it exists
    * for the whole (long) batch materialization, during which the live
    * tree is untouched and safely readable; the aside window is the
    * short per-bucket rename loop, the only time a live bucket can be
    * transiently ABSENT.
    */
  def pendingSwap(spark: SparkSession, path: String): Boolean = {
    val asideRoot = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + ".old_tmp")
    val fs = asideRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an EMPTY aside root is safe: it means the crash/abort hit before
    // any live bucket moved (mkdirs precedes the first rename), so the
    // live tree is complete — only actual aside ENTRIES mark buckets
    // that may be absent from the live tree
    fs.exists(asideRoot) && fs.listStatus(asideRoot).nonEmpty
  }

  /** Read a [[writeBuckets]] table back (the `__bucket` partition
    * column rides along — drop it for user-facing results).
    *
    * READER VISIBILITY (r11 contract): a read never silently returns a
    * half-swapped table. Between [[upsertBuckets]]'s two renames a
    * live bucket is transiently absent — a reader opening then would
    * silently MISS that bucket's rows — so opening while
    * [[pendingSwap]] holds raises instead; run [[recoverMerge]] (after
    * a crash) or retry after the swap window (healthy merge — the
    * window is the rename loop only). A frame opened BEFORE the swap
    * pins the pre-swap file listing: it reads the old bucket, or fails
    * loudly on the renamed-away files (`ignoreMissingFiles` stays
    * false) — old data or a loud error, never a silent mix.
    */
  def readBuckets(spark: SparkSession, path: String): DataFrame = {
    if (pendingSwap(spark, path))
      throw new IllegalStateException(
        s"stored table $path has an unfinished bucket swap (in-flight " +
          "merge or crash) — recoverMerge before reading, or retry " +
          "after the swap completes")
    spark.read.parquet(path)
  }

  /** Batch-wins merge into a [[writeBuckets]] directory, rewriting
    * ONLY the buckets the batch touches.
    *
    * 1. repair any interrupted prior merge ([[recoverMerge]]) so a
    *    crash can never leave the table unreadable across restarts.
    * 2. bucket the batch; the touched-bucket id list is ≤ nBuckets
    *    (bounded control-plane collect).
    * 3. read the stored side FILTERED to touched buckets — partition
    *    pruning means untouched buckets' files are never opened.
    * 4. batch-wins combine (updates ∪ stored-touched ⟕̸ batch keys),
    *    written to a sibling tmp directory partitioned the same way.
    * 5. per touched bucket, swap the live directory for the tmp one
    *    with the Ledger compaction-rename discipline: rename live
    *    aside to `<path>.old_tmp/__bucket=N` (OUTSIDE the live tree —
    *    an aside INSIDE it would be an unparseable partition value and
    *    brick partition discovery), rename tmp in, delete the aside.
    *    A complete copy of every bucket exists on disk between every
    *    pair of steps, and asides never pollute the live directory, so
    *    a crash at ANY point leaves each bucket either fully old or
    *    fully new — and [[recoverMerge]] at next entry rolls the
    *    interrupted bucket back (or clears a completed swap's aside).
    *    Renames that return false abort loudly (the Ledger
    *    `renameOrAbort` discipline) — a silent false followed by the
    *    aside delete would destroy the only complete copy.
    *
    * Crash convergence: a re-run of the SAME batch after recovery is
    * idempotent (batch-wins), so "retry the merge" is always the
    * correct caller response to a crash — some buckets may already
    * hold the new state, the rest catch up.
    *
    * SINGLE WRITER, lease-ENFORCED (r13 — previously contract-only):
    * concurrent merges would race on the shared tmp/aside directories
    * and one's entry recovery could roll back the other's in-flight
    * swap, so every merge runs under [[WriterLease]] on the table path
    * — a second writer fails LOUDLY before touching anything, and a
    * crashed writer's lock expires instead of wedging the table. Same-
    * owner holds are re-entrant (a pipeline commit wrapping its offsets
    * merge shares one lease); distinct jobs pass distinct owners.
    *
    * Untouched bucket directories are untouched on disk (spec pins
    * their files byte-identical), so merge cost scales with the
    * BATCH's key spread, not the table: 100 TB stored at 4096 buckets
    * ≈ 25 GB per touched bucket of rewrite, zero for the rest.
    */
  def upsertBuckets(spark: SparkSession, path: String, updates: DataFrame,
                    keyCols: Seq[String], nBuckets: Int,
                    owner: String = WriterLease.jvmOwner): Unit =
    upsertBucketsImpl(spark, path, updates, keyCols, nBuckets, owner)

  /** `crashAfterStep` is a test seam: throw after step N (1=tmp
    * written, 2=first live renamed aside, 3=first tmp renamed in) to
    * exercise [[recoverMerge]].
    */
  private[graft] def upsertBucketsImpl(spark: SparkSession, path: String,
      updates: DataFrame, keyCols: Seq[String], nBuckets: Int,
      owner: String = WriterLease.jvmOwner,
      crashAfterStep: Int = Int.MaxValue): Unit = {
    require(keyCols.nonEmpty, "need at least one key column")
    WriterLease.withLease(spark, path, owner) {
      mergeUnderLease(spark, path, updates, keyCols, nBuckets, crashAfterStep)
    }
  }

  private def mergeUnderLease(spark: SparkSession, path: String,
      updates: DataFrame, keyCols: Seq[String], nBuckets: Int,
      crashAfterStep: Int): Unit = {
    recoverMerge(spark, path)
    val upd = updates.withColumn("__bucket", bucketOf(keyCols, nBuckets))
    val touched = upd.select(col("__bucket")).distinct()
      .collect().map(_.getLong(0)).sorted
    if (touched.isEmpty) return
    val stored = readBuckets(spark, path)
      .filter(col("__bucket").isin(touched: _*))
    val keys = upd.select(keyCols.map(col): _*).distinct()
    val merged = upd.unionByName(stored.join(keys, keyCols, "left_anti"))
    val tmp = path.stripSuffix("/") + ".merge_tmp"
    val asideRoot = path.stripSuffix("/") + ".old_tmp"
    merged.write.mode("overwrite").partitionBy("__bucket").parquet(tmp)
    if (crashAfterStep <= 1)
      throw new IllegalStateException("simulated crash after step 1")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(asideRoot))
    touched.zipWithIndex.foreach { case (b, i) =>
      val live = new org.apache.hadoop.fs.Path(s"$path/__bucket=$b")
      val next = new org.apache.hadoop.fs.Path(s"$tmp/__bucket=$b")
      val aside = new org.apache.hadoop.fs.Path(s"$asideRoot/__bucket=$b")
      if (fs.exists(live))
        renameOrAbort(fs, live, aside)
      if (crashAfterStep <= 2 && i == 0)
        throw new IllegalStateException("simulated crash after step 2")
      renameOrAbort(fs, next, live)
      if (crashAfterStep <= 3 && i == 0)
        throw new IllegalStateException("simulated crash after step 3")
      fs.delete(aside, true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    fs.delete(new org.apache.hadoop.fs.Path(asideRoot), true)
  }

  private def renameOrAbort(f: org.apache.hadoop.fs.FileSystem,
                            src: org.apache.hadoop.fs.Path,
                            dst: org.apache.hadoop.fs.Path): Unit =
    if (!f.rename(src, dst))
      throw new java.io.IOException(
        s"bucket swap aborted: rename $src -> $dst returned false")

  /** Finish an interrupted [[upsertBuckets]] swap — called on entry to
    * every merge, and safe to call any time (no-op on a clean table).
    * For each stray aside `<path>.old_tmp/__bucket=N`:
    *  - live bucket present → that bucket's swap completed; drop the
    *    aside;
    *  - live bucket missing → the crash hit between the two renames;
    *    ROLL BACK (rename the aside home) — the bucket returns to its
    *    pre-merge state, complete, and the caller's retry re-merges it.
    * Then drop the stale `.merge_tmp` (garbage once asides are
    * resolved; rolling back never needs it, and a retry rewrites it).
    */
  def recoverMerge(spark: SparkSession, path: String): Unit = {
    val asideRoot = new org.apache.hadoop.fs.Path(
      path.stripSuffix("/") + ".old_tmp")
    val fs = asideRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(asideRoot)) {
      fs.listStatus(asideRoot).foreach { st =>
        val name = st.getPath.getName
        val live = new org.apache.hadoop.fs.Path(s"$path/$name")
        if (fs.exists(live)) fs.delete(st.getPath, true)
        else renameOrAbort(fs, st.getPath, live)
      }
      fs.delete(asideRoot, true)
    }
    val tmp = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + ".merge_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }
}
