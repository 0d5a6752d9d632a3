package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming deduplication for a continuously-arriving document corpus —
  * the streaming dual of [[graft.operators.Dedup]]'s batch paths, for
  * pipelines that admit training data incrementally instead of in bulk.
  *
  * Two levels, mirroring the batch family:
  *  - exact: first-seen admission keyed by content fingerprint
  *    (xxhash64 of the normalized text). The fingerprint — not the
  *    document — is the shuffle and state key, so state is one small
  *    entry per distinct content and document bodies never ride a
  *    shuffle into the dedup operator.
  *  - near-dup: first-seen admission per MinHash band bucket. A
  *    document is admitted iff it claims ALL of its band buckets;
  *    any previously-seen bucket ⇒ candidate dup ⇒ suppressed.
  *    (Streaming can't afford the batch path's exact-Jaccard
  *    verification join per arrival, so this is the recall-biased
  *    variant — tune k/bands like the batch s-curve.)
  *
  * State is bounded by a per-key TTL (processing-time timeout): a
  * fingerprint or bucket unseen for `stateTtlMs` ages out, trading
  * perfect global dedup for bounded state — the same tradeoff as
  * `dropDuplicatesWithinWatermark`, but content-keyed and explicit.
  */
object StreamingDedup {

  final case class Doc(doc_id: Long, text: String)
  final case class Admitted(doc_id: Long, fingerprint: Long)
  /** One (doc, band) ownership claim — see [[admitted]]. */
  final case class Claim(doc_id: Long, band: Int)

  /** Keyed state entry (public: the state encoder's generated code must
    * reach the constructor). */
  final case class SeenState(firstDocId: Long, firstSeenMs: Long)

  /** The one state transition every operator here shares: first arrival
    * per key wins (lowest doc_id within a micro-batch), everything later
    * is suppressed, entries age out after `ttlMs`.
    */
  private def firstSeen[K, R, T](extractId: R => Long, emit: (Long, K) => T,
      now: () => Long, ttlMs: Long): (K, Iterator[R], GroupState[SeenState]) => Iterator[T] =
    (key, rows, state) =>
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        val out =
          if (state.exists) Iterator.empty
          else rows.map(extractId).minOption match {
            case Some(id) =>
              state.update(SeenState(id, now()))
              Iterator.single(emit(id, key))
            case None => Iterator.empty
          }
        if (state.exists) state.setTimeoutDuration(ttlMs)
        out
      }

  private def fingerprinted(docs: Dataset[Doc]): DataFrame =
    docs.select(col("doc_id"),
      xxhash64(lower(trim(col("text")))).as("fingerprint"))

  /** Exact streaming dedup: emits only the FIRST document per content
    * fingerprint; later arrivals with the same normalized content are
    * dropped. Deterministic within a micro-batch (lowest doc_id wins).
    */
  def exact(spark: SparkSession, docs: Dataset[Doc],
            stateTtlMs: Long = 86400000L,
            now: () => Long = () => System.currentTimeMillis()): Dataset[Admitted] = {
    import spark.implicits._
    fingerprinted(docs)
      .as[(Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        firstSeen[Long, (Long, Long), Admitted](_._1, (id, fp) => Admitted(id, fp),
          now, stateTtlMs))
  }

  /** Seed state for [[exactSeeded]]: one fingerprint → first-doc entry
    * per distinct normalized content in an existing corpus (same
    * fingerprint arithmetic as [[exact]]).
    */
  def exactSeedState(corpus: DataFrame, idCol: String, textCol: String,
                     nowMs: Long = System.currentTimeMillis()): Dataset[(Long, SeenState)] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .groupBy(xxhash64(lower(trim(col(textCol)))).as("fingerprint"))
      .agg(min(col(idCol).cast("long")).as("doc_id"))
      .as[(Long, Long)]
      .map { case (fp, id) => (fp, SeenState(id, nowMs)) }
  }

  /** [[exact]] bootstrapped from an existing corpus: the query starts
    * with the corpus's fingerprints already in its state store, so
    * replays of documents admitted BEFORE the query existed are
    * suppressed without replaying the corpus through the stream.
    * Seeded entries register their TTL on first contact; untouched ones
    * persist for the life of the query (the batch corpus has no arrival
    * time to age from).
    */
  def exactSeeded(spark: SparkSession, docs: Dataset[Doc],
                  initial: Dataset[(Long, SeenState)],
                  stateTtlMs: Long = 86400000L,
                  now: () => Long = () => System.currentTimeMillis()): Dataset[Admitted] = {
    import spark.implicits._
    fingerprinted(docs)
      .as[(Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout,
        initial.groupByKey(_._1).mapValues(_._2))(
        firstSeen[Long, (Long, Long), Admitted](_._1, (id, fp) => Admitted(id, fp),
          now, stateTtlMs))
  }

  /** Exact streaming dedup on Spark 4's `transformWithState` — the same
    * first-seen-per-fingerprint semantics as [[exact]], expressed with
    * the new `StatefulProcessor` API where TTL is DECLARATIVE
    * (`TTLConfig` on the state handle): no manual timeout registration
    * or `hasTimedOut` branches — the store expires entries itself, and
    * an expired fingerprint readmits the next arrival exactly like the
    * timeout path of the old API.
    *
    * Requires the RocksDB state store provider (the only provider the
    * operator supports): the deployment sets
    * `spark.sql.streaming.stateStore.providerClass` to
    * `RocksDBStateStoreProvider`; state stays off-heap-bounded at any
    * corpus rate.
    */
  def exactTws(spark: SparkSession, docs: Dataset[Doc],
               stateTtlMs: Long = 86400000L): Dataset[Admitted] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

    class ExactProcessor extends StatefulProcessor[Long, (Long, Long), Admitted] {
      @transient private var seen: ValueState[SeenState] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        seen = getHandle.getValueState[SeenState]("seen",
          org.apache.spark.sql.Encoders.product[SeenState],
          TTLConfig(java.time.Duration.ofMillis(stateTtlMs)))
      override def handleInputRows(fp: Long, rows: Iterator[(Long, Long)],
                                   timers: TimerValues): Iterator[Admitted] =
        if (seen.exists()) Iterator.empty
        else rows.map(_._1).minOption match {
          case Some(id) =>
            seen.update(SeenState(id, timers.getCurrentProcessingTimeInMs()))
            Iterator.single(Admitted(id, fp))
          case None => Iterator.empty
        }
    }

    docs
      .select(col("doc_id"),
        xxhash64(lower(trim(col("text")))).as("fingerprint"))
      .as[(Long, Long)]
      .groupByKey(_._2)
      .transformWithState(new ExactProcessor,
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Near-dup suppression, stage 1: first-seen-wins ownership per
    * MinHash band bucket. Emits one [[Claim]] per bucket a document is
    * the first ever to occupy; documents colliding with any seen bucket
    * claim fewer than `bands` and are rejected by [[admitted]].
    *
    * Document text is projected away before the exchange — only
    * (doc_id, band, 8-byte bucket hash) shuffles.
    */
  def nearDupClaims(spark: SparkSession, docs: Dataset[Doc],
                    k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                    stateTtlMs: Long = 86400000L,
                    now: () => Long = () => System.currentTimeMillis()): Dataset[Claim] = {
    import spark.implicits._
    bandedBuckets(docs, k, bands, shingleN)
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        firstSeen[(Int, Long), (Long, Int, Long), Claim](_._1,
          (id, key) => Claim(id, key._1), now, stateTtlMs))
  }

  /** Seed state for [[nearDupClaimsSeeded]] from a
    * [[graft.operators.DedupIndex.saveCorpus]] `<table>_buckets` table —
    * the banding arithmetic is identical on both sides, so the stored
    * batch corpus's bucket ownership carries straight into streaming
    * admission: one (band, bucket) → first-doc entry per stored bucket.
    */
  def claimSeedState(spark: SparkSession, bucketsTable: String,
                     nowMs: Long = System.currentTimeMillis()): Dataset[((Int, Long), SeenState)] = {
    import spark.implicits._
    spark.table(bucketsTable)
      .groupBy(col("band"), col("band_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .as[(Int, Long, Long)]
      .map { case (band, bucket, id) => ((band, bucket), SeenState(id, nowMs)) }
  }

  /** [[nearDupClaims]] bootstrapped from stored corpus buckets: arrivals
    * colliding with ANY corpus-owned bucket fail their all-bands claim
    * and are suppressed, exactly as if the corpus had streamed first.
    */
  def nearDupClaimsSeeded(spark: SparkSession, docs: Dataset[Doc],
                          initial: Dataset[((Int, Long), SeenState)],
                          k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                          stateTtlMs: Long = 86400000L,
                          now: () => Long = () => System.currentTimeMillis()): Dataset[Claim] = {
    import spark.implicits._
    bandedBuckets(docs, k, bands, shingleN)
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout,
        initial.groupByKey(_._1).mapValues(_._2))(
        firstSeen[(Int, Long), (Long, Int, Long), Claim](_._1,
          (id, key) => Claim(id, key._1), now, stateTtlMs))
  }

  /** (doc_id, band, bucket) stream rows — [[Dedup.minhashLSH]]'s banding
    * arithmetic; text is projected away before any exchange.
    */
  private def bandedBuckets(docs: Dataset[Doc], k: Int, bands: Int,
                            shingleN: Int): Dataset[(Long, Int, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.expressions.{minhash64, shingles_fast}
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand = k / bands
    docs
      .select(col("doc_id"),
        minhash64(array_distinct(shingles_fast(
          graft.functions.TextFunctions.tokens(col("text")), shingleN)), k).as("sig"))
      .select(col("doc_id"), explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          xxhash64(concat_ws(",",
            transform(slice(col("sig"), b * rowsPerBand + lit(1), lit(rowsPerBand)),
              v => v.cast("string"))), b).as("bucket")))).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bucket"))
      .as[(Long, Int, Long)]
  }

  final case class Vec(doc_id: Long, embedding: Array[Float])

  /** Embedding near-dup suppression: first-seen-wins ownership per
    * random-hyperplane signature band — the streaming dual of
    * [[graft.operators.Similarity.cosineDupPairs]], same claim/admit
    * protocol as [[nearDupClaims]] (admit iff ALL bands claimed, fold
    * with [[admitted]]). Signatures come from the codegen'd
    * [[graft.functions.HyperplaneSig]] expression, so only
    * (doc_id, band, bucket) ever reaches the exchange and the state
    * store — embeddings never shuffle.
    */
  def embeddingClaims(spark: SparkSession, vecs: Dataset[Vec],
                      bits: Int = 16, bands: Int = 2, dim: Int = 64,
                      seed: Long = 42L,
                      stateTtlMs: Long = 86400000L,
                      now: () => Long = () => System.currentTimeMillis()): Dataset[Claim] = {
    import spark.implicits._
    require(bits % bands == 0, "bands must divide bits")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    val planes = graft.operators.Similarity.planes(bits, dim, seed)

    vecs
      .select(col("doc_id"),
        graft.functions.expressions.hyperplane_sig(col("embedding"), planes).as("sig"))
      .select(col("doc_id"), explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          call_function("shiftright", col("sig"), b * lit(bandBits))
            .bitwiseAND(lit(mask)).as("bucket")))).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.bucket"))
      .as[(Long, Int, Long)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        firstSeen[(Int, Long), (Long, Int, Long), Claim](_._1,
          (id, key) => Claim(id, key._1), now, stateTtlMs))
  }

  /** Near-dup suppression, stage 2: admit documents that claimed every
    * band. All of a document's claims land in the same micro-batch (its
    * band rows flow through one trigger), so this is a BATCH-side fold —
    * apply it inside `foreachBatch` over the claims stream (a streaming
    * aggregation downstream of a stateful operator would need its own
    * state for no benefit).
    */
  def admitted(claimsBatch: DataFrame, bands: Int): DataFrame =
    claimsBatch.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_claimed"))
      .filter(col("n_claimed") === bands)
      .select(col("doc_id"), col("n_claimed").cast("int").as("n_new_bands"))
}
