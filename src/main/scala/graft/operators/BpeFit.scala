package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding merge fitting — the tokenizer-training
  * step of a pretraining pipeline (Sennrich et al. 2016's algorithm at
  * corpus scale). [[graft.functions.TextFunctions.bpeishTokens]] applies
  * a FIXED vocabulary; this operator LEARNS the merge table.
  *
  * Scale design (the part that matters at 100 TB): BPE never iterates
  * over the corpus — it iterates over the word-frequency table. So:
  *
  *  - `wordCounts` is the only corpus-sized pass: pre-tokenize, one
  *    groupBy shuffle on the word string, done. 100 TB of text contracts
  *    to O(distinct words) rows (~10^8 — still a distributed table, NOT
  *    driver state).
  *  - each ROUND is a flatMap → groupBy-sum over the vocab table: pair
  *    counts weighted by word frequency. Shuffle payload is
  *    (left, right, count) — never documents, never the corpus.
  *  - one round yields up to `batch` merges ([[selectCompatible]]: a
  *    symbol-disjoint prefix of the top-K under the total order
  *    (count desc, left asc, right asc), with a strict count margin) —
  *    provably identical to merging one pair at a time, so a 32k-merge
  *    production fit is ~32k/batch vocab-sized jobs, not 32k
  *    sequential ones. Deterministic across partitionings and cluster
  *    sizes.
  *  - the learned merge list itself is O(numMerges) driver state — it
  *    IS the model artifact.
  *
  * Each iteration re-materializes the symbolized vocab via
  * `localCheckpoint` ([[Clusters]]' pattern): without it the plan nests
  * one map per merge and Catalyst lineage blows up long before data
  * size matters.
  *
  * Measured deep fit (sf0.1, local[32], batch 64): the word-level vocab
  * of the synthetic corpus saturates at ~89 merges, so the fit ran at
  * DOCUMENT granularity — each document's first 512 chars as one symbol
  * sequence, via [[fitWithRounds]] with minCount 2. Exact parity mode:
  * 1024 merges in 564 rounds, ~440 s (Zipfian ties collapse the strict
  * margin); approximate mode: 1024 merges in 36 rounds, ~275 s — the
  * O(numMerges/batch) scale path.
  */
object BpeFit {

  /** One learned merge: at `rank`, (`left`,`right`) was the most
    * frequent adjacent symbol pair, occurring `count` times (weighted
    * by word frequency).
    */
  final case class Merge(rank: Int, left: String, right: String, count: Long)

  /** A vocabulary word as its current symbol sequence + corpus count. */
  final case class SymWord(syms: Seq[String], count: Long)

  /** The corpus-sized pass: pre-tokenize and count distinct words, then
    * explode each word into single-character symbols. One shuffle, on
    * the word string.
    */
  def wordCounts(docs: DataFrame, textCol: String): Dataset[SymWord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(explode(graft.functions.TextFunctions.bpeishTokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .as[(String, Long)]
      .map { case (w, c) => SymWord(w.map(_.toString), c) }
  }

  /** Left-to-right non-overlapping merge of adjacent (a,b) → a+b —
    * the standard BPE application rule ("aaa" with merge (a,a) gives
    * ["aa","a"], not two overlapping pairs).
    */
  def mergePair(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Adjacent-pair counts over the current symbolized vocab, weighted
    * by word frequency. Overlap-aware: "aaa" contributes 1 to (a,a) per
    * word occurrence under left-to-right application, so count
    * non-overlapping occurrences — this keeps the learned `count` equal
    * to the number of replacements the merge will actually perform.
    */
  private def pairCounts(words: Dataset[SymWord]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    words.flatMap { sw =>
      val pairs = Seq.newBuilder[(String, String, Long)]
      var i = 0
      while (i + 1 < sw.syms.length) {
        pairs += ((sw.syms(i), sw.syms(i + 1), sw.count))
        // skip the right symbol if it would start an identical pair:
        // non-overlapping left-to-right semantics
        if (i + 2 < sw.syms.length && sw.syms(i) == sw.syms(i + 1) &&
            sw.syms(i + 1) == sw.syms(i + 2)) i += 2
        else i += 1
      }
      pairs.result()
    }.toDF("left", "right", "c")
      .groupBy(col("left"), col("right"))
      .agg(sum(col("c")).cast("long").as("count"))
  }

  /** A fit round's top-k merge candidates under the selection's total
    * order (count desc, left, right), minCount-filtered — the exact
    * leg an external engine can replay for the FIRST round (single-
    * char symbols ⇒ pure SQL over the raw text), pinning the counting
    * semantics and the argmax the whole fit builds on (q54's oracle).
    * Global top-k is TakeOrderedAndProject — never a global sort.
    */
  def roundCandidates(words: Dataset[SymWord], k: Int,
                      minCount: Long = 2L): DataFrame =
    pairCounts(words).filter(col("count") >= minCount)
      .orderBy(col("count").desc, col("left"), col("right"))
      .limit(k)

  /** Greedy batch selection with EXACT sequential parity (driver-side,
    * over the round's top-K candidates sorted by (count desc, left,
    * right)):
    *
    *  1. select candidates in order while each is symbol-DISJOINT from
    *     every already-selected pair, up to `batch`;
    *  2. note the first unselected candidate's count (`stopCount` —
    *     interference or the batch cap) and DROP any selected pair
    *     tying with it (the strict margin).
    *
    * Why this replays the sequential fit exactly: a selected pair's
    * count is INVARIANT under applying the pairs selected before it
    * (disjoint support — no adjacency involving its symbols is created
    * or destroyed), while every other pair the sequential algorithm
    * could see at that step is strictly below it: old pairs sharing a
    * merged symbol only lose occurrences, and a NEW pair (x, ab) is
    * bounded by the old count of (x, a) — a pair sharing `a`, hence
    * unselected, hence ≤ `stopCount` < the selected minimum. Ties
    * among SELECTED pairs resolve by the same (left, right) order the
    * sequential argmax uses. So the sequential fit picks exactly this
    * list, in this order.
    *
    * The documented tie-case: when the top candidate itself ties with
    * the first interfering one, the margin empties the selection — fall
    * back to the top-1 pair, which IS the sequential step.
    */
  def selectCompatible(cands: Seq[(String, String, Long)],
                       batch: Int): Seq[(String, String, Long)] = {
    val support = scala.collection.mutable.HashSet.empty[String]
    val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var stopCount = -1L
    var stopped = false
    val it = cands.iterator
    while (it.hasNext && !stopped) {
      val c = it.next()
      if (sel.length >= batch || support(c._1) || support(c._2)) {
        stopCount = c._3; stopped = true
      } else { sel += c; support += c._1; support += c._2 }
    }
    val safe = if (stopped) sel.filter(_._3 > stopCount) else sel
    if (safe.isEmpty && cands.nonEmpty) Seq(cands.head) else safe.toSeq
  }

  /** Approximate batch selection: scan the whole candidate list,
    * SKIPPING interfering pairs instead of stopping at the first one —
    * every maximal symbol-disjoint prefix-greedy subset up to `batch`.
    *
    * This abandons exact sequential parity (the sequential fit might
    * have picked a skipped pair first; merge-table order can differ
    * and ranks need not be count-monotone across rounds) in exchange
    * for a GUARANTEED fill rate: on Zipfian pair distributions the
    * strict margin of [[selectCompatible]] collapses to ~1–2 merges
    * per round (ties at the stopper count empty the batch), while
    * skip-and-continue keeps rounds at O(numMerges/batch). Within a
    * round the counts are still exact — selected pairs are mutually
    * disjoint, so applying them in rank order performs exactly `count`
    * replacements each. This is the standard trade in distributed BPE
    * trainers; use it for production-size merge tables, the exact mode
    * for oracle work.
    */
  def selectGreedy(cands: Seq[(String, String, Long)],
                   batch: Int): Seq[(String, String, Long)] = {
    val support = scala.collection.mutable.HashSet.empty[String]
    val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val it = cands.iterator
    while (it.hasNext && sel.length < batch) {
      val c = it.next()
      if (!support(c._1) && !support(c._2)) {
        sel += c; support += c._1; support += c._2
      }
    }
    sel.toSeq
  }

  /** Learn `numMerges` merges. Stops early when no pair reaches
    * `minCount`. The per-iteration shuffle is vocab-sized; the corpus
    * is touched exactly once (inside [[wordCounts]], if `docs` came
    * from there).
    *
    * Rounds are BATCHED: each vocab-sized job yields up to `batch`
    * merges via [[selectCompatible]] — bitwise identical to the
    * sequential (batch=1) fit by the strict-margin argument there, so
    * a 32k-merge production fit takes ~32k/batch round-trips instead
    * of one full Spark job per merge (the r4 scale finding). The
    * worst case (every round's top pairs mutually interfering)
    * degrades gracefully to one merge per round, never to a wrong
    * merge table.
    */
  def fit(words0: Dataset[SymWord], numMerges: Int, minCount: Long = 2L,
          batch: Int = 64, exact: Boolean = true): Seq[Merge] =
    fitWithRounds(words0, numMerges, minCount, batch, exact)._1

  /** [[fit]] plus the number of vocab-sized rounds it took — the scale
    * diagnostic (exact mode on tie-heavy distributions degrades toward
    * one merge per round; approximate mode stays ~numMerges/batch).
    */
  def fitWithRounds(words0: Dataset[SymWord], numMerges: Int,
                    minCount: Long = 2L, batch: Int = 64,
                    exact: Boolean = true): (Seq[Merge], Int) = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val spark = words0.sparkSession
    import spark.implicits._
    var words = words0.localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var rounds = 0
    var done = false
    while (rank < numMerges && !done) {
      val m = math.min(batch, numMerges - rank)
      // K > cap so the cap's stopper count is always observed; a list
      // truncated by the minCount filter only hides pairs strictly
      // below every selected count, which the margin never needs.
      // Approximate mode scans past interference, so give it a deep
      // pool to fill the batch from: the head of a Zipfian pair
      // distribution concentrates on few symbols (everything touches
      // 'e' or space), and disjoint picks come from well down the
      // list. The collect is still O(k) driver rows — trivial.
      val k = if (exact) 2 * m + 8 else 32 * m + 64
      val top = pairCounts(words)
        .orderBy(col("count").desc, col("left"), col("right"))
        .limit(k).as[(String, String, Long)].collect().toSeq
        .filter(_._3 >= minCount)
      if (top.isEmpty) done = true
      else {
        rounds += 1
        val sel = if (exact) selectCompatible(top, m) else selectGreedy(top, m)
        sel.foreach { case (a, b, c) => rank += 1; merges += Merge(rank, a, b, c) }
        val roundPairs = sel.map(p => (p._1, p._2))
        val prev = words
        words = words.map(sw => SymWord(applyMerges(sw.syms, roundPairs), sw.count))
          .localCheckpoint()
        prev.unpersist()
      }
    }
    (merges.result(), rounds)
  }

  /** Apply a learned merge list to one symbol sequence, in rank order —
    * the standard BPE segmenter (each merge replayed with the same
    * non-overlapping left-to-right rule it was counted under, so
    * encoding a training word reproduces its training segmentation).
    */
  def applyMerges(syms: Seq[String], merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(syms) { case (s, (a, b)) =>
      if (s.lengthCompare(2) < 0) s else mergePair(s, a, b)
    }

  /** Tokenize a corpus with a fitted merge table. The scale shape is a
    * DICTIONARY encode: the merge loop runs once per DISTINCT word (the
    * same contraction [[wordCounts]] exploits — 100 TB of text is
    * ~10^8 distinct words), and documents join the encoded dictionary
    * by word. Shuffles: one distinct on the word string, one join on
    * the word string; the merge list is closure-captured driver state
    * of O(numMerges).
    *
    * Output: (doc_id, word_pos, word, bpe) — one row per word
    * occurrence, `bpe` the word's symbol sequence.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = merges.sortBy(_.rank).map(m => (m.left, m.right))
    val words = docs.select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextFunctions.bpeishTokens(col(textCol))))
      .select(col("doc_id"), col("pos").as("word_pos"), col("col").as("word"))
    val dict = words.select(col("word")).distinct().as[String]
      .map(w => (w, applyMerges(w.map(_.toString), pairs)))
      .toDF("word", "bpe")
    words.join(dict, Seq("word"))
      .select(col("doc_id"), col("word_pos"), col("word"), col("bpe"))
  }

  /** Per-document token stats for a fitted tokenizer, with the
    * round-trip invariant as a `pass` column: concatenating each
    * word's BPE symbols must reproduce the word exactly (a lossy
    * merge application would flip it). One IEEE division for the
    * compression ratio.
    */
  def encodeStats(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[Merge]): DataFrame =
    encode(docs, idCol, textCol, merges)
      .withColumn("ok", concat_ws("", col("bpe")) === col("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("bpe"))).cast("long").as("n_bpe_tokens"),
        sum(length(col("word"))).cast("long").as("n_chars"),
        min(col("ok")).as("pass"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_bpe_tokens"))

  /** End-to-end: corpus → merge table, as a DataFrame for the query
    * surface. `pass` encodes the algorithm's invariant — best-pair
    * counts are monotone non-increasing (a merged symbol's successor
    * pairs are bounded by the pair count that formed it) — so a
    * counting regression flips rows even without an oracle.
    */
  def fitTable(spark: SparkSession, docs: DataFrame, textCol: String,
               numMerges: Int, minCount: Long = 2L): DataFrame = {
    import spark.implicits._
    val merges = fit(wordCounts(docs, textCol), numMerges, minCount)
    val monotone = merges.sliding(2).forall {
      case Seq(x, y) => y.count <= x.count
      case _         => true
    }
    merges.map(m => (m.rank, m.left, m.right, m.count, monotone && m.count >= minCount))
      .toDF("rank", "left", "right", "count", "pass")
  }
}
