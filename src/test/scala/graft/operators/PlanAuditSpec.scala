package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Plan-shape regression guards for the scale claims the docs make:
  * which key an exchange partitions on is THE 100 TB design decision
  * (hashes-not-strings, group-key-not-global), so these assertions pin
  * it. String-level but intentionally narrow: each looks only for the
  * partitioning key of the relevant exchange.
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("q46: gram count/join exchanges partition on the 64-bit hash, never the gram string") {
    val p = plan(graft.queries.Queries.q46BigramCommonness(spark, sf))
    assert(p.contains("hashpartitioning(gh#"), "expected exchanges keyed on gh")
    assert(!p.contains("hashpartitioning(gram#"),
      "gram STRINGS must not ride a shuffle")
  }

  test("q42: boilerplate exchanges partition on line_hash, never the line text") {
    val p = plan(graft.queries.Queries.q42LineDedup(spark, sf))
    assert(p.contains("hashpartitioning(line_hash#"))
    assert(!p.contains("hashpartitioning(line#"),
      "line text must not be a shuffle key")
  }

  test("q43: the only pre-agg exchange is the window's group-key partition") {
    val p = plan(graft.queries.Queries.q43SeqPacking(spark, sf))
    assert(p.contains("hashpartitioning(source#"),
      "window must partition by the pack group key")
    assert(!p.contains("SinglePartition"),
      "packing must never funnel through one partition")
  }

  test("q41/q47/q50: pure curation map work scans only the columns it needs") {
    val p41 = plan(graft.queries.Queries.q41SplitAssign(spark, sf))
    assert(p41.contains("ReadSchema: struct<doc_id:bigint>"),
      "split assignment must prune to doc_id only")
    val p47 = plan(graft.queries.Queries.q47StratifiedSample(spark, sf))
    assert(p47.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      "stratified sample must prune to (doc_id, lang)")
  }

  test("q56: span-dedup exchanges partition on gram_hash / doc_id, never text") {
    val p = plan(graft.queries.Queries.q56SpanDedup(spark, sf))
    assert(p.contains("hashpartitioning(gram_hash#"),
      "duplicate detection must shuffle on the 64-bit gram hash")
    assert(p.contains("hashpartitioning(doc_id#"),
      "span merge must partition by doc_id (parallel across docs)")
    assert(!p.contains("hashpartitioning(toks#") &&
      !p.contains("hashpartitioning(text#"),
      "token/text payloads must not be shuffle keys")
    assert(!p.contains("SinglePartition"),
      "no stage may funnel through one partition")
  }

  test("q58: importance exchanges partition on gram_hash / doc_id only") {
    val p = plan(graft.queries.Queries.q58ImportanceWeights(spark, sf))
    assert(p.contains("hashpartitioning(gram_hash#"))
    assert(p.contains("hashpartitioning(doc_id#"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q60: as-of runs as one keyed exchange + window — no nested loop") {
    val p = plan(graft.queries.Queries.q60AsofJoin(spark, sf))
    assert(p.contains("hashpartitioning(user_id#"),
      "union-and-carry must partition by the join key")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "as-of must never plan as a nested loop")
    assert(!p.contains("SinglePartition"),
      "no global window allowed")
  }

  test("q63: chunking is shuffle-free map work (only the output sort exchanges)") {
    val p = plan(graft.queries.Queries.q63ChunkManifest(spark, sf))
    assert(!p.contains("hashpartitioning"),
      "chunk expansion must not hash-shuffle anything")
  }

  test("q66: the recipe joins broadcast; expansion adds no hash shuffle") {
    val p = plan(graft.queries.Queries.q66EpochExpand(spark, sf))
    assert(p.contains("BroadcastExchange"),
      "the 20-row recipe must broadcast")
    assert(!p.contains("hashpartitioning"),
      "epoch expansion is scan-level work — no hash exchange allowed")
  }

  test("BpeFit.encode: dictionary join keyed on the word string; never cartesian") {
    // disable broadcast so the SCALE shape is planned (at 100 TB
    // neither the corpus nor the 10^8-word dictionary broadcasts):
    // must be an equi-join exchanging on word, merge list closure state
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      val merges = Seq(BpeFit.Merge(1, "t", "h", 100L), BpeFit.Merge(2, "e", "r", 50L))
      val p = plan(BpeFit.encode(docs, "doc_id", "text", merges))
      assert(p.contains("hashpartitioning(word#"),
        "the dictionary join must exchange on the word string")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        "encode must never degrade to a cross join")
      assert(!p.contains("BroadcastExchange"),
        "nothing may broadcast once the threshold is off — the merge " +
        "list rides the closure, not a join")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q72: LM scoring joins key on gram/prefix hashes, never gram strings; no cartesian") {
    // broadcast off: at 100 TB the model tables are vocab-sized and
    // MUST exchange on their hash keys
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(graft.queries.Queries.q72NgramLm(spark, sf))
      assert(p.contains("hashpartitioning(gram_hash#") &&
        p.contains("hashpartitioning(prefix_hash#"),
        "scoring joins must exchange on the 64-bit gram/prefix hashes")
      assert(!p.contains("CartesianProduct"),
        "no unbounded cross join anywhere in LM scoring")
      assert(!p.contains("hashpartitioning(toks#") && !p.contains("hashpartitioning(text#"),
        "document text must never be a shuffle key")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q73: BM25 contracts to query-term hits at the scan; only scalar broadcasts cross") {
    val df = graft.queries.Queries.q73Bm25Stats(spark, sf)
    val p = plan(df)
    // the term filter must sit below the tf aggregation (scan-level
    // contraction — the exploded token stream never shuffles whole)
    assert(p.contains("join,hash,customer") || p.contains("join, hash, customer"),
      s"expected the literal query-term filter in the plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      "corpus scalars must broadcast (1-row), not cartesian")
    assert(p.contains("hashpartitioning(doc_id#") || p.contains("hashpartitioning(term#"),
      "tf aggregation exchanges on (doc_id, term)")
  }

  test("q74: no full-corpus window sort on the lang key — the median cut is bracketed") {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThanOrEqual}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Join => LJoin, Window => LWindow}
    // another suite may have run the SHIPPED q74 in this session and
    // left its (langs-sized) gate cache registered — a cache hit would
    // swap the whole plan for an InMemoryRelation and hide the windows
    // this test inspects
    spark.catalog.clearCache()
    // the PRE-materialization gate plan (the shipped q74 executes this
    // then releases its cache behind an InMemoryRelation)
    val (scored, df) = graft.queries.Queries.q74GatePlan(spark, sf)
    // the gate must never rank the corpus: row_number over a ~10-value
    // skewed lang key = the dominant language through ONE task's sort
    assert(!plan(df).contains("row_number"),
      "the gate must not contain a rank window")
    val winds = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(winds.nonEmpty, "expected the bracketed cumsum window")
    winds.foreach { w =>
      if (w.partitionSpec.exists(_.references.exists(_.name == "lang"))) {
        // every lang-partitioned window must sort BRACKET rows only: a
        // two-sided score bound must sit beneath it (as a Filter, or
        // pushed into the bracket join's condition by the optimizer)
        val conds = w.child.collect {
          case f: LFilter => f.condition
          case j: LJoin if j.condition.isDefined => j.condition.get
        }
        val bracketed = conds
          .exists(c => c.find(_.isInstanceOf[GreaterThanOrEqual]).isDefined &&
            c.find(_.isInstanceOf[LessThanOrEqual]).isDefined)
        assert(bracketed,
          "lang-partitioned window without a bracket filter beneath it")
      }
    }
    scored.unpersist(blocking = false)
  }

  test("q86: the only window rides the distinct-VALUE contraction, scored corpus cached once") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWindow}
    // order-robustness: drop any cache a prior suite's q86 run left
    // (see the q74 test above)
    spark.catalog.clearCache()
    // the PRE-materialization bucket plan (the shipped q86 executes
    // this then releases its cache behind an InMemoryRelation)
    val (scored, df) = graft.queries.Queries.q86BucketPlan(spark, sf)
    val winds = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(winds.nonEmpty, "expected valueThresholds' cumsum window")
    winds.foreach { w =>
      // global by design, but ONLY over the groupBy(value) contraction
      // (guarded to ≤ maxDistinct rows by the HLL routing pre-check)
      assert(w.partitionSpec.isEmpty, "q86 windows are the guarded global cumsum only")
      assert(w.child.collect { case a: LAgg => a }.nonEmpty,
        "the global window must sit on the distinct-value aggregate, not corpus rows")
    }
    // the corpus-sized scored table feeds three actions through ONE cache
    assert(plan(df).contains("InMemoryTableScan"),
      "scored corpus must be read back from the persisted table")
    scored.unpersist(blocking = false)
  }

  test("q47: sampling rank is bucket-decomposed — no full-corpus window sort on lang") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWindow}
    val df = graft.queries.Queries.q47StratifiedSample(spark, sf)
    val winds = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(winds.nonEmpty, "expected the bucketed rank windows")
    winds.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      if (keys == Set("lang")) {
        // allowed only as the offset window over the bucket-count
        // contraction (a langs × 256 table), never the raw corpus
        assert(w.child.collect { case a: LAgg => a }.nonEmpty,
          "lang-only window must ride the (lang, bucket) aggregate")
      }
    }
  }

  test("semanticDupPairs: no cartesian product; candidates come from the cell join") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(SemDedup.semanticDupPairs(spark, emb, "vec_id", "embedding",
      threshold = 0.9, nlist = 4, nassign = 2))
    assert(!p.contains("CartesianProduct"),
      "the candidate stage must self-join on cell, not cross-join")
    // the cell equi-join: shuffled (hashpartitioning on cell) at scale,
    // or broadcast-converted at tiny SF — either way keyed on cell
    assert(p.contains("hashpartitioning(cell#") ||
      "Left keys \\[\\d+\\]: \\[cell#".r.findFirstIn(p).isDefined,
      "expected the cell equi-join")
  }

  test("q141: global top-k is TakeOrderedAndProject, never a full vocabulary sort") {
    val p = plan(graft.queries.Queries.q141Chi2Terms(spark, sf))
    assert(p.contains("TakeOrderedAndProject"),
      s"expected orderBy+limit to collapse to TakeOrdered:\n$p")
    // exactly zero Sort operators: the vocabulary never materializes
    // in rank order anywhere in the plan
    assert(!p.contains("Sort ["), s"unexpected full sort in q141:\n$p")
  }

  test("q134: the AUC window rides the distinct-VALUE contraction, after an aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWindow}
    val df = graft.queries.Queries.q134Auc(spark, sf)
    val winds = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(winds.size == 1, "exactly one cumulative window")
    // the window's child must contain the per-distinct-score aggregate:
    // corpus rows never reach the unpartitioned sort
    winds.foreach { w =>
      assert(w.child.collect { case a: LAgg => a }.nonEmpty,
        "the cumulative window must sit above the distinct-score aggregate")
    }
  }

  test("q136: survivorship has no window at all — rep selection is a hash aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // operator-level plan (q136's full query includes minhash pair
    // generation; the survivorship stage is the piece under audit)
    import spark.implicits._
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 5L)).toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val df = graft.operators.Clusters.survivorshipBy(docs, "doc_id", "n_chars", pairs)
    val winds = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(winds.isEmpty,
      "survivorshipBy must select representatives via struct-min aggregation, not a window")
  }
}
