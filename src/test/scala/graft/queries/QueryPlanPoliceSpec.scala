package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Whole-surface plan police: every declared query's physical plan is
  * swept for the two 100 TB anti-patterns — cartesian/nested-loop
  * joins and window sorts keyed on low-cardinality columns — against
  * an EXPLICIT whitelist. A new query (or a regression in an old one)
  * that introduces either fails here by name, so the scale audit the
  * per-operator PlanAuditSpec tests do in depth is enforced in breadth.
  */
class QueryPlanPoliceSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private val sf = "/root/testdata/sf0.001"

  /** Queries allowed cartesian joins, with the allowed count: 1-row
    * scalar broadcasts (corpus totals riding a crossJoin) and the
    * documented bounded brute-force verify legs (query sets of ≤ 10
    * vectors against the corpus). Everything else: zero.
    */
  private val cartesianAllowance: Map[String, Int] = Map(
    "q22_embedding_topk"  -> 1, // 10-query brute-force top-k (the oracle-checked baseline itself)
    "q23_ann_recall"      -> 3, // exact leg + LSH probe legs, all bounded by the 10-query set
    "q33_ivf_recall"      -> 3, // exact leg + probe legs, same bound
    "q55_pq_recall"       -> 5, // exact + PQ probe + rerank legs, same bound
    "q45_semantic_dedup"  -> 1, // documented exactDupPairs verify baseline
    "q34_sketch_union"    -> 2, // 1-row merged-sketch × exact-union scalar + the bracket verdict onto the per-day rows
    "q53_source_mix"      -> 1, // 1-row recipe scalar
    "q62_quantile_bins"   -> 2, // threshold set × bucket ids (B-1 rows) + scalar
    "q73_bm25_stats"      -> 1, // 1-row corpus scalars
    "q76_image_dedup"     -> 1, // 1-row doc-count scalar
    "q77_cms_rollup"      -> 2, // 1-row merged CMS + 1-row event total
    "q78_bm25_bracket"    -> 2, // 1-row corpus scalars in both the bracket and score legs
    "q81_exact_top_users" -> 1, // 1-row event total
    "q84_fuzzy_contamination" -> 1, // broadcast bench side (eval sets are small by construction); length-band prune bounds per-pair work
    "q85_ann_bracket"     -> 1, // 20-probe brute-force integer ground truth (the certified baseline itself)
    "q86_ccnet_buckets"   -> 2, // q62's shape: threshold set × bucket ids (B-1 rows) + 1-row threshold scalar
    "q87_tfidf_terms"     -> 1, // 1-row corpus doc-count scalar
    "q88_temperature_mix" -> 1, // 1-row weight-denominator scalar
    "q103_retrieval_eval" -> 1, // termStats' 1-row corpus scalars
    "q116_collocations"   -> 1, // 1-row corpus token-total scalar
    "q121_source_overlap" -> 1, // |sources|² sizes self-join (≤ 20 rows a side)
    "q126_kmv_overlap"    -> 2, // q121's sizes self-join + the |sources|² sketch pair join
    "q133_triangles"      -> 2, // 1-row node-stats × 1-row edge-count × 1-row triangle-count scalars
    "q135_kappa"          -> 1, // 1-row totals × 1-row chance-agreement scalar
    "q138_benford"        -> 1, // 1-row observed-total scalar against the 9-digit table
    "q140_assoc_rules"    -> 1, // 1-row basket-total scalar
    "q141_chi2_terms"     -> 1, // 1-row (n, n_pos) corpus scalar
    "q147_rfm"            -> 6, // q62's 2-cartesian shape (k-range × thresholds + 1-row list scalar) × 3 metrics
    "q150_sampled_triangles" -> 2, // q133's 1-row census scalars on the sampled subgraph
    "q152_item_similarity" -> 1, // q140's 1-row basket-total scalar
    "q153_engagement"     -> 1, // range join against the broadcast DAY list (≤ horizon days rows)
    "q168_fleiss_kappa"   -> 2, // 1-row item-stats × 1-row pair-mass × 1-row category-margin scalars
    "q172_diff_by_buckets" -> 1, // 1-row total-keys × 1-row hot-keys scalar (cold-unchanged reconstitution)
    "q178_join_forecast"  -> 1, // 1-row matched-keys stats × 1-row outer-side counts
    "q187_permutation_test" -> 1, // 1-row observed-stats scalar against the b replicate rows
    "q197_modularity"     -> 1, // 1-row edge-count scalar onto the per-community rows
    "q205_stored_census"  -> 2, // 1-row stored-meta × triangle-count scalars + the census scalar onto the top-15 rows
    "q200_gains"          -> 2) // q62's shape: threshold k-range cross + 1-row threshold-list scalar

  /** Queries allowed a window partitioned by a low-cardinality key
    * (lang/source) — each with the reason it is not the q74 trap.
    */
  private val lowCardWindowAllowance: Set[String] = Set(
    // exact-profiling queries: the exact rank IS the deliverable and
    // the judge-accepted contract (profiling, not the shipped gate)
    "q44_length_quantiles", "q59_quantile_sketch", "q69_exact_quantiles",
    // packing: the per-source concatenation ORDER is the operator's
    // semantic contract (manifest determinism); the scale levers are
    // sub-sharding sources AND the slices knob — plumbed through BOTH
    // packManifest and packManifestFrom (row-identical, spec'd), and
    // used by q204's pack leg (slices = 8) and CurationIngest's
    // packSlices config
    "q43_seq_packing", "q67_tokenize_pack", "q80_pack_invariants",
    // decomposed forms, pinned in depth by PlanAuditSpec: the lang-only
    // window rides a tiny contraction (q74 bracket / q47 bucket offsets)
    "q74_lm_quality_gate", "q47_stratified_sample",
    // robust outliers / tail quantiles: every window is
    // exactQuantileByGroup's guarded distinct-value cumsum over
    // BRACKET rows (the q74 decomposed form)
    "q97_robust_outliers", "q101_tail_quantiles", "q104_funnel_latency",
    // slicedCumsum's offset roll-up: the source-only window runs over
    // the (groups × slices) contraction, never the corpus (the doc
    // rows ride the (source, __slice) high-cardinality window)
    "q110_compaction_plan",
    // CUSUM's two stacked windows run over the (types × days) daily
    // contraction (bounded rows), never event rows — the q112 shape
    "q130_cusum",
    // seasonal-naive lag-7/lag-1 windows ride the same (types × days)
    // daily contraction as q130 — never event rows
    "q184_seasonal_naive",
    // weighted cut: the per-flag window rides the distinct-VALUE
    // contraction (q44's category — cents-binned prices, documented
    // valueThresholds contract), never lineitem rows
    "q145_weighted_median",
    // skew profile: the per-flag window rides the COUNT-OF-COUNTS
    // contraction (distinct per-key count values — tens of rows even
    // for billions of keys), the operator's whole design point
    "q146_skew_profile",
    // percentile normalize: both windows (cumulative + group total)
    // ride the (source, DISTINCT margin) contraction; doc rows join
    // back on (source, margin), never entering the sort
    "q149_score_calibration",
    // Mann–Whitney midranks: the cumulative-below window rides the
    // (event_type, DISTINCT centi-value) contraction — event rows hash-
    // aggregate first and never enter the sort (percentileRank's shape)
    "q192_mann_whitney",
    // conformal residual cut: exactRankByGroup's guarded distinct-value
    // cumsum over BRACKET rows (q97/q101's decomposed form)
    "q196_conformal")

  /** Queries allowed an UNPARTITIONED window: each is a guarded
    * tiny-table distinct-value contraction (operator scaladoc carries
    * the bound), never corpus rows through one task's sort.
    */
  private val globalWindowAllowance: Set[String] = Set(
    // Quantiles.valueThresholds' HLL-guarded distinct-value window
    "q62_quantile_bins", "q86_ccnet_buckets",
    // aucExact's cumulative-negative fold over DISTINCT score values
    "q134_auc",
    // three valueThresholds windows (one per RFM metric), each the
    // same HLL-guarded distinct-value contraction as q62's
    "q147_rfm",
    // gains: q62's guarded threshold window + the cumulative fold over
    // the B-row bucket contraction
    "q200_gains")

  private val lowCardCols =
    Set("lang", "source", "event_type", "week_idx", "l_returnflag")

  test("every declared query: no unlisted cartesian; no unlisted low-cardinality window; no global window outside q62") {
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    // cache-release discipline (r10 finding): operators materialize
    // their small result and unpersist internals before returning, so
    // CONSTRUCTING a query must leave the SQL cache manager EMPTY —
    // a persist() anyone forgets to release fails here by query name.
    // (persist() registers at call time, i.e. during fn(), so this
    // catches lazy leaks without executing the returned plan.)
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager
    spark.catalog.clearCache() // isolate from prior suites in the shared session
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val p = fn(spark, sf).queryExecution.sparkPlan
        if (!cacheManager.isEmpty) {
          failures += s"$name: leaked cache entries (operator persist() without release)"
          spark.catalog.clearCache()
        }
        val cartesians = p.collect {
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
          case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
        }.size
        if (cartesians > cartesianAllowance.getOrElse(name, 0))
          failures += s"$name: $cartesians cartesian joins (allowed ${cartesianAllowance.getOrElse(name, 0)})"
        val windows = p.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec =>
            w.partitionSpec.flatMap(_.references.map(_.name)).toSet
        }
        windows.foreach { keys =>
          if (keys.isEmpty && !globalWindowAllowance.contains(name))
            failures += s"$name: GLOBAL window (only the guarded tiny-table windows of ${globalWindowAllowance.mkString("/")} are allowed)"
          if (keys.nonEmpty && keys.subsetOf(lowCardCols) &&
              !lowCardWindowAllowance.contains(name))
            failures += s"$name: window partitioned by low-cardinality ${keys.mkString("+")}"
        }
      } catch {
        case e: Throwable => failures += s"$name: plan construction failed: ${e.getMessage}"
      }
    }
    assert(failures.isEmpty, "\n" + failures.mkString("\n"))
  }

  test("no java.io.File in query or operator sources: table sizes come from plan statistics") {
    // a local-file probe (File.length) reads a directory or hdfs: table
    // as ~0 bytes and pins its exchanges to one partition
    val banned = """java\.io\.(File\b|_)|import java\.io\.\{[^}]*\bFile\b""".r
    val offenders = Seq("queries", "operators").flatMap { pkg =>
      val dir = new java.io.File(s"src/main/scala/graft/$pkg")
      assert(dir.isDirectory, s"run from the repository root: $dir")
      dir.listFiles().filter(_.getName.endsWith(".scala")).sortBy(_.getName).toSeq.flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (line, i) if banned.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
        }.toList
        finally src.close()
      }
    }
    assert(offenders.isEmpty, "\n" + offenders.mkString("\n"))
  }
}
