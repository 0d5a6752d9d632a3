package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored oriented-adjacency form of the triangle census — run REPEATED
  * census readouts (global stats, per-node counts, sampled estimates on
  * subsets) against a slowly-changing graph WITHOUT rebuilding degrees,
  * orientation and adjacency each time. Reference analogue: none
  * (driver-brief graph family); completes the stored/mergeable family
  * ([[Bm25Index]], [[DedupIndex]], [[IvfIndex]], [[NgramLM]]) on the
  * graph side — the r10 review named the rebuild (q133/q150/q151 each
  * re-derived the same prologue) as the census family's one shared
  * cost.
  *
  * Scale design (the 100 TB shape):
  *  - `<name>_adj` (src, nbrs) — the compact-forward oriented
  *    adjacency ([[Graphs.orientedAdjacency]]: per-source SORTED
  *    out-neighbor arrays, each bounded O(√m) by (degree, id)
  *    orientation), BUCKETED AND SORTED ON src: every census end-join
  *    keys on src, so the stored side reaches its join through the
  *    bucketing with NO exchange (spec-pinned) — only the exploded
  *    ends shuffle, and census cost scales with m, never with rebuild
  *    passes.
  *  - `<name>_deg` (node, deg) — node-sized, bucketed on node.
  *  - `<name>_meta` — 1-row (n_nodes, n_edges, n_wedges) scalars, so
  *    the global readout touches no m-sized table at all beyond the
  *    closure itself.
  *
  * The build pays the census prologue ONCE; each stored readout then
  * runs just the closure join. Graph updates: rebuild (orientation is
  * degree-dependent, so edge accretion is not a local append — the
  * documented boundary; daily-rebuild + many-readouts is the target
  * usage).
  */
object AdjacencyIndex {

  /** Drop a managed table AND its warehouse directory: `overwrite`
    * alone cannot replace a directory left by a PREVIOUS session whose
    * metastore entry is gone (LOCATION_ALREADY_EXISTS) — daily-rebuild
    * semantics require the reset to be unconditional. */
  private def resetTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // resolve the orphan directory through the CATALOG, not by hand-
    // joining warehouse.dir + name: the metastore lowercases directory
    // names and a non-default current database nests them under
    // <db>.db/ — a hand-built path misses both and the
    // LOCATION_ALREADY_EXISTS failure this reset exists to prevent
    // resurfaces (r11 ADVICE)
    val sessionState =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val p = new org.apache.hadoop.fs.Path(sessionState.catalog.defaultTablePath(
      sessionState.sqlParser.parseTableIdentifier(table)))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Materialize the census prologue as bucketed tables (overwrite). */
  def save(spark: SparkSession, edges: DataFrame, aCol: String, bCol: String,
           name: String, buckets: Int = 32): Unit = {
    Seq(s"${name}_adj", s"${name}_deg", s"${name}_meta")
      .foreach(resetTable(spark, _))
    // materializeEdges = false: the oriented edge table has ONE
    // consumer here (the adjacency build) — stored readouts rebuild
    // edges by exploding the stored adjacency instead
    val (und, deg, adj) =
      Graphs.orientedAdjacency(edges, aCol, bCol, materializeEdges = false) match {
        case (u, d, _, a) => (u, d, a)
      }
    // the three writes are INDEPENDENT readers of the checkpointed
    // prologue (und blocks; deg derives from them) — submit them
    // concurrently so the adj write's tail doesn't serialize ahead of
    // the two node-sized writes (guide §2.6 "overlap independent
    // jobs"; the build's wall drops from the sum to ~the adj write)
    try awaitAllWrites(s"AdjacencyIndex.save($name)", Seq(
      "adj" -> (() =>
        adj.write.mode("overwrite")
          .bucketBy(buckets, "src").sortBy("src")
          .saveAsTable(s"${name}_adj")),
      "deg" -> (() =>
        deg.write.mode("overwrite")
          .bucketBy(buckets, "node").sortBy("node")
          .saveAsTable(s"${name}_deg")),
      "meta" -> (() =>
        // deg·(deg−1) is even → shiftright is the exact halve (the
        // triangleStats arithmetic, kept identical so stored readouts
        // hash-match the live census)
        deg.agg(count(lit(1)).as("n_nodes"),
            sum(shiftright(col("deg") * (col("deg") - 1), 1)).as("n_wedges"))
          .crossJoin(broadcast(und.agg(count(lit(1)).as("n_edges"))))
          .select(col("n_nodes"), col("n_edges"), col("n_wedges"))
          .write.mode("overwrite").saveAsTable(s"${name}_meta"))))
    finally adj.unpersist(blocking = false)
  }

  /** FAILURE CONTRACT for concurrent table writes: run every write
    * through [[graft.Fanout.settle]], so every write SETTLES before
    * anything is raised — a fail-fast join would throw while sibling
    * writes still run, leaving the catalog with an untracked partial
    * subset and skipping the caller's cleanup, and an interrupt of the
    * caller ends every write before it propagates. Then a single
    * combined error names every failed table, keeps the first failure
    * as its cause and the others suppressed, so the caller sees ONE
    * coherent outcome, not a race. */
  private[operators] def awaitAllWrites(
      what: String, writes: Seq[(String, () => Unit)]): Unit = {
    val settled = writes.map(_._1).zip(
      graft.Fanout.settle("graft-index-write-", writes.map(_._2)))
    val failures = settled.collect { case (t, scala.util.Failure(e)) => (t, e) }
    if (failures.nonEmpty) {
      val err = new RuntimeException(
        s"$what: table write(s) failed: " + failures.map(_._1).mkString(", "),
        failures.head._2)
      failures.tail.foreach { case (_, e) => err.addSuppressed(e) }
      throw err
    }
  }

  /** The closure join every readout shares: oriented edges rebuilt by
    * exploding the stored adjacency, end-joined back on src — the
    * stored side rides its bucketing (no exchange), the exploded ends
    * shuffle once. Returns one row per closed wedge's oriented edge
    * with the triangle count it contributes.
    */
  private def closure(spark: SparkSession, name: String): DataFrame = {
    val adj = spark.table(s"${name}_adj")
    adj.select(col("src"), col("nbrs").as("nu"), explode(col("nbrs")).as("dst"))
      .join(adj.select(col("src").as("dst"), col("nbrs").as("nv")), Seq("dst"))
      .select(col("src"), col("dst"),
        array_intersect(col("nu"), col("nv")).as("common"))
  }

  /** [[Graphs.triangleStats]] from the stored tables — identical
    * columns and values (hash-parity spec-pinned), zero prologue cost. */
  def triangleStatsStored(spark: SparkSession, name: String): DataFrame = {
    val tri = closure(spark, name)
      .select(size(col("common")).cast("long").as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    spark.table(s"${name}_meta").crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"), (col("n_triangles") * 3).as("n_closed_wedges"))
  }

  /** [[Graphs.triangleStatsSampled]] (DOULION) from the stored tables —
    * the sampled census served WITHOUT rebuilding the prologue. The
    * deterministic per-undirected-edge coin (md5 over the canonical
    * (min, max) endpoints — byte-identical to the live operator's) is
    * applied INSIDE the stored adjacency arrays via a codegen'd
    * higher-order `filter`, so the sampled subgraph is exactly the one
    * the live DOULION draws and every output column matches it exactly
    * at any p (spec-pinned; triangle counts are orientation-independent,
    * so keeping the FULL graph's stored orientation instead of
    * re-orienting by sampled degrees changes nothing). Stats columns
    * describe the SAMPLED subgraph; `est_triangles` scales by
    * (pDen/pNum)³ in exact integer arithmetic. The end-join keeps the
    * stored-census shape: the non-exploded side rides the src
    * bucketing, only exploded ends shuffle.
    */
  def sampledTriangleStatsStored(spark: SparkSession, name: String,
                                 pNum: Int, pDen: Int,
                                 salt: String = "42"): DataFrame = {
    require(pNum > 0 && pNum <= pDen, s"need 0 < p <= 1, got $pNum/$pDen")
    def coin(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      conv(substring(md5(concat_ws(":", lit("tri"), lit(salt),
        least(a, b).cast("string"), greatest(a, b).cast("string"))), 1, 12), 16, 10)
        .cast("long") % pDen.toLong
    val adjS = spark.table(s"${name}_adj").select(col("src"),
      filter(col("nbrs"), n => coin(col("src"), n) < pNum.toLong).as("nbrs"))
    // sampled-subgraph degrees: every sampled oriented edge contributes
    // both ends (oriented edges ↔ undirected edges bijectively), so the
    // arithmetic matches the live census's degree table exactly
    val deg = adjS.select(col("src"), explode(col("nbrs")).as("dst"))
      .select(explode(array(col("src"), col("dst"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      coalesce(sum(shiftright(col("deg") * (col("deg") - 1), 1)), lit(0L))
        .as("n_wedges"))
    val nE = adjS.agg(coalesce(sum(size(col("nbrs"))), lit(0L)).as("n_edges"))
    val tri = adjS
      .select(col("src"), col("nbrs").as("nu"), explode(col("nbrs")).as("dst"))
      .join(adjS.select(col("src").as("dst"), col("nbrs").as("nv")), Seq("dst"))
      .select(size(array_intersect(col("nu"), col("nv"))).cast("long").as("c"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
    nodeStats.crossJoin(broadcast(nE)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"), (col("n_triangles") * 3).as("n_closed_wedges"))
      .withColumn("est_triangles",
        expr(s"n_triangles * ${pDen.toLong * pDen * pDen}L div " +
          s"${pNum.toLong * pNum * pNum}L"))
  }

  /** [[Graphs.nodeTriangles]] from the stored tables — identical
    * columns and values, zero prologue cost. */
  def nodeTrianglesStored(spark: SparkSession, name: String): DataFrame = {
    val perNode = closure(spark, name)
      .select(col("src"), col("dst"), explode(col("common")).as("w"))
      .select(explode(array(col("src"), col("dst"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    spark.table(s"${name}_deg").join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        (lit(2L) * coalesce(col("n_triangles"), lit(0L))).as("lcc_num"),
        (col("deg") * (col("deg") - 1)).as("lcc_den"))
  }
}
