package graft

/** Benchmark main — driver contract: one JSON line
  * `{"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Each query is fully materialized through the noop sink (all columns,
  * no count-star shortcuts) and timed over `SPARK_GRAFT_BENCH_RUNS`
  * (default 3) runs; the reported per-query number is the BEST run. A
  * query that throws is left out of the total and listed, with its
  * message, under `failed`; both summary lines carry `n_failed`.
  * Single-shot timings on a shared box are noise-dominated (external
  * load bursts inflated untouched queries 1.3-2× round-over-round);
  * best-of-N is the standard arbiter — min is robust to additive noise
  * while still penalizing genuinely slower plans. AQE on; shuffle
  * partitions sized to the local core count (the 1000-executor
  * analogue is spark.sql.shuffle.partitions ≈ 2-3× total cores).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // machine-load calibration, sampled FIRST — before SparkSession
    // init and warmup, whose own multi-core burn otherwise leaks into
    // the number (r13: an idle box at loadavg 0.1 read ~2 when sampled
    // post-init). The metric exists to self-identify EXTERNAL load
    // pollution (r7's 14s-vs-3s outliers), so it must not count the
    // bench's deterministic startup.
    val loadBefore = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // SPARK_GRAFT_BENCH_ONLY=q113_edit_pairs,q114_pagerank re-checks a
    // family without a full ~9-minute sweep (regression triage; the
    // committed artifact should still come from an unfiltered run)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    // warm up the session (codegen compiler, parquet footer reads) so the
    // first timed query doesn't absorb JVM startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    SparkEntry.queries.headOption.foreach { case (_, fn) =>
      try fn(spark, sfDir).limit(1).collect() catch { case _: Throwable => () }
    }
    // best of `runs`, or the failure: a failed query gets no time (it
    // would add ~0 s and flatter the total) and is listed under "failed"
    def timeQuery(name: String): Either[String, Double] = {
      val r = BenchRef.bestOf(runs)(() =>
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save())
      r.left.foreach(m => System.err.println(s"[bench] $name failed: $m"))
      r
    }
    // (load_before is sampled at the very top of main — see there)
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // cache isolation BETWEEN queries, kept as BELT-AND-BRACES: since
    // r11 every operator and query releases its own caches before
    // returning (QueryPlanPoliceSpec asserts the cache manager is
    // empty after each construction), so this should be a no-op — it
    // stays to keep one forgotten persist from taxing the other 200
    // queries' numbers (the r10 eviction-churn symptom).
    //
    // Honest-measurement note (r11): query outputs are materialized
    // via localCheckpoint, which (unlike the previous persist+count)
    // is NOT deduped across a query's own best-of-N runs by the cache
    // manager's canonical-plan matching — so every run pays the full
    // execution. ~12 gate-style queries' r10 numbers were flattered by
    // runs 2..N reading run 1's cache entry; their r11 numbers are the
    // true per-execution cost (see SURVEY round-11 notes).
    val measured = SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.forall(_.contains(name)))
      .map { name =>
        spark.catalog.clearCache()
        name -> timeQuery(name)
      }
    val swept = measured.collect { case (name, Right(s)) => name -> s }
    val failed = measured.collect { case (name, Left(m)) => name -> m }
    // SELF-DEFENSE against external load bursts: pollution hits a
    // contiguous block of queries, so best-of-N within the block still
    // reads high. Any query whose best exceeds 2× its committed
    // reference is re-measured after the sweep — by then the burst has
    // usually passed — and the minimum across all attempts is kept
    // (recorded in the artifact's "remeasured" field so the asymmetric
    // retry is visible). Reference priority: SPARK_GRAFT_BENCH_REF →
    // the committed BENCH_LOCAL.json (COMPLETE unescaped map — Bench's
    // own artifact) → newest BENCH_r*.json (the driver's escaped,
    // tail-truncated format: parses backslash-tolerantly but is only a
    // partial reference — the r10 finding was this default parsing 0
    // entries and silently no-opping the whole pass). Queries without
    // a reference (new this round) are left as measured.
    val refQueries: Map[String, Double] = {
      val path = sys.env.get("SPARK_GRAFT_BENCH_REF")
        .orElse(Option("BENCH_LOCAL.json")
          .filter(p => new java.io.File(p).isFile))
        .orElse {
          val rs = new java.io.File(".").listFiles()
          Option(rs).map(_.map(_.getName)
              .filter(n => n.matches("BENCH_r\\d+\\.json")).sorted)
            .flatMap(_.lastOption)
        }
      path.flatMap { p =>
        try Some(BenchRef.parse(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)))))
        catch { case _: Throwable => None }
      }.getOrElse(Map.empty)
    }
    val (results, remeasured) = BenchRef.remeasurePass(swept, refQueries,
      retry = { name =>
        System.err.println(s"[bench] $name > 2x ref — re-measuring")
        spark.catalog.clearCache()
        timeQuery(name).getOrElse(Double.PositiveInfinity)
      })
    val loadAfter = loadAvg()
    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val remeasuredJson = remeasured.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = failed.map { case (k, m) => s"${Verify.jsonString(k)}:${Verify.jsonString(m)}" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // field order matters for the driver's tail capture: stdout is
    // scraped from the END, so the summary scalars (metric/value/sf)
    // go LAST — past ~75 queries the 2000-char tail would otherwise
    // truncate the total and keep only the per-query map (JSON object
    // key order is semantically irrelevant to any parser)
    val line =
      f"""{"queries":$qs,"load_before":$loadBefore%.2f,"load_after":$loadAfter%.2f,"runs":$runs,"remeasured":$remeasuredJson,"failed":$failedJson,"sf":"$sfDir","metric":"total","unit":"sec","value":$total%.3f,"n_failed":${failed.size}}"""
    println(line)
    // SECOND, SHORT summary line (r16 finding): the driver scrapes a
    // ~2-3 KB stdout tail and at 205 queries the full contract line is
    // ~6 KB, so its head truncates and the driver's JSON parse fails —
    // BOTH r15 and r16 round comparisons came back `parsed: null` and
    // regressions would go undetected. A final line with only the
    // scalars always fits any bounded tail and parses on its own; the
    // full per-query line above and the BENCH_LOCAL.json artifact are
    // unchanged, so nothing existing is removed or renamed.
    println(
      f"""{"metric":"total","unit":"sec","value":$total%.3f,"sf":"$sfDir","runs":$runs,"n_queries":${results.size},"n_failed":${failed.size}}""")
    // first-class artifact: the driver's tail capture (2000 chars) can
    // truncate the head of the one-line contract once the query count
    // grows past ~75, losing q01/q02 and the total from the round
    // record — so the identical JSON is also written to a file the
    // round commit picks up, making per-query trend comparison
    // independent of stdout scraping.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
