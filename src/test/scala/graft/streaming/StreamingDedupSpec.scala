package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import StreamingDedup._
import graft.GraftSession

/** Streaming dedup duals of the batch Dedup family: exact first-seen
  * admission by content fingerprint, and MinHash-band near-dup
  * suppression with the batch-side all-bands admission fold.
  */
class StreamingDedupSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def awaitCount(table: String, n: Long, timeoutMs: Long = 60000): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var c = spark.table(table).count()
    while (c < n && System.currentTimeMillis() < deadline) {
      Thread.sleep(250); c = spark.table(table).count()
    }
    c
  }

  /** Start a query whose `processAllAvailable()` returns once its input
    * is drained. These operators use processing-time timeouts, which
    * make every trigger run a (no-data) batch, and `processAllAvailable()`
    * waits for a trigger that runs none; so the query starts with
    * no-data batches off. Its state TTL is a day, so no timeout falls
    * due while a spec runs and the no-data batches would do nothing. */
  private def startSettling(w: org.apache.spark.sql.streaming.DataStreamWriter[_])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "false")
    try w.start() finally spark.conf.unset(key) // the query keeps its own copy
  }

  test("exact streaming dedup admits first-seen content, drops replays across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Doc]
    val q = StreamingDedup.exact(spark, input.toDS())
      .writeStream.format("memory").queryName("sdedup_exact").outputMode("append").start()
    try {
      input.addData(Seq(
        Doc(1, "the quick brown fox"),
        Doc(2, "THE QUICK BROWN FOX  "), // same normalized content → dup
        Doc(3, "something else entirely")))
      assert(awaitCount("sdedup_exact", 2) == 2)
      val admitted1 = spark.table("sdedup_exact").as[Admitted].collect().map(_.doc_id).toSet
      assert(admitted1 == Set(1L, 3L)) // lowest id wins within the batch
      // replay in a LATER micro-batch — suppressed by keyed state
      input.addData(Seq(Doc(4, "the quick brown fox"), Doc(5, "brand new content")))
      assert(awaitCount("sdedup_exact", 3) == 3)
      val admitted2 = spark.table("sdedup_exact").as[Admitted].collect().map(_.doc_id).toSet
      assert(admitted2 == Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("exact dedup state runs on the RocksDB state store provider") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Doc]
      val q = StreamingDedup.exact(spark, input.toDS())
        .writeStream.format("memory").queryName("sdedup_rocks").outputMode("append").start()
      try {
        input.addData(Seq(Doc(1, "rocks a"), Doc(2, "rocks a"), Doc(3, "rocks b")))
        assert(awaitCount("sdedup_rocks", 2) == 2)
        input.addData(Seq(Doc(4, "rocks b"), Doc(5, "rocks c"))) // 4 suppressed by rocksdb state
        assert(awaitCount("sdedup_rocks", 3) == 3)
        assert(spark.table("sdedup_rocks").as[Admitted].collect().map(_.doc_id).toSet
          == Set(1L, 3L, 5L))
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("transformWithState exact dedup: declarative-TTL variant matches flatMapGroupsWithState semantics") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the tws operator supports only the RocksDB provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Doc]
      val q = StreamingDedup.exactTws(spark, input.toDS())
        .writeStream.format("memory").queryName("sdedup_tws").outputMode("append").start()
      try {
        input.addData(Seq(
          Doc(1, "tws content a"),
          Doc(2, "TWS CONTENT A  "), // same normalized content → dup
          Doc(3, "tws content b")))
        assert(awaitCount("sdedup_tws", 2) == 2)
        assert(spark.table("sdedup_tws").as[Admitted].collect().map(_.doc_id).toSet
          == Set(1L, 3L))
        // cross-batch replay suppressed by ValueState
        input.addData(Seq(Doc(4, "tws content b"), Doc(5, "tws content c")))
        assert(awaitCount("sdedup_tws", 3) == 3)
        assert(spark.table("sdedup_tws").as[Admitted].collect().map(_.doc_id).toSet
          == Set(1L, 3L, 5L))
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("embedding claims: near-identical vector suppressed, distant vector admitted") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val nearDup = base.clone(); nearDup(0) += 0.001f // cosine ~ 1
    val far = Array.fill(64)(rnd.nextGaussian().toFloat)
    val input = MemoryStream[Vec]
    val claims = StreamingDedup.embeddingClaims(spark, input.toDS(), bits = 16, bands = 2)
    val q = startSettling(claims.writeStream
      .format("memory").queryName("sdedup_emb").outputMode("append"))
    try {
      input.addData(Seq(Vec(1, base)))
      assert(awaitCount("sdedup_emb", 2) == 2, "first vector claims both bands")
      // later batch: near-dup collides in every band -> zero claims;
      // far vector claims at least one unseen band
      input.addData(Seq(Vec(2, nearDup), Vec(3, far)))
      q.processAllAvailable()
      val byDoc = spark.table("sdedup_emb").as[Claim].collect()
        .groupBy(_.doc_id).view.mapValues(_.length).toMap
      assert(byDoc(1L) == 2)
      assert(!byDoc.contains(2L), s"near-dup must claim nothing, got $byDoc")
      // admission fold: only doc 1 claimed ALL bands (doc 3 may or may
      // not collide with doc 1 in some band, never in both)
      val adm = StreamingDedup.admitted(spark.table("sdedup_emb"), bands = 2)
        .collect().map(_.getLong(0)).toSet
      assert(adm.contains(1L) && !adm.contains(2L))
    } finally q.stop()
  }

  test("near-dup band claims suppress later near-duplicates; admission = all bands claimed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val input = MemoryStream[Doc]
    val claims = StreamingDedup.nearDupClaims(spark, input.toDS(), k = 32, bands = 8)
    val q = startSettling(claims.writeStream
      .format("memory").queryName("sdedup_claims").outputMode("append"))
    try {
      input.addData(Seq(Doc(10, base), Doc(11, "completely different words here okay then")))
      assert(awaitCount("sdedup_claims", 16) == 16) // both docs claim all 8 bands
      val batch1 = StreamingDedup.admitted(spark.table("sdedup_claims"), bands = 8)
        .collect().map(_.getLong(0)).toSet
      assert(batch1 == Set(10L, 11L))

      // a near-duplicate of doc 10 (one word changed) in a later batch:
      // most/all of its bands collide with already-claimed buckets
      input.addData(Seq(Doc(12, base.replace("omicron", "OMICRON"))))
      q.processAllAvailable()
      val claimed12 = spark.table("sdedup_claims").as[Claim].collect()
        .filter(_.doc_id == 12L).length
      assert(claimed12 < 8, s"near-dup claimed $claimed12 bands — should collide on most")
      val admittedAll = StreamingDedup.admitted(spark.table("sdedup_claims"), bands = 8)
        .collect().map(_.getLong(0)).toSet
      assert(admittedAll == Set(10L, 11L)) // doc 12 suppressed
    } finally q.stop()
  }

  test("exactSeeded: corpus fingerprints suppress replays the stream never saw") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq((10L, "seeded corpus document one"), (11L, "seeded corpus document two"))
      .toDF("doc_id", "text")
    val initial = StreamingDedup.exactSeedState(corpus, "doc_id", "text", nowMs = 1000L)
    val input = MemoryStream[Doc]
    val q = startSettling(StreamingDedup.exactSeeded(spark, input.toDS(), initial)
      .writeStream.format("memory").queryName("sdedup_seeded").outputMode("append"))
    try {
      // doc 20 replays corpus content the STREAM never saw; 21 is new
      input.addData(Seq(
        Doc(20, "SEEDED corpus document one  "), // normalizes to corpus doc 10
        Doc(21, "genuinely new streaming content")))
      assert(awaitCount("sdedup_seeded", 1) == 1)
      q.processAllAvailable()
      assert(spark.table("sdedup_seeded").as[Admitted].collect().map(_.doc_id).toSet
        == Set(21L), "corpus replay suppressed by seeded state, fresh doc admitted")
    } finally q.stop()
  }

  test("nearDupClaimsSeeded: DedupIndex stored buckets carry into streaming admission") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = Seq((10L, base), (11L, "some entirely other stored corpus text body"))
      .toDF("doc_id", "text")
    // the stored BATCH corpus state seeds the STREAMING query (table
    // name unique per run: managed-table locations outlive the
    // in-memory catalog)
    val tbl = s"sdix${System.nanoTime()}"
    try {
    graft.operators.DedupIndex.saveCorpus(spark, corpus, "doc_id", "text", tbl)
    val initial = StreamingDedup.claimSeedState(spark, s"${tbl}_buckets", nowMs = 1000L)
    val input = MemoryStream[Doc]
    val claims = StreamingDedup.nearDupClaimsSeeded(spark, input.toDS(), initial,
      k = 32, bands = 8)
    val q = startSettling(claims.writeStream
      .format("memory").queryName("sdedup_seeded_claims").outputMode("append"))
    try {
      // near-dup of stored doc 10 + a fresh doc, in the FIRST batch the
      // stream ever processes
      input.addData(Seq(
        Doc(20, base.replace("omicron", "OMICRON")),
        Doc(21, "fresh words never indexed before at all right")))
      def admittedNow() = StreamingDedup.admitted(
        spark.table("sdedup_seeded_claims"), bands = 8)
        .collect().map(_.getLong(0)).toSet
      q.processAllAvailable()
      val claimed20 = spark.table("sdedup_seeded_claims").as[Claim].collect()
        .filter(_.doc_id == 20L).length
      assert(claimed20 < 8, s"stored-corpus collision must block bands, claimed $claimed20")
      assert(admittedNow() == Set(21L), "near-dup of stored doc suppressed, fresh admitted")
    } finally q.stop()
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_buckets")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_sets")
    }
  }
}
