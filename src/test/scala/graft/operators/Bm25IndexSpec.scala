package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Stored BM25 inverted index: live-scan parity, append ≡ rebuild
  * accretion, and the bucket-pruned query plan.
  */
class Bm25IndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("bm25idx").toString)
    .getOrCreate()
  import spark.implicits._

  private val dayA = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the dog ate the cat food"),
    (3L, "a hash join beats a loop join"),
    (4L, "cat"))
  private val dayB = Seq(
    (5L, "the cat and the dog joined the hash"),
    (6L, "loop the loop"),
    (7L, "unrelated words entirely"))
  private val query = Seq("cat", "join", "hash", "loop")

  private def scores(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double)] =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_terms_hit"), r.getAs[Double]("bm25"))).toMap

  private def assertScoreParity(a: Map[Long, (Long, Double)],
                                b: Map[Long, (Long, Double)]): Unit = {
    assert(a.keySet == b.keySet)
    a.foreach { case (id, (hits, s)) =>
      assert(b(id)._1 == hits, s"doc $id n_terms_hit")
      assert(math.abs(b(id)._2 - s) < 1e-12, s"doc $id bm25: $s vs ${b(id)._2}")
    }
  }

  test("searchStored reproduces the live Bm25.score on the same corpus") {
    val docs = dayA.toDF("doc_id", "text")
    Bm25Index.store(Bm25Index.build(docs, "doc_id", "text"), "bmq", buckets = 4)
    try {
      val live = scores(Bm25.score(docs, "doc_id", "text", query))
      val stored = scores(Bm25Index.searchStored(spark, "bmq", query))
      assert(live.nonEmpty)
      assertScoreParity(live, stored)
    } finally dropAll("bmq")
  }

  test("append ≡ rebuild: accreted index matches the union-corpus index exactly") {
    val a = dayA.toDF("doc_id", "text"); val b = dayB.toDF("doc_id", "text")
    Bm25Index.store(Bm25Index.build(a, "doc_id", "text"), "bma", buckets = 4)
    try {
      val acc = Bm25Index.appendToStored(spark, "bma", b, "doc_id", "text", buckets = 4)
      val full = Bm25Index.build(a.union(b), "doc_id", "text")
      assert(acc.nDocs == full.nDocs && acc.sumDl == full.sumDl)
      // postings and term tables are SET-identical, not just score-identical
      def pset(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(pset(acc.postings) == pset(full.postings))
      def tset(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(tset(acc.terms) == tset(full.terms))
      // and the scores agree with a live scan of the union corpus
      assertScoreParity(scores(Bm25.score(a.union(b), "doc_id", "text", query)),
        scores(Bm25Index.searchStored(spark, "bma", query)))
    } finally dropAll("bma")
  }

  test("query plan: postings scan bucket-prunes on the query terms; terms broadcast") {
    val docs = dayA.toDF("doc_id", "text")
    Bm25Index.store(Bm25Index.build(docs, "doc_id", "text"), "bmp", buckets = 4)
    try {
      val q = Bm25Index.searchStored(spark, "bmp", Seq("cat"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"postings scan must bucket-prune on the term filter, plan:\n$plan")
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
        s"the query's (term, df) rows must broadcast, plan:\n$plan")
      // top-k is a bounded heap, not a global sort
      val top = Bm25Index.topKStored(spark, "bmp", Seq("cat"), 2)
      assert(top.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
      assert(top.count() <= 2)
    } finally dropAll("bmp")
  }

  test("repairStored recovers a mid-accretion failure from the postings source of truth") {
    val a = dayA.toDF("doc_id", "text"); val b = dayB.toDF("doc_id", "text")
    Bm25Index.store(Bm25Index.build(a, "doc_id", "text"), "bmr", buckets = 4)
    try {
      // simulate appendToStored dying AFTER the postings append but
      // BEFORE the derived-table writes: postings hold A∪B, terms/meta
      // still describe A only
      Bm25Index.build(b, "doc_id", "text").postings.write.mode("append")
        .bucketBy(4, "term").sortBy("term").saveAsTable("bmr_postings")
      val broken = Bm25Index.load(spark, "bmr")
      assert(broken.nDocs == dayA.size, "precondition: meta is stale")
      val repaired = Bm25Index.repairStored(spark, "bmr", buckets = 4)
      val full = Bm25Index.build(a.union(b), "doc_id", "text")
      assert(repaired.nDocs == full.nDocs && repaired.sumDl == full.sumDl)
      assertScoreParity(scores(Bm25.score(a.union(b), "doc_id", "text", query)),
        scores(Bm25Index.searchStored(spark, "bmr", query)))
      // idempotent on a healthy index
      val again = Bm25Index.repairStored(spark, "bmr", buckets = 4)
      assert(again.nDocs == full.nDocs && again.sumDl == full.sumDl)
    } finally dropAll("bmr")
  }

  test("scoreInline: zero-exchange projection matches Bm25.score on the indexed corpus") {
    val docs = dayA.toDF("doc_id", "text")
    val idx = Bm25Index.build(docs, "doc_id", "text")
    val live = scores(Bm25.score(docs, "doc_id", "text", query))
    val inline = scores(Bm25Index.scoreInline(docs, "doc_id", "text", idx, query))
    assert(inline.nonEmpty)
    assertScoreParity(live, inline)
    // the batch plan is pure map work: no exchange anywhere
    val plan = Bm25Index.scoreInline(docs, "doc_id", "text", idx, query)
      .queryExecution.executedPlan
    assert(plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, s"scoreInline must not shuffle:\n$plan")
  }

  test("scoreInline streams: stateless append-mode topical gate, scores equal the batch form") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    val corpus = dayA.toDF("doc_id", "text")
    val idx = Bm25Index.build(corpus, "doc_id", "text")
    val arrivals = Seq(
      (10L, "cat cat dog"),
      (11L, "hash loop hash join"),
      (12L, "nothing relevant here"))
    val expected = scores(Bm25Index.scoreInline(
      arrivals.toDF("doc_id", "text"), "doc_id", "text", idx, query))
    val input = MemoryStream[(Long, String)]
    val q = Bm25Index.scoreInline(
        input.toDS().toDF("doc_id", "text"), "doc_id", "text", idx, query)
      .writeStream.format("memory").queryName("bmstream")
      .outputMode("append").start()
    try {
      input.addData(arrivals: _*)
      q.processAllAvailable()
      val got = scores(spark.table("bmstream"))
      assert(got.keySet == Set(10L, 11L) && expected.keySet == got.keySet)
      got.foreach { case (id, (h, s)) =>
        assert(expected(id) == ((h, s)), s"doc $id stream vs batch") }
      // stateless: the micro-batch plan carries no state store at all
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(!exec.executedPlan.toString.contains("StateStore"),
        s"append-mode gate must be stateless:\n${exec.executedPlan}")
    } finally q.stop()
  }

  private def dropAll(name: String): Unit =
    Seq("_postings", "_terms", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $name$s"))
}
