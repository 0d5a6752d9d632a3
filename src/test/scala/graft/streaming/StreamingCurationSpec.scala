package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import StreamingDedup.{Doc, Admitted}
import graft.GraftSession

/** The streaming curation pipeline: the stateless curation columns
  * (PII scrub, quality verdict, split) are ordinary projections, so
  * they compose directly into a streaming query AHEAD of the stateful
  * dedup stage — scrub-then-dedup, the order a real ingest pipeline
  * uses (and the order that makes fingerprints PII-independent).
  */
class StreamingCurationSpec extends AnyFunSuite {
  import graft.functions.Curation

  lazy val spark = GraftSession.local(4)

  private def awaitCount(table: String, n: Long, timeoutMs: Long = 60000): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var c = spark.table(table).count()
    while (c < n && System.currentTimeMillis() < deadline) {
      Thread.sleep(250); c = spark.table(table).count()
    }
    c
  }

  test("scrub → quality-filter → dedup in one streaming query") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Doc]
    // stateless curation stage: redact PII, drop short docs — then the
    // stateful exact-dedup admission runs over the SCRUBBED text
    val curated = input.toDS()
      .select(col("doc_id"), Curation.redactPii(col("text")).as("text"))
      .filter(size(split(trim(col("text")), "\\s+")) >= 4)
      .as[Doc]
    val q = StreamingDedup.exact(spark, curated)
      .writeStream.format("memory").queryName("scur").outputMode("append").start()
    try {
      input.addData(Seq(
        Doc(1, "contact alice@example.com for the details"),
        // different PII, identical after scrubbing → must be suppressed,
        // proving the scrub runs BEFORE the fingerprint state
        Doc(2, "contact bob@corp.org for the details"),
        Doc(3, "too short"),                       // quality-dropped
        Doc(4, "totally different body of text here")))
      assert(awaitCount("scur", 2) == 2)
      val admitted = spark.table("scur").as[Admitted].collect().map(_.doc_id).toSet
      assert(admitted == Set(1L, 4L), s"got $admitted")
      // later micro-batch: a third PII variant of the same text — state
      // suppresses it; a fresh doc passes
      input.addData(Seq(
        Doc(5, "contact carol@mail.net for the details"),
        Doc(6, "yet another unique document body")))
      assert(awaitCount("scur", 3) == 3)
      assert(spark.table("scur").as[Admitted].collect().map(_.doc_id).toSet
        == Set(1L, 4L, 6L))
    } finally q.stop()
  }

  test("stored-LM quality gate: scrub → score vs stored model → threshold, stored side exchange-free") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.NgramLM
    val tbl = s"slm${System.nanoTime()}"
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val corpus = Seq(
        (1L, "the cat sat on the mat"),
        (2L, "the dog sat on the log"),
        (3L, "a completely different sentence entirely"),
        (4L, "the cat sat on the mat again")).toDF("doc_id", "text")
      NgramLM.store(NgramLM.fit(corpus, "doc_id", "text"), tbl, buckets = 4)
      val stored = NgramLM.load(spark, tbl)

      // arrivals carry PII; in-domain docs must clear the cut, novel
      // text must not. The cut comes from the BATCH scorer on the same
      // scrubbed texts, so streaming admission parity is exact.
      val arrivals = Seq(
        Doc(11, "the cat sat on the mat from alice@example.com"),
        Doc(12, "entirely novel words absent everywhere"),
        Doc(13, "the dog sat on the log"))
      val scrubbedBatch = arrivals.toDF("doc_id", "text")
        .select(col("doc_id"), Curation.redactPii(col("text")).as("text"))
      val batchScores = NgramLM.likelihoodMass(scrubbedBatch, "doc_id", "text", stored)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
      val cut = (batchScores(12L) + (batchScores - 12L).values.min) / 2
      assert(batchScores(11L) > cut && batchScores(13L) > cut && batchScores(12L) < cut,
        s"cut $cut must separate in-domain from novel: $batchScores")

      // at scale the model tables are vocab-sized and MUST NOT
      // broadcast: the stored side rides its bucketing into the joins
      // while only the stream exchanges
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val input = MemoryStream[Doc]
      val gated = NgramLM.likelihoodMass(
          input.toDS().select(col("doc_id"),
            Curation.redactPii(col("text")).as("text")),
          "doc_id", "text", stored)
        .filter(col("score") >= cut)
      val q = gated.writeStream.format("memory").queryName("slmgate")
        .outputMode("complete").start()
      try {
        input.addData(arrivals)
        q.processAllAvailable()
        val got = spark.table("slmgate").collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
        assert(got.keySet == Set(11L, 13L), s"gate admitted ${got.keySet}")
        assert(got(11L) == batchScores(11L) && got(13L) == batchScores(13L),
          "streaming scores must equal the batch scorer exactly")
        // a later micro-batch: another in-domain arrival joins the pass
        // set against the same stored state
        input.addData(Seq(Doc(14, "the cat sat on the log")))
        q.processAllAvailable()
        assert(spark.table("slmgate").collect().map(_.getLong(0)).toSet
          == Set(11L, 13L, 14L))
        // plan shape, on the REAL micro-batch execution: each scoring
        // join's stored-only side must reach the join through its
        // bucketing — no shuffle exchange between the stored scan and
        // the join (the stream side exchanges; the model never does)
        val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
        def storedOnly(p: SparkPlan): Boolean = {
          val ls = p.collectLeaves()
          ls.nonEmpty && ls.forall(_.toString.contains(s"${tbl}_"))
        }
        val storedSides = exec.executedPlan.collect {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
        }.flatMap(j => Seq(j.left, j.right).filter(storedOnly))
        assert(storedSides.size == 2,
          s"expected the bigram and prefix stored-side join legs:\n${exec.executedPlan}")
        storedSides.foreach { side =>
          assert(side.collect { case s: ShuffleExchangeExec => s }.isEmpty,
            s"stored model tables must join through their bucketing:\n$side")
        }
      } finally q.stop()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      Seq("_bigrams", "_prefixes", "_vocab", "_meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $tbl$s"))
    }
  }
}
