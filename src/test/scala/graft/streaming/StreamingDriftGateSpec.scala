package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import StreamingDedup.Doc
import graft.GraftSession

/** The composed streaming MONITORING path — scrub → stored-profile
  * gate → quarantine split — proven under real IncrementalExecution,
  * mirroring the stored-LM quality-gate spec:
  *
  *  - the ROW gate ([[graft.operators.Outliers.flagAgainstProfile]]
  *    against a stored med/MAD profile) is a stateless broadcast join,
  *    so it runs INSIDE the streaming query; the spec pins bit-for-bit
  *    parity with the batch scorer and a shuffle-free stored side on
  *    the actual micro-batch plan.
  *  - the GROUP gate ([[graft.operators.Drift.scoreAgainst]], exact
  *    TVD vs a stored reference) aggregates per micro-batch, so it
  *    runs in the documented foreachBatch monitoring loop; the spec
  *    pins quarantine decisions ≡ the batch computation on each
  *    micro-batch.
  */
class StreamingDriftGateSpec extends AnyFunSuite {
  import graft.functions.Curation
  import graft.operators.{Drift, Outliers}

  lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-driftgate-wh").toString)
    .getOrCreate()

  private def scrubbedLen(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
        Curation.redactPii(col("text")).as("text"))
      .withColumn("g", lit("docs"))
      .withColumn("len", length(col("text")).cast("double"))

  test("scrub → stored med/MAD profile → quarantine split under IncrementalExecution") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val tbl = s"profile${System.nanoTime()}"
    try {
      // yesterday's corpus: lengths cluster near 40 chars → store the
      // robust profile the stream will be gated against
      val base = (1L to 9L)
        .map(i => (i, ("word " * (7 + (i % 3).toInt)).trim)).toDF("doc_id", "text")
      Outliers.thresholds(scrubbedLen(base), "g", "len")
        .write.mode("overwrite").saveAsTable(tbl)
      val profile = spark.table(tbl)

      // arrivals: one normal doc CARRYING PII (scrub must run before
      // the length is measured — unscrubbed it would be an outlier),
      // one genuine length anomaly, one normal doc
      val arrivals = Seq(
        Doc(11, ("word " * 7).trim + " at alice.longname@example-corp-with-long-domain.com"),
        Doc(12, ("word " * 60).trim), // 5x the profile: quarantine
        Doc(13, ("word " * 8).trim))
      val batchFlags = Outliers.flagAgainstProfile(
          scrubbedLen(arrivals.toDF("doc_id", "text")), profile, "g", "len")
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Double]("dev"), r.getAs[Boolean]("is_outlier")))).toMap
      assert(batchFlags(12L)._2 && !batchFlags(11L)._2 && !batchFlags(13L)._2,
        s"batch gate must quarantine only the anomaly: $batchFlags")

      val input = MemoryStream[Doc]
      val gated = Outliers.flagAgainstProfile(
        scrubbedLen(input.toDF()), profile, "g", "len")
      val q = gated.writeStream.format("memory").queryName("sdrift")
        .outputMode("append").start()
      try {
        input.addData(arrivals)
        q.processAllAvailable()
        val got = spark.table("sdrift").collect()
          .map(r => r.getAs[Long]("doc_id") ->
            ((r.getAs[Double]("dev"), r.getAs[Boolean]("is_outlier")))).toMap
        // the quarantine SPLIT: flags — and the deviations behind them
        // — must equal the batch scorer bit-for-bit
        assert(got == batchFlags, s"streaming flags diverge: $got vs $batchFlags")
        assert(got.filter(_._2._2).keySet == Set(12L))

        // a later micro-batch scores against the same stored profile
        input.addData(Seq(Doc(14, "x"), Doc(15, ("word " * 7).trim)))
        q.processAllAvailable()
        val later = spark.table("sdrift").collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("is_outlier")).toMap
        assert(later(14L) && !later(15L))

        // plan shape on the REAL micro-batch execution: the stored
        // profile is group-cardinality-sized and must reach its join
        // as a broadcast — no shuffle exchange anywhere in the plan
        // (the row gate is stateless: scan → broadcast join → project)
        val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
        val shuffles = exec.executedPlan.collect { case s: ShuffleExchangeExec => s }
        assert(shuffles.isEmpty,
          s"row gate must be exchange-free:\n${exec.executedPlan}")
      } finally q.stop()
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("scrub → stored-reference TVD gate → group quarantine, per micro-batch ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val name = s"driftref${System.nanoTime()}"
    try {
      val rnd = new scala.util.Random(7)
      // reference distribution of SCRUBBED lengths (emails of varying
      // length embedded, so the scrub genuinely shapes the histogram)
      val base = (1L to 300L).map { i =>
        val body = "word " * (5 + rnd.nextInt(10))
        val pii = if (i % 3 == 0) s" u$i@${"x" * rnd.nextInt(20)}.com" else ""
        (i, body.trim + pii)
      }.toDF("doc_id", "text")
      val ref = Drift.store(scrubbedLen(base), "g", "len", bins = 8, name)

      // micro-batch 1 is in-distribution; micro-batch 2 is shifted 4x
      val batches = Seq(
        (1 to 60).map(i => Doc(1000 + i, ("word " * (5 + rnd.nextInt(10))).trim)),
        (1 to 60).map(i => Doc(2000 + i, ("word " * (30 + rnd.nextInt(10))).trim)))
      val cut = 0.5

      // the quarantine decisions the monitoring loop made, in order
      val decisions = scala.collection.mutable.ArrayBuffer[(Double, Boolean, Long)]()
      val input = MemoryStream[Doc]
      val q = input.toDF().writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          val scrubbed = scrubbedLen(df)
          val score = Drift.scoreAgainst(ref, scrubbed, "g", "len")
            .select(col("g"), col("tvd")).collect()
            .map(r => r.getString(0) -> r.getDouble(1)).toMap
          // group-level quarantine split: a drifted batch's rows all
          // divert; a healthy batch's rows all pass
          val quarantined = scrubbed
            .filter(lit(score.getOrElse("docs", 1.0)) > cut).count()
          decisions += ((score("docs"), score("docs") > cut, quarantined))
          ()
        }.start()
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
      } finally q.stop()

      // replay each micro-batch through the BATCH path: scores and the
      // split must agree exactly
      val want = batches.map { b =>
        val scrubbed = scrubbedLen(b.toDF())
        val tvd = Drift.scoreAgainst(ref, scrubbed, "g", "len")
          .select(col("tvd")).head().getDouble(0)
        (tvd, tvd > cut, if (tvd > cut) b.size.toLong else 0L)
      }
      assert(decisions.toSeq == want, s"streaming loop diverged: $decisions vs $want")
      assert(!want.head._2 && want(1)._2,
        s"test needs a passing then a drifted batch: $want")
    } finally Seq("_edges", "_hist", "_meta").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $name$s"))
  }
}
