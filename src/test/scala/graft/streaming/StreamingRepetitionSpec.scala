package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Repetition
import graft.GraftSession

case class RepDoc(doc_id: Long, text: String)

/** The repetition gate under a real micro-batch stream: the inline
  * signals ([[graft.functions.RepetitionSignals]]) are row-local
  * projections, so they compose into a streaming query with no state
  * and no watermark — and must be bit-identical to the batch scorer.
  */
class StreamingRepetitionSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private val docs = Seq(
    RepDoc(1, "the quick brown fox jumps over the lazy dog again"),
    RepDoc(2, "spam spam spam spam spam spam spam"),
    RepDoc(3, "a b a b a b a b"),
    RepDoc(4, "alpha beta gamma delta epsilon"),
    RepDoc(5, "x y z x y z x y z"))

  test("streaming inline gate = batch gate, bit-identical, across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RepDoc]
    val q = Repetition.gate(input.toDF(), "doc_id", "text",
        maxTopGramFrac = 0.3, maxDupFrac = 0.5, inline = true)
      .writeStream.format("memory").queryName("srep").outputMode("append").start()
    try {
      input.addData(docs.take(2))
      q.processAllAvailable()
      input.addData(docs.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("srep").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_words"), r.getAs[Long]("word_chars"),
            r.getAs[String]("top_gram"), r.getAs[Long]("top_gram_count"),
            r.getAs[Double]("top_gram_frac"), r.getAs[Long]("dup_covered_chars"),
            r.getAs[Double]("dup_frac"), r.getAs[Boolean]("keep"))))
        .toMap
      val batch = Repetition.gate(docs.toDF(), "doc_id", "text",
          maxTopGramFrac = 0.3, maxDupFrac = 0.5)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_words"), r.getAs[Long]("word_chars"),
            r.getAs[String]("top_gram"), r.getAs[Long]("top_gram_count"),
            r.getAs[Double]("top_gram_frac"), r.getAs[Long]("dup_covered_chars"),
            r.getAs[Double]("dup_frac"), r.getAs[Boolean]("keep"))))
        .toMap
      assert(streamed == batch)
      assert(batch(2L)._8 == false && batch(1L)._8 == true)
    } finally q.stop()
  }

  test("inline phrase matching runs identically under a micro-batch stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[RepDoc]
    val phrases = Seq(Seq("spam", "spam"), Seq("x", "y", "z"))
    val q = graft.operators.PhraseIndex.matchInline(input.toDF(), "text", phrases)
      .writeStream.format("memory").queryName("sphr").outputMode("append").start()
    try {
      input.addData(docs)
      q.processAllAvailable()
      val streamed = spark.table("sphr").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Map[String, Long]]("phrase_hits"))
        .toMap
      val batch = graft.operators.PhraseIndex.matchInline(docs.toDF(), "text", phrases)
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Map[String, Long]]("phrase_hits"))
        .toMap
      assert(streamed == batch)
      assert(batch(2L) == Map("spam spam" -> 6L) && batch(5L) == Map("x y z" -> 3L))
    } finally q.stop()
  }
}
