package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class PhraseIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("phrase-wh").toString)
    .getOrCreate()
  import spark.implicits._

  /** Straight-line reference: sliding-window occurrence count. */
  private def refOcc(text: String, phrase: Seq[String]): Int = {
    val toks = text.trim.split("\\s+").toSeq
    if (toks.size < phrase.size) 0
    else toks.sliding(phrase.size).count(_ == phrase)
  }

  private def engineHits(docs: Seq[(Long, String)], phrase: Seq[String]): Map[Long, Long] = {
    val p = PhraseIndex.build(docs.toDF("id", "text"), "id", "text")
    PhraseIndex.phraseHits(p, phrase).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_occ")).toMap
  }

  test("phraseHits = sliding-window brute force on random corpora") {
    val rng = new scala.util.Random(31)
    val vocab = Vector("a", "b", "c", "d")
    val docs = (0L until 30L).map { i =>
      i -> (0 until (5 + rng.nextInt(30))).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    for (phrase <- Seq(Seq("a"), Seq("a", "b"), Seq("c", "a", "b"), Seq("d", "d"))) {
      val expect = docs.map { case (i, t) => i -> refOcc(t, phrase).toLong }
        .filter(_._2 > 0).toMap
      assert(engineHits(docs, phrase) == expect, s"phrase $phrase")
    }
  }

  test("duplicate-term phrases count overlapping alignments") {
    // "x x" in "x x x": positions 0 and 1
    assert(engineHits(Seq((1L, "x x x")), Seq("x", "x")) == Map(1L -> 2L))
    assert(engineHits(Seq((1L, "x y x")), Seq("x", "x")) == Map.empty)
  }

  test("phrase crossing absent term matches nothing; single-term = tf") {
    val docs = Seq((1L, "p q r p"), (2L, "q r"))
    assert(engineHits(docs, Seq("p")) == Map(1L -> 2L))
    assert(engineHits(docs, Seq("p", "z")) == Map.empty)
  }

  test("search aggregates doc and occurrence counts per phrase") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "c c c")).toDF("id", "text")
    val p = PhraseIndex.build(docs, "id", "text")
    val got = PhraseIndex.search(p, Seq(Seq("a", "b"), Seq("c", "c"), Seq("z")))
      .collect().map(r => (r.getAs[String]("phrase"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_occ"))).toSet
    assert(got == Set(("a b", 2L, 3L), ("c c", 1L, 2L), ("z", 0L, 0L)))
  }

  test("matchInline = phraseHits per document (parity), map carries only matched phrases") {
    val rng = new scala.util.Random(67)
    val vocab = Vector("a", "b", "c", "d")
    val docs = (0L until 25L).map { i =>
      i -> (0 until (3 + rng.nextInt(25))).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    val phrases = Seq(Seq("a", "b"), Seq("c", "a", "b"), Seq("d"), Seq("b", "b"))
    val df = docs.toDF("id", "text")
    val inline = PhraseIndex.matchInline(df, "text", phrases)
      .collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Map[String, Long]]("phrase_hits"))
      .toMap
    val postings = PhraseIndex.build(df, "id", "text")
    phrases.foreach { ph =>
      val key = ph.mkString(" ")
      val idx = PhraseIndex.phraseHits(postings, ph).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_occ")).toMap
      val inl = inline.collect { case (id, m) if m.contains(key) => id -> m(key) }.toMap
      assert(inl == idx, s"phrase '$key'")
    }
    // whole-doc-equals-phrase fallback
    val short = PhraseIndex.matchInline(Seq((1L, "a b")).toDF("id", "text"),
        "text", Seq(Seq("a", "b", "c"), Seq("a", "b")))
      .head().getAs[Map[String, Long]]("phrase_hits")
    assert(short == Map("a b" -> 1L))
  }

  test("stored postings bucket-prune on the term filter") {
    val docs = (0L until 40L).map(i => (i, s"w$i common w${i % 7}")).toDF("id", "text")
    PhraseIndex.store(PhraseIndex.build(docs, "id", "text"), "phix", buckets = 4)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val q = PhraseIndex.phraseHits(PhraseIndex.load(spark, "phix"), Seq("w3", "common"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"positions scan must bucket-prune on the term filter, plan:\n$plan")
      assert(q.collect().nonEmpty)
    } finally {
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS phix_positions")
    }
  }
}
