package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Stored tokenizer dictionary vs the live dictionary encode: identical
  * rows seen-or-new, incremental extension, and the bucketed stored
  * side joining without an exchange.
  */
class BpeDictSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private val trainDocs = Seq(
    (1L, "the theme there is the thesis"),
    (2L, "other words that share the th prefix"),
    (3L, "совершенно unrelated tokens here")).toDF("doc_id", "text")

  // MULTISET comparison (sorted Seq, not Set): a duplicated
  // (doc_id, word_pos) row — the failure mode of a dictionary that
  // lists its own mid-query append — must not collapse away
  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select($"doc_id", $"word_pos", $"word", concat_ws(" ", $"bpe").as("b"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
      .toSeq.sorted

  test("stored-dict encode ≡ live encode; extension makes novelty seen; stored side exchange-free") {
    val tbl = s"bpedict${System.nanoTime()}"
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val merges = BpeFit.fit(BpeFit.wordCounts(trainDocs, "text"),
        numMerges = 6, minCount = 2)
      assert(merges.nonEmpty)
      BpeDict.store(spark, merges, tbl, seedDocs = Some((trainDocs, "text")),
        buckets = 4)
      assert(BpeDict.loadMerges(spark, tbl) == merges)

      // 1) all-seen batch: row-identical to the live dictionary encode
      val seenBatch = Seq((10L, "the thesis there"), (11L, "other words here"))
        .toDF("doc_id", "text")
      assert(rows(BpeDict.encode(spark, tbl, seenBatch, "doc_id", "text"))
        == rows(BpeFit.encode(seenBatch, "doc_id", "text", merges)))

      // 2) batch with NOVEL words, extend = false: still row-identical
      // (on-the-fly merge replay), dictionary untouched
      val novelBatch = Seq((20L, "the thundering newcomers arrive"),
        (21L, "thesis thunder")).toDF("doc_id", "text")
      val dictBefore = spark.table(s"${tbl}_words").count()
      assert(rows(BpeDict.encode(spark, tbl, novelBatch, "doc_id", "text"))
        == rows(BpeFit.encode(novelBatch, "doc_id", "text", merges)))
      assert(spark.table(s"${tbl}_words").count() == dictBefore,
        "read-only encode must not grow the dictionary")

      // 3) extend = true: the dictionary grows by EXACTLY the batch's
      // novel distinct words, and a re-run finds nothing unseen
      val novelDistinct = novelBatch
        .select(explode(graft.functions.TextFunctions.bpeishTokens($"text")).as("w"))
        .distinct().as[String].collect().toSet
      val expectedNew = novelDistinct --
        spark.table(s"${tbl}_words").select($"word").as[String].collect().toSet
      assert(rows(BpeDict.encode(spark, tbl, novelBatch, "doc_id", "text", extend = true))
        == rows(BpeFit.encode(novelBatch, "doc_id", "text", merges)))
      assert(spark.table(s"${tbl}_words").count() == dictBefore + expectedNew.size)
      val again = BpeDict.encode(spark, tbl, novelBatch, "doc_id", "text", extend = true)
      assert(rows(again) == rows(BpeFit.encode(novelBatch, "doc_id", "text", merges)))
      assert(spark.table(s"${tbl}_words").count() == dictBefore + expectedNew.size,
        "a second extend of the same batch must append nothing")
      // count conservation on the extend path: one output row per word
      // occurrence, none lost, none doubled
      val occurrences = novelBatch.select(
        explode(graft.functions.TextFunctions.bpeishTokens($"text"))).count()
      assert(again.count() == occurrences)

      // 4) round-trip invariant carries through the stored path
      assert(again.filter(concat_ws("", $"bpe") =!= $"word").count() == 0)

      // 5) plan shape at the 100 TB setting (broadcast off, AQE off so
      // the tree is walkable without query-stage wrappers): the stored
      // words table reaches its join with no shuffle beneath it
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val df = BpeDict.encode(spark, tbl, seenBatch, "doc_id", "text")
      df.collect()
      val plan = df.queryExecution.executedPlan
      def storedOnly(p: SparkPlan): Boolean = {
        val ls = p.collectLeaves()
        ls.nonEmpty && ls.forall(_.toString.contains(s"${tbl}_words"))
      }
      val storedSides = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.flatMap(j => Seq(j.left, j.right).filter(storedOnly))
      assert(storedSides.nonEmpty, s"expected the stored dict join leg:\n$plan")
      storedSides.foreach { side =>
        assert(side.collect { case s: ShuffleExchangeExec => s }.isEmpty,
          s"stored dictionary must join through its bucketing:\n$side")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      Seq("_merges", "_words", "_meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $tbl$s"))
    }
  }
}
