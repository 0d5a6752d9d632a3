package graft.operators

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class WinnowSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("winnow-wh").toString)
    .getOrCreate()
  import spark.implicits._

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Straight-line reference: k-grams, ranks, every full window's
    * (rank, rightmost) min, distinct selected positions.
    */
  private def refFingerprints(text: String, k: Int, w: Int): Set[(Int, String)] = {
    val toks = text.trim.split("\\s+").toSeq
    val grams =
      if (toks.size < k) Seq(toks.mkString(" "))
      else toks.sliding(k).map(_.mkString(" ")).toSeq
    val ranked = grams.zipWithIndex.map { case (g, i) => (i, g, md5hex(g)) }
    val windows =
      if (ranked.size < w) Seq(ranked)
      else ranked.sliding(w).toSeq
    windows.map { win =>
      val best = win.minBy { case (i, _, r) => (r, -i) }
      (best._1, best._2)
    }.toSet
  }

  private def engine(docs: (Long, String)*)(k: Int = 4, w: Int = 4): Map[Long, Set[(Int, String)]] =
    Winnow.fingerprints(docs.toDF("id", "text"), "id", "text", k, w)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), (r.getAs[Int]("pos"), r.getAs[String]("gram"))))
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).toSet }

  test("fingerprints = straight-line winnowing on random corpora") {
    val rng = new scala.util.Random(11)
    val vocab = Vector("ab", "cd", "ef", "gh", "ij", "kl", "mn")
    val docs = (0L until 20L).map { i =>
      i -> (0 until (10 + rng.nextInt(40))).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")
    }
    val got = engine(docs: _*)()
    docs.foreach { case (id, text) =>
      assert(got(id) == refFingerprints(text, 4, 4), s"doc $id")
    }
  }

  test("every non-empty document gets at least one fingerprint (short docs included)") {
    val docs = Seq((1L, "a"), (2L, "a b"), (3L, "a b c d"), (4L, "a b c d e f"))
    val got = engine(docs: _*)()
    docs.foreach { case (id, text) =>
      assert(got.contains(id) && got(id).nonEmpty, s"doc $id")
      assert(got(id) == refFingerprints(text, 4, 4), s"doc $id")
    }
  }

  test("winnowing guarantee: a shared run of >= w + k - 1 words shares a fingerprint") {
    // k=4, w=4: shared runs of >= 7 words must produce a common fingerprint gram
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val d1 = s"one two three $shared four five"
    val d2 = s"nine eight $shared seven six"
    val fp = Winnow.fingerprints(
      Seq((1L, d1), (2L, d2)).toDF("id", "text"), "id", "text", 4, 4)
    val pairs = Winnow.sharedPairs(fp).collect()
    assert(pairs.exists(r =>
      r.getAs[Long]("id_a") == 1L && r.getAs[Long]("id_b") == 2L))
  }

  test("containmentPairs: sizes and score off the shared fingerprint count") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val fp = Winnow.fingerprints(
      Seq((1L, s"one two three $shared"),
          (2L, s"$shared nine eight seven"),
          (3L, "completely different words entirely here now")).toDF("id", "text"),
      "id", "text", 4, 4)
    val got = Winnow.containmentPairs(fp, minShared = 1L).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        ((r.getAs[Long]("n_shared"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("containment")))).toMap
    assert(got.contains((1L, 2L)) && !got.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    val (ns, na, nb, c) = got((1L, 2L))
    assert(ns >= 1 && c == ns.toDouble / math.min(na, nb))
  }

  test("stored corpus: check finds planted overlap, append ≡ rebuild, stored side exchange-free") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val day1 = Seq((1L, s"one two three $shared"), (2L, "totally different words here today"))
    val day2 = Seq((10L, s"$shared nine eight"), (11L, "nothing in common at all friend"))
    val day3 = Seq((20L, s"prefix words then $shared trailing bits"))
    def fp(docs: Seq[(Long, String)]) =
      Winnow.fingerprints(docs.toDF("id", "text"), "id", "text", 4, 4)
    try {
      Winnow.store(fp(day1), "wst", buckets = 4)
      val chk2 = Winnow.checkAgainstStored(spark, "wst", day2.toDF("id", "text"), "id", "text")
      // the stored side of the rank join must ride its bucketing: the
      // only exchanges in the plan belong to the batch side / final agg
      val scanShuffled = chk2.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.child.collectLeaves().exists(_.toString.contains("wst_winnow")) => e
      }
      assert(scanShuffled.isEmpty, "stored fingerprints must not ride an exchange")
      val hits2 = chk2.collect().map(r =>
        (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id"))).toSet
      assert(hits2.contains((10L, 1L)) && !hits2.exists(_._1 == 11L))

      // accrete day 2; day 3 must match the shared run against BOTH days
      Winnow.appendToStored(spark, "wst", fp(day2), buckets = 4)
      val hits3 = Winnow.checkAgainstStored(spark, "wst", day3.toDF("id", "text"),
          "id", "text")
        .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id"))).toSet
      assert(hits3.contains((20L, 1L)) && hits3.contains((20L, 10L)))

      // append ≡ rebuild: stored rows after accretion = one-shot store of all docs
      val stored = spark.table("wst_winnow")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"),
          r.getAs[String]("rank"))).toSet
      val rebuilt = fp(day1 ++ day2)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"),
          r.getAs[String]("rank"))).toSet
      assert(stored == rebuilt)
    } finally spark.sql("DROP TABLE IF EXISTS wst_winnow")
  }

  test("density: selected fraction is near 2/(w+1) on a long random doc") {
    val rng = new scala.util.Random(23)
    val text = (0 until 2000).map(_ => f"w${rng.nextInt(100000)}%06d").mkString(" ")
    val n = engine((1L, text))(4, 4)(1L).size
    val grams = 2000 - 4 + 1
    val density = n.toDouble / grams
    assert(density > 0.25 && density < 0.55, s"density $density vs expected ~0.4")
  }
}
