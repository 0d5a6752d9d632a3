package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class CorpusOverlapSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def refSets(docs: Seq[(String, String)], n: Int): Map[String, Set[String]] =
    docs.groupBy(_._1).view.mapValues(_.flatMap { case (_, text) =>
      val t = text.trim.split("\\s+").toSeq
      if (t.size < n) Seq(t.mkString(" ")) else t.sliding(n).map(_.mkString(" ")).toSeq
    }.toSet).toMap

  private def engine(docs: Seq[(String, String)], n: Int) =
    CorpusOverlap.jaccardMatrix(docs.toDF("src", "text"), "src", "text", n)
      .collect()
      .map(r => (r.getAs[String]("group_a"), r.getAs[String]("group_b")) ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("n_common"),
          r.getAs[Double]("jaccard"))))
      .toMap

  test("matrix = brute-force set arithmetic on a random multi-source corpus") {
    val rng = new scala.util.Random(41)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val docs = for {
      s <- Seq("s1", "s2", "s3"); d <- 0 until 8
    } yield s -> (0 until (4 + rng.nextInt(12))).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")
    val sets = refSets(docs, 3)
    val got = engine(docs, 3)
    for (a <- Seq("s1", "s2", "s3"); b <- Seq("s1", "s2", "s3") if a < b) {
      val inter = (sets(a) & sets(b)).size.toLong
      val union = (sets(a) | sets(b)).size.toLong
      assert(got((a, b)) ==
        ((sets(a).size.toLong, sets(b).size.toLong, inter, inter.toDouble / union)),
        s"pair ($a,$b)")
    }
    assert(got.size == 3)
  }

  test("disjoint sources: zero intersection rows are present with jaccard 0") {
    val docs = Seq("x" -> "p q r s", "y" -> "t u v w")
    val got = engine(docs, 2)
    assert(got(("x", "y")) == ((3L, 3L, 0L, 0.0)))
  }

  test("identical sources: jaccard 1") {
    val docs = Seq("x" -> "p q r s", "y" -> "p q r s")
    val got = engine(docs, 2)
    assert(got(("x", "y")) == ((3L, 3L, 3L, 1.0)))
  }
}
