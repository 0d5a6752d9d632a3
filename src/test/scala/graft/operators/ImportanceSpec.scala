package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class ImportanceSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  // Target slice = lang "t". Bigram "a b" appears in both target docs
  // and the raw doc; "x y" only outside the target.
  private lazy val docs = Seq(
    (1L, "t", "a b c"),   // bigrams: (a,b) (b,c)
    (2L, "t", "a b"),     // bigrams: (a,b)
    (3L, "r", "a b x y"), // bigrams: (a,b) (b,x) (x,y)
    (4L, "r", "x y x y")  // bigrams: (x,y) (y,x) (x,y)
  ).toDF("doc_id", "lang", "text")

  test("masses are exact corpus-frequency sums; ratio favors target-like docs") {
    val w = Importance.weights(docs, "doc_id", "text", col("lang") === "t")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("tgt_mass"), r.getAs[Long]("raw_mass"),
          r.getAs[Double]("importance")))).toMap
    // corpus counts: (a,b) raw 3 tgt 2; (b,c) raw 1 tgt 1; (b,x) 1/0;
    // (x,y) raw 3 tgt 0; (y,x) 1/0
    assert(w(1L) == ((3L, 4L, 4.0 / 5)))   // (a,b)+(b,c): tgt 2+1, raw 3+1
    assert(w(2L) == ((2L, 3L, 3.0 / 4)))   // (a,b)
    assert(w(3L) == ((2L, 7L, 3.0 / 8)))   // (a,b)+(b,x)+(x,y): tgt 2+0+0, raw 3+1+3
    assert(w(4L) == ((0L, 7L, 1.0 / 8)))   // (x,y)+(y,x)+(x,y): raw 3+1+3
    // ordering: target-like docs outrank raw-only docs
    assert(w(1L)._3 > w(3L)._3 && w(3L)._3 > w(4L)._3)
  }

  test("select takes the deterministic top-quota under the total order") {
    val got = Importance.select(docs, "doc_id", "text",
      col("lang") === "t", quota = 2)
      .select(col("doc_id")).as[Long].collect().toSeq
    assert(got == Seq(1L, 2L)) // 0.8, 0.75 — the two target-like docs
  }

  test("weightsVsCorpus reduces to the predicate form when target ⊆ corpus") {
    val viaPred = Importance.weights(docs, "doc_id", "text", col("lang") === "t")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("tgt_mass"), r.getAs[Long]("raw_mass")))).toMap
    val viaCorpus = Importance.weightsVsCorpus(docs, "doc_id", "text",
        docs.filter(col("lang") === "t"), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("tgt_mass"), r.getAs[Long]("raw_mass")))).toMap
    assert(viaPred == viaCorpus)
  }

  test("weightsVsCorpus with a disjoint target: external grams score, alien grams drop") {
    // external target shares gram (a,b) with the corpus and adds (q,z)
    val target = Seq((100L, "a b a b"), (101L, "q z")).toDF("t_id", "t_text")
    val w = Importance.weightsVsCorpus(docs, "doc_id", "text",
        target, "t_id", "t_text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("tgt_mass"), r.getAs[Long]("raw_mass")))).toMap
    // target counts: (a,b) ×2, (b,a) ×1, (q,z) ×1 — corpus raw unchanged
    // doc1 grams (a,b)(b,c): tgt 2+0, raw 3+1
    assert(w(1L) == ((2L, 4L)))
    // doc4 grams (x,y)(y,x)(x,y): tgt 0, raw 7 — (q,z) never matches
    assert(w(4L) == ((0L, 7L)))
  }

  test("docs without bigrams are excluded, single-token docs don't crash") {
    val d = Seq((1L, "t", "solo"), (2L, "t", "a b")).toDF("doc_id", "lang", "text")
    val w = Importance.weights(d, "doc_id", "text", col("lang") === "t")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(w == Set(2L))
  }
}
