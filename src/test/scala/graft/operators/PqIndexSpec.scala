package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Product quantization: encoding compresses to m bytes, ADC ranks
  * compatibly with exact cosine, and the two-stage search recovers the
  * exact top-k on the test embeddings.
  */
class PqIndexSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private val dir = "/root/testdata/sf0.001"

  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("codes are exactly m bytes and deterministic across runs") {
    val model = PqIndex.build(spark, emb, "vec_id", "embedding", m = 16, ksub = 256)
    val lens = model.encoded.select(length(col("codes")).as("l")).distinct().collect()
    assert(lens.map(_.getInt(0)).toSeq == Seq(16))
    val a = model.encoded.orderBy("corpus_id").collect().map(_.getAs[Array[Byte]]("codes").toSeq)
    val b = PqIndex.build(spark, emb, "vec_id", "embedding", m = 16, ksub = 256)
      .encoded.orderBy("corpus_id").collect().map(_.getAs[Array[Byte]]("codes").toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("ADC score approximates cosine: self-ADC of an encoded vector is near 1") {
    val model = PqIndex.build(spark, emb, "vec_id", "embedding", m = 16, ksub = 256)
    import graft.functions.expressions.{pq_adc, pq_encode}
    val self = emb.limit(50)
      .select(pq_adc(pq_encode(col("embedding"), model.codebooks),
        col("embedding"), model.codebooks).as("s"))
      .collect().map(_.getDouble(0))
    // reconstruction of a unit vector dotted with itself: close to 1,
    // never much above (centroids are averages of unit vectors)
    assert(self.forall(s => s > 0.8 && s < 1.05), s"self-ADC out of range: ${self.min}..${self.max}")
  }

  test("rerank search recovers brute-force top-5 with high recall") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("corpus_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val model = PqIndex.build(spark, emb, "vec_id", "embedding", m = 16, ksub = 256)
    val approx = PqIndex.searchRerank(model, emb, queries, "vec_id", "embedding",
      k = 5, refine = 8)
      .select(col("query_id"), col("corpus_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@5 = $recall")
  }

  test("ADC scan plan: no corpus-side shuffle, query side broadcast") {
    val model = PqIndex.build(spark, emb, "vec_id", "embedding", m = 16, ksub = 256)
    val plan = PqIndex.search(model, emb.filter(col("vec_id") < 3), "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side not broadcast:\n$plan")
    // the only Exchange allowed is the broadcast + the final per-query
    // window partitioning on query_id (top-k maintenance, tiny)
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 1, s"unexpected corpus shuffles:\n$plan")
  }

  test("dim must divide m") {
    val e = intercept[IllegalArgumentException] {
      PqIndex.fitCodebooks(Array(Array(1.0, 2.0, 3.0)), m = 2, ksub = 2,
        maxIter = 2, seed = 1L)
    }
    assert(e.getMessage.contains("subspaces"))
  }
}
