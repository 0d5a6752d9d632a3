package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** SQL registration: every registered function must agree with its
  * DataFrame Column wrapper on real data — same Catalyst expression
  * underneath, so any disagreement means the SQL builder wired
  * arguments wrong.
  */
class GraftFunctionsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def registered(): Unit = GraftFunctions.register(spark)

  test("SQL forms equal the Column wrappers on corpus text") {
    import spark.implicits._
    registered()
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(30).createOrReplaceTempView("g_docs")

    val viaSql = spark.sql("""
      SELECT doc_id,
             simhash64(split(lower(text), '\\s+')) AS sh,
             minhash64(shingles_fast(split(lower(text), '\\s+'), 3), 16) AS mh,
             hashed_set(split(lower(text), '\\s+')) AS hs,
             gram_stats(split(lower(text), '\\s+'), 2).total_ngrams AS tg
      FROM g_docs""")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Long](2).toList, r.getSeq[Long](3).toList,
          r.getInt(4)))).toMap

    import graft.functions.expressions._
    val toks = split(lower(col("text")), "\\s+")
    val viaCol = spark.table("g_docs")
      .select(col("doc_id"), simhash64(toks).as("sh"),
        minhash64(shingles_fast(toks, 3), 16).as("mh"),
        hashed_set(toks).as("hs"),
        gram_stats(toks, 2).getField("total_ngrams").as("tg"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getSeq[Long](2).toList, r.getSeq[Long](3).toList,
          r.getInt(4)))).toMap

    assert(viaSql == viaCol)
  }

  test("binary and aggregate forms: sorted_jaccard, cosine_sim, space_saving_top_k") {
    registered()
    val j = spark.sql("""
      SELECT sorted_jaccard(hashed_set(array('a','b','c')),
                            hashed_set(array('a','b','d'))) AS j""")
      .collect().head.getDouble(0)
    assert(math.abs(j - 0.5) < 1e-12) // |{a,b}| / |{a,b,c,d}|

    val c = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)

    val top = spark.sql("""
      SELECT space_saving_top_k(x, 2) AS t
      FROM VALUES ('a'),('a'),('a'),('b'),('b'),('c') AS v(x)""")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(top.map(_.getString(0)).take(2) == Seq("a", "b"))
  }

  test("non-literal model args are rejected with a clear error") {
    registered()
    val e = intercept[Exception] {
      spark.sql("SELECT minhash64(array(1L), CAST(rand() * 4 AS INT))").collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      e.getMessage.toLowerCase.contains("literal"))
  }

  test("GraftExtensions injects the same builders (unit-level)") {
    // the extension path shares the builder table verbatim — assert the
    // table itself is complete and the class is instantiable via the
    // spark.sql.extensions reflective path
    val ext = Class.forName("graft.GraftExtensions").getDeclaredConstructor()
      .newInstance().asInstanceOf[org.apache.spark.sql.SparkSessionExtensions => Unit]
    ext(new org.apache.spark.sql.SparkSessionExtensions) // must not throw
    assert(GraftFunctions.builders.map(_._1).toSet == Set(
      "simhash64", "minhash64", "shingles_fast", "rolling_chunks",
      "hashed_set", "sorted_jaccard", "cosine_sim", "gram_stats",
      "space_saving_top_k", "group_top_k", "cms_union", "cms_estimate",
      "kmv_sketch", "kmv_union", "kmv_estimate", "kmv_intersect_estimate"))
  }
}
