package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class SamplingSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  /** Driver-side replica of the engine's key: md5(salt:id) first 15
    * hex chars → uniform → ln(u)/w, with the same long→double and
    * string→double roundings Spark applies.
    */
  private def refKey(id: Long, w: Double, salt: String): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$salt:$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    val u = (java.lang.Long.parseLong(hex, 16).toDouble + 1.0) / math.pow(16.0, 15)
    math.log(u) / w
  }

  test("weightedSample ≡ driver-side A-ES reference: same ids, ranks and keys") {
    val rnd = new scala.util.Random(41)
    val rows = Seq.tabulate(500)(i =>
      ("a", i.toLong, 0.1 + rnd.nextDouble() * 5)) ++
      Seq.tabulate(40)(i => ("b", (i + 1000).toLong, 1.0)) ++
      Seq.tabulate(3)(i => ("c", (i + 2000).toLong, 2.0)) // k > group size
    val df = rows.toDF("g", "doc_id", "w")
    val got = Sampling.weightedSample(df, "g", "doc_id", "w", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.map { case (_, id, w) => (id, refKey(id, w, "wsample")) }
        .sortBy { case (id, key) => (-key, id) }
        .take(10).zipWithIndex
        .map { case ((id, key), i) => (g, (i + 1).toLong) -> ((id, key)) }
    }
    assert(got == want)
    assert(got.count(_._1._1 == "c") == 3, "small groups return whole")
  }

  test("deterministic in the salt: identical reruns, different draw per salt") {
    val df = Seq.tabulate(200)(i => ("g", i.toLong, 1.0)).toDF("g", "doc_id", "w")
    def ids(salt: String) =
      Sampling.weightedSample(df, "g", "doc_id", "w", k = 20, salt = salt)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(ids("s1") == ids("s1"), "rerun must reproduce the sample")
    assert(ids("s1") != ids("s2"), "a new salt must re-draw")
  }

  test("weights dominate: an overwhelming weight is always selected; non-positive excluded") {
    val df = (Seq(("g", 0L, 1e9), ("g", 1L, 0.0), ("g", 2L, -3.0)) ++
      Seq.tabulate(999)(i => ("g", (i + 10).toLong, 1e-9))).toDF("g", "doc_id", "w")
    val ids = Sampling.weightedSample(df, "g", "doc_id", "w", k = 5)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(0L), "the 1e18x heavier item must be sampled")
    assert(!ids.contains(1L) && !ids.contains(2L), "w <= 0 excluded")
  }

  test("negativeSamples: k distinct negatives per anchor, never the anchor, deterministic") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val got = Sampling.negativeSamples(docs, "doc_id", k = 4)
      .collect()
      .map(r => (r.getAs[Long]("anchor"), r.getAs[Long]("neg_id"), r.getAs[Int]("draw_i")))
    val byAnchor = got.groupBy(_._1)
    assert(byAnchor.size == 200 && byAnchor.values.forall(_.length == 4))
    assert(got.forall { case (a, nid, _) => nid != a && nid >= 0 && nid < 200 })
    assert(byAnchor.values.forall(v => v.map(_._2).distinct.length == 4),
      "negatives distinct per anchor")
    val again = Sampling.negativeSamples(docs, "doc_id", k = 4)
      .collect()
      .map(r => (r.getAs[Long]("anchor"), r.getAs[Long]("neg_id"), r.getAs[Int]("draw_i")))
    assert(got.toSet == again.toSet, "rerun-identical")
    val salted = Sampling.negativeSamples(docs, "doc_id", k = 4, salt = "neg2")
      .collect().map(r => (r.getAs[Long]("anchor"), r.getAs[Long]("neg_id"))).toSet
    assert(salted != got.map(t => (t._1, t._2)).toSet, "salt changes the draw")
  }
}
