package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class RankingSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  test("hashRank ≡ naive per-group window rank on skewed md5 keys") {
    val rnd = new scala.util.Random(29)
    val rows = Seq.tabulate(4000)(i => ("hot", i.toLong)) ++
      Seq.tabulate(300)(i => ("warm", (i + 10000).toLong)) ++
      Seq(("solo", 99999L))
    val df = rnd.shuffle(rows).toDF("g", "id")
      .withColumn("h", md5(concat(lit("k:"), $"id".cast("string")).cast("binary")))
    for (plen <- Seq(1, 2, 3)) {
      val got = Ranking.hashRank(df, "g", "h", "id", prefixLen = plen)
        .select($"g", $"id", $"rn").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val w = Window.partitionBy($"g").orderBy($"h", $"id")
      val want = df.withColumn("rn", row_number().over(w).cast("long"))
        .select($"g", $"id", $"rn").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"prefixLen=$plen")
    }
  }

  test("hashRank: equal keys tie-break by tieCol; every bucket offset is exact") {
    // synthetic fixed-width 'hex' keys with deliberate duplicates that
    // straddle bucket boundaries in count but never in key space
    val rows = Seq(
      ("a", "00aa", 5L), ("a", "00aa", 3L), ("a", "01ff", 9L),
      ("a", "7f00", 1L), ("a", "7f00", 2L), ("a", "ff01", 4L),
      ("b", "00aa", 7L))
    val df = rows.toDF("g", "h", "id")
    val got = Ranking.hashRank(df, "g", "h", "id", prefixLen = 2)
      .select($"g", $"id", $"rn").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("a", 3L) -> 1L, ("a", 5L) -> 2L, ("a", 9L) -> 3L,
      ("a", 1L) -> 4L, ("a", 2L) -> 5L, ("a", 4L) -> 6L,
      ("b", 7L) -> 1L))
  }

  test("slicedCumsum ≡ naive window cumsum, including values ON slice boundaries") {
    val rnd = new scala.util.Random(31)
    val rows = Seq.tabulate(3000)(i => ("hot", i.toLong * 7 % 100000, 1 + rnd.nextInt(50))) ++
      Seq.tabulate(200)(i => ("warm", i.toLong, 1 + rnd.nextInt(9))) ++
      Seq(("solo", 5L, 3))
    val df = rnd.shuffle(rows).toDF("g", "ord", "v").repartition(5)
    val w = Window.partitionBy($"g").orderBy($"ord")
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = df.withColumn("c", sum($"v").over(w).cast("long"))
      .select($"g", $"ord", $"c").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (slices <- Seq(2, 4, 16)) {
      val got = Ranking.slicedCumsum(df, Seq("g"), "ord", "v", slices)
        .select($"g", $"ord", $"__cum").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"slices=$slices")
    }
  }

  test("packManifest(slices > 1) is row-identical to the single-window form") {
    val rnd = new scala.util.Random(37)
    val docs = Seq.tabulate(2000)(i =>
      (if (i % 3 == 0) "a" else "b", i.toLong, 1 + rnd.nextInt(40)))
      .toDF("source", "doc_id", "n_toks")
    def rows(slices: Int) =
      Packing.packManifest(docs, Seq("source"), "doc_id", "n_toks",
          budget = 128, slices = slices)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(rows(8) == rows(1))
  }

  test("packManifestFrom(slices > 1) is row-identical to the single-window form, incl. nonzero base offsets") {
    val rnd = new scala.util.Random(41)
    // a 3-value group key (the flagship pipeline's bucket shape) with
    // per-group base offsets, one landing EXACTLY on a budget boundary
    val docs = Seq.tabulate(1500)(i =>
      (Seq("train", "val", "test")(i % 3), i.toLong, 1 + rnd.nextInt(40)))
      .toDF("bucket", "doc_id", "n_toks")
    val base = Seq(("train", 999L), ("val", 256L), ("test", 0L))
      .toDF("bucket", "base_tok")
    def rows(slices: Int) =
      Packing.packManifestFrom(docs, Seq("bucket"), "doc_id", "n_toks",
          budget = 128, baseOffsets = base, slices = slices)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(rows(8) == rows(1))
  }

  test("plan: the only corpus-sized window partitions by (group, bucket), not group alone") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate => LAgg, Window => LWindow}
    val df = spark.range(10000)
      .select(($"id" % 3).cast("string").as("g"), $"id")
      .withColumn("h", md5($"id".cast("string").cast("binary")))
    val out = Ranking.hashRank(df, "g", "h", "id")
    val winds = out.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(winds.nonEmpty)
    winds.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      if (keys == Set("g")) {
        // the offset window — must ride the bucket-count contraction
        assert(w.child.collect { case a: LAgg => a }.nonEmpty,
          "group-only window must sit above the (group, bucket) aggregate")
      } else {
        assert(keys.exists(_.contains("bucket")),
          s"corpus window must include the bucket key, got $keys")
      }
    }
  }

  test("rrfFuse: cleared rationals match the textbook 1/(k+rank) sum") {
    val a = Seq((1L, 1L), (2L, 2L)).toDF("doc", "rnk")
    val b = Seq((2L, 1L), (3L, 2L)).toDF("doc", "rnk")
    val got = Ranking.rrfFuse(Seq(a, b), "doc", "rnk", k = 2)
      .collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_lists"), r.getAs[Long]("rrf_num"),
          r.getAs[Long]("rrf_den"), r.getAs[Long]("rrf_micro12"))))
      .toMap
    assert(got(1L) == ((1L, 1L, 3L, 333333333333L)))       // 1/(2+1)
    assert(got(2L) == ((2L, 7L, 12L, 583333333333L)))      // 1/4 + 1/3
    assert(got(3L) == ((1L, 1L, 4L, 250000000000L)))       // 1/(2+2)
    // double cross-check: cleared rational == float RRF to 1e-12
    got.values.foreach { case (_, num, den, m12) =>
      assert(math.abs(num.toDouble / den - m12 / 1e12) < 1e-12)
    }
  }

  test("rrfFuse: three lists — products and the divisibility-exact fold") {
    val ls = Seq(Seq((7L, 1L)), Seq((7L, 3L)), Seq((7L, 10L)))
      .map(_.toDF("doc", "rnk"))
    val r = Ranking.rrfFuse(ls, "doc", "rnk", k = 60).collect().head
    // krs = 61, 63, 70: den = 61*63*70, num = 63*70 + 61*70 + 61*63
    assert(r.getAs[Long]("rrf_den") == 61L * 63 * 70)
    assert(r.getAs[Long]("rrf_num") == 63L * 70 + 61L * 70 + 61L * 63)
  }
}
