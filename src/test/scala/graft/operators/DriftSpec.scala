package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class DriftSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private val bins = 5

  private def tvdRef(ref: Seq[Double], batch: Seq[Double]): (Long, Double) = {
    val (lo, hi) = (ref.min, ref.max)
    val w = (hi - lo) / bins
    def bin(v: Double): Long =
      if (w == 0.0) 0L
      else math.max(0L, math.min(bins - 1L, math.floor((v - lo) / w).toLong))
    val h1 = ref.groupBy(bin).view.mapValues(_.size.toLong).toMap
    val h2 = batch.groupBy(bin).view.mapValues(_.size.toLong).toMap
    val (t1, t2) = (ref.size.toLong, batch.size.toLong)
    val num = (0L until bins.toLong).map { b =>
      math.abs(h1.getOrElse(b, 0L) * t2 - h2.getOrElse(b, 0L) * t1)
    }.sum
    (num, num.toDouble / (2.0 * (t1 * t2).toDouble))
  }

  private def run(data: Seq[(String, Double, Boolean)]) = {
    val df = data.map { case (g, v, isRef) => (g, v, isRef) }.toDF("g", "v", "is_ref")
    val ref = df.filter($"is_ref")
    val batch = df.filter(!$"is_ref")
    val e = Drift.edges(ref, "g", "v", bins)
    Drift.l1(
        Drift.histogram(ref, "g", "v", e, bins),
        Drift.histogram(batch, "g", "v", e, bins), "g")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getDouble(4)))).toMap
  }

  test("TVD matches a driver reference; identical distributions give 0; clamping catches out-of-range drift") {
    val rnd = new scala.util.Random(41)
    val refA = Seq.fill(400)(rnd.nextDouble() * 10)
    val batchA = Seq.fill(300)(rnd.nextDouble() * 10 + 4)   // shifted, partly out of range
    val refB = Seq.fill(100)(rnd.nextInt(5).toDouble)
    val batchB = refB                                       // identical ⇒ zero drift
    val data = refA.map(("a", _, true)) ++ batchA.map(("a", _, false)) ++
      refB.map(("b", _, true)) ++ batchB.map(("b", _, false))
    val got = run(data)
    val (numA, tvdA) = tvdRef(refA, batchA)
    assert(got("a") == ((numA, tvdA)))
    assert(got("b")._2 == 0.0)
    assert(tvdA > 0.0 && tvdA <= 1.0)
  }

  test("categorical drift: categories as bins, one-sided categories count 0") {
    val ref = Seq(("s", "en"), ("s", "en"), ("s", "de"))          // en 2/3, de 1/3
    val batch = Seq(("s", "en"), ("s", "fr"), ("s", "fr"))        // en 1/3, fr 2/3
    val got = Drift.l1(
        Drift.categoricalHistogram(ref.toDF("g", "c"), "g", "c"),
        Drift.categoricalHistogram(batch.toDF("g", "c"), "g", "c"), "g")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // l1_num = |2*3-1*3| + |1*3-0| + |0-2*3| = 3+3+6 = 12; tvd = 12/(2*9) = 2/3
    assert(got.toSeq == Seq((3L, 3L, 12L, 12.0 / 18.0)))
  }

  test("degenerate reference (w = 0) puts all mass in bin 0 on both sides") {
    val data = Seq.fill(10)(("c", 7.0, true)) ++
      Seq(("c", 7.0, false), ("c", 99.0, false))
    // everything bins to 0 ⇒ identical normalized histograms ⇒ TVD 0
    assert(run(data)("c")._2 == 0.0)
  }

  test("store/load round-trip: scoreAgainst a reloaded reference ≡ the direct computation") {
    val rnd = new scala.util.Random(47)
    val refRows = Seq.fill(500)(("a", rnd.nextDouble() * 20)) ++
      Seq.fill(200)(("b", rnd.nextInt(9).toDouble))
    val batchRows = Seq.fill(150)(("a", rnd.nextDouble() * 30 - 5)) ++
      Seq.fill(90)(("b", rnd.nextInt(4).toDouble))
    val tbl = s"driftref${System.nanoTime()}"
    try {
      val stored = Drift.store(refRows.toDF("g", "v"), "g", "v", bins, tbl)
      val reloaded = Drift.load(spark, tbl)
      assert(reloaded.bins == bins)
      val viaStored = Drift.scoreAgainst(reloaded, batchRows.toDF("g", "v"), "g", "v")
        .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getDouble(4)))).toMap
      val refDf = refRows.toDF("g", "v")
      val e = Drift.edges(refDf, "g", "v", bins)
      val direct = Drift.l1(
          Drift.histogram(refDf, "g", "v", e, bins),
          Drift.histogram(batchRows.toDF("g", "v"), "g", "v", e, bins), "g")
        .collect().map(r => r.getString(0) -> ((r.getLong(3), r.getDouble(4)))).toMap
      assert(viaStored == direct)
      assert(stored.bins == bins)
    } finally {
      Seq("_edges", "_hist", "_meta").foreach(s =>
        spark.sql(s"DROP TABLE IF EXISTS $tbl$s"))
    }
  }

  test("streaming drift gate: per-micro-batch TVD vs the stored reference ≡ the batch computation") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rnd = new scala.util.Random(43)
    val refRows = Seq.fill(300)(("a", rnd.nextDouble() * 10))
    val refDf = refRows.toDF("g", "v")
    val e = Drift.edges(refDf, "g", "v", bins)
    val refHist = Drift.histogram(refDf, "g", "v", e, bins)
    e.persist().count(); refHist.persist().count()

    val batches = Seq(
      Seq.fill(50)(("a", rnd.nextDouble() * 10 + 3)),
      Seq.fill(80)(("a", rnd.nextDouble() * 2)))
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val input = MemoryStream[(String, Double)]
    val q = input.toDF().toDF("g", "v").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // the stored edges/reference are static; each micro-batch is
        // histogrammed against them and scored — the monitoring loop
        val row = Drift.l1(refHist, Drift.histogram(df, "g", "v", e, bins), "g")
          .collect().headOption
        row.foreach(r => seen += ((r.getLong(3), r.getDouble(4))))
        ()
      }
      .start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val want = batches.map { b =>
        val got = Drift.l1(refHist,
          Drift.histogram(b.toDF("g", "v"), "g", "v", e, bins), "g")
          .collect().head
        (got.getLong(3), got.getDouble(4))
      }
      assert(seen.toSeq == want)
      assert(want.forall(_._2 > 0.0))
    } finally { q.stop(); e.unpersist(blocking = false); refHist.unpersist(blocking = false) }
  }
}
