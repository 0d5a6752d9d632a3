package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import StreamingSmoothing.Point
import graft.GraftSession

class StreamingSmoothingSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  test("streaming ewma = batch cleared rationals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(17)
    val series = (0L until 30L).map(t => Point("a", t, rng.nextInt(1000).toLong)) ++
      (0L until 7L).map(t => Point("b", t, -rng.nextInt(500).toLong))

    val input = MemoryStream[Point]
    val q = StreamingSmoothing.smooth(spark, input.toDS(), alphaExp = 1, span = 4)
      .writeStream.format("memory").queryName("sewma").outputMode("append").start()
    try {
      // uneven micro-batches: state must carry windows across batch edges
      series.grouped(11).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("sewma").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("order")) ->
          ((r.getAs[Long]("ewmaNum"), r.getAs[Long]("ewmaDen"),
            r.getAs[Long]("ewmaC"), r.getAs[Boolean]("accepted"))))
        .toMap
      assert(streamed.values.forall(_._4), "all in-order points accepted")

      val batch = graft.operators.TimeSeries.ewma(
          series.map(p => (p.key, p.order, p.value)).toDF("k", "t", "v"),
          "k", "t", "v", alphaExp = 1, span = 4)
        .collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Long]("t")) ->
          ((r.getAs[Long]("ewma_num"), r.getAs[Long]("ewma_den"),
            r.getAs[Long]("ewma_c"))))
        .toMap
      assert(streamed.map { case (k, v) => k -> ((v._1, v._2, v._3)) } == batch,
        "streaming state fold must equal the batch lag-chain rationals")
    } finally q.stop()
  }

  test("out-of-order points are rejected; window state is unharmed") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Point]
    val q = StreamingSmoothing.smooth(spark, input.toDS(), alphaExp = 1, span = 2)
      .writeStream.format("memory").queryName("sewma2").outputMode("append").start()
    try {
      input.addData(Seq(Point("k", 5L, 10L)))
      q.processAllAvailable()
      input.addData(Seq(Point("k", 3L, 999L), Point("k", 6L, 20L)))
      q.processAllAvailable()
      val rows = spark.table("sewma2").collect()
        .map(r => r.getAs[Long]("order") ->
          ((r.getAs[Long]("ewmaNum"), r.getAs[Long]("ewmaDen"),
            r.getAs[Boolean]("accepted"))))
        .toMap
      assert(rows(3L) == ((-1L, -1L, false)), "late point rejected")
      // weights span=2, a=1: (2, 1); order 6 sees (20, 10) → 50/3
      assert(rows(6L) == ((50L, 3L, true)), "state ignores the rejected point")
    } finally q.stop()
  }

  test("streaming holt = batch fixed-point fold across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(23)
    // a trending series and a level-shift series, negatives included
    val series = (0L until 40L).map(t =>
        Point("up", t, 1000L + 50L * t + rng.nextInt(21) - 10)) ++
      (0L until 25L).map(t =>
        Point("sh", t, if (t < 12) -400L else 1800L))

    val input = MemoryStream[Point]
    val q = StreamingSmoothing.holt(spark, input.toDS(),
        alphaExp = 2, betaExp = 3)
      .writeStream.format("memory").queryName("sholt").outputMode("append").start()
    try {
      // uneven micro-batches: level/trend must carry across batch edges
      series.grouped(13).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("sholt").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("order")) ->
          ((r.getAs[Long]("x"), r.getAs[Long]("lvl"), r.getAs[Long]("tr"),
            r.getAs[Long]("err"), r.getAs[Boolean]("accepted"))))
        .toMap
      assert(streamed.values.forall(_._5), "all in-order points accepted")

      val batch = graft.operators.TimeSeries.holtSmooth(
          series.map(p => (p.key, p.order, p.value)).toDF("k", "t", "v"),
          "k", "t", "v", alphaExp = 2, betaExp = 3)
        .collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Long]("t")) ->
          ((r.getAs[Long]("x"), r.getAs[Long]("lvl"), r.getAs[Long]("tr"),
            r.getAs[Long]("err"))))
        .toMap
      assert(streamed.map { case (k, v) => k -> ((v._1, v._2, v._3, v._4)) }
        == batch, "streaming recurrence must equal the batch fold byte-for-byte")
    } finally q.stop()
  }

  test("holt: late point rejected without corrupting level/trend state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Point]
    val q = StreamingSmoothing.holt(spark, input.toDS(), 2, 3)
      .writeStream.format("memory").queryName("sholt2").outputMode("append").start()
    try {
      input.addData(Seq(Point("k", 0L, 100L), Point("k", 1L, 200L)))
      q.processAllAvailable()
      input.addData(Seq(Point("k", 1L, 999L), Point("k", 2L, 300L)))
      q.processAllAvailable()
      val rows = spark.table("sholt2").collect()
        .filter(_.getAs[Long]("order") >= 1L)
        .map(r => (r.getAs[Long]("order"), r.getAs[Boolean]("accepted")) ->
          ((r.getAs[Long]("lvl"), r.getAs[Long]("tr"))))
        .toMap
      assert(rows.contains((1L, false)), "duplicate order rejected")
      // replay the recurrence by hand: seed (100,0); x=200: lvl=(200+3*100)/4=125,
      // tr=((125-100)+0)/8=3; x=300: lvl=(300+3*128)/4=171, tr=((171-125)+21)/8=8
      assert(rows((1L, true)) == ((125L, 3L)))
      assert(rows((2L, true)) == ((171L, 8L)))
    } finally q.stop()
  }
}
