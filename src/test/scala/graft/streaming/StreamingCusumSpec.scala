package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import StreamingCusum.Point
import graft.GraftSession

class StreamingCusumSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  test("streaming cusum = batch closed form across micro-batches; alarms fire in-batch") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(89)
    val series = (0L until 40L).map(t =>
      Point("k1", t, rng.nextInt(10).toLong + (if (t >= 25) 8L else 0L), 5L)) ++
      (0L until 40L).map(t => Point("k2", t, rng.nextInt(10).toLong, 5L))

    val input = MemoryStream[Point]
    val q = StreamingCusum.detect(spark, input.toDS(), slack = 1L, threshold = 15L)
      .writeStream.format("memory").queryName("scusum").outputMode("append").start()
    try {
      series.grouped(30).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      val streamed = spark.table("scusum").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[Long]("order")) ->
          ((r.getAs[Long]("cusum"), r.getAs[Boolean]("alarm"), r.getAs[Boolean]("accepted"))))
        .toMap
      assert(streamed.values.forall(_._3), "all in-order points accepted")

      val batch = graft.operators.TimeSeries.cusum(
          series.map(p => (p.key, p.order, p.value, p.target)).toDF("k", "t", "x", "target"),
          "k", "t", "x", "target", slack = 1L, threshold = 15L)
        .collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Long]("t")) ->
          ((r.getAs[Long]("cusum"), r.getAs[Boolean]("alarm"))))
        .toMap
      assert(streamed.map { case (k, v) => k -> ((v._1, v._2)) } == batch)
      assert(batch.exists(_._2._2), "the planted shift must alarm")
    } finally q.stop()
  }

  test("out-of-order points are rejected, not folded in") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Point]
    val q = StreamingCusum.detect(spark, input.toDS(), slack = 0L, threshold = 100L)
      .writeStream.format("memory").queryName("scusum2").outputMode("append").start()
    try {
      input.addData(Seq(Point("k", 5L, 10L, 0L)))
      q.processAllAvailable()
      input.addData(Seq(Point("k", 3L, 99L, 0L), Point("k", 6L, 1L, 0L)))
      q.processAllAvailable()
      val got = spark.table("scusum2").collect()
        .map(r => r.getAs[Long]("order") ->
          ((r.getAs[Long]("cusum"), r.getAs[Boolean]("accepted")))).toMap
      assert(got(5L) == ((10L, true)))
      assert(got(3L)._2 == false, "late point rejected")
      assert(got(6L) == ((11L, true)), "state unaffected by the rejected point")
    } finally q.stop()
  }
}
