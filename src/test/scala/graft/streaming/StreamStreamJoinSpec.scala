package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Stream-STREAM interval join under real IncrementalExecution — the
  * two-live-sources leg of the attribution family (q159/q171 join a
  * conversion STREAM to a touch STREAM in production): watermarked
  * event-time state on both sides, the time-bound condition sizing the
  * buffered state, append-mode emission once the watermark passes.
  *
  * The batch multi-touch operator is the semantic oracle: every
  * (conversion, touch) pair the streaming join emits must be exactly
  * the batch range-join's pair set over the same data, regardless of
  * which micro-batch each side arrived in.
  */
class StreamStreamJoinSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  final case class Conv(cid: Long, u: Long, ts: Timestamp)
  final case class Touch(tid: Long, u: Long, ts: Timestamp, ch: String)

  private def t(sec: Long) = new Timestamp(sec * 1000L)

  test("watermarked conversion⋈touch interval join equals the batch pair set across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val convIn = MemoryStream[Conv]
    val tchIn = MemoryStream[Touch]
    val conv = convIn.toDF()
      .withWatermark("ts", "30 seconds")
      .select(col("cid"), col("u").as("cu"), col("ts").as("cts"))
    val tch = tchIn.toDF()
      .withWatermark("ts", "30 seconds")
      .select(col("tid"), col("u").as("tu"), col("ts").as("tts"), col("ch"))
    // touch strictly before the conversion, within a 60s lookback —
    // the q171 window as a stream-stream range condition (it bounds
    // both sides' buffered state, which is what makes this run forever)
    val joined = tch.join(conv,
      col("tu") === col("cu") &&
        col("tts") >= col("cts") - expr("INTERVAL 60 SECONDS") &&
        col("tts") < col("cts"))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      // batch 1: a conversion arrives BEFORE its touches (out of order
      // across sides — the case stream-static enrichment cannot serve)
      convIn.addData(Conv(1, 10, t(1000)))
      tchIn.addData(Touch(101, 10, t(950), "click"), Touch(102, 10, t(990), "view"))
      q.processAllAvailable()
      // batch 2: a late-but-in-watermark touch for conversion 1, plus a
      // second conversion whose only touch came in batch 1
      tchIn.addData(Touch(103, 10, t(995), "click"))
      convIn.addData(Conv(2, 10, t(1010)))
      q.processAllAvailable()
      val got = spark.table("ssj").collect()
        .map(r => (r.getAs[Long]("cid"), r.getAs[Long]("tid"))).toSet

      // the batch oracle over the same union of arrivals
      val convAll = Seq((1L, 10L, 1000L, 1L), (2L, 10L, 1010L, 1L))
        .toDF("cid", "u", "t", "rev")
      val tchAll = Seq((101L, 10L, 950L, "click"), (102L, 10L, 990L, "view"),
        (103L, 10L, 995L, "click")).toDF("tid", "u", "t", "ch")
      val want = graft.operators.EventOps.multiTouchAttribution(
          convAll, tchAll, "u", "t", "cid", "rev", "tid", "ch",
          lookbackSec = 60L, bucketWidth = 30L)
        .collect().map(r => (r.getAs[Long]("conv_id"), r.getAs[Long]("touch_id"))).toSet
      assert(got == want, s"stream pair set $got must equal batch $want")
      assert(got == Set((1L, 101L), (1L, 102L), (1L, 103L),
        (2L, 101L), (2L, 102L), (2L, 103L)))

      // the state operator exists and is bounded by the watermark (the
      // plan carries event-time watermarks on both inputs)
      val progress = q.lastProgress
      assert(progress.stateOperators.nonEmpty, "expected join state")
      assert(progress.eventTime.containsKey("watermark"))
    } finally q.stop()
  }

  test("left-outer: a touchless conversion null-extends once the watermark passes its window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val convIn = MemoryStream[Conv]
    val tchIn = MemoryStream[Touch]
    val conv = convIn.toDF()
      .withWatermark("ts", "10 seconds")
      .select(col("cid"), col("u").as("cu"), col("ts").as("cts"))
    val tch = tchIn.toDF()
      .withWatermark("ts", "10 seconds")
      .select(col("tid"), col("u").as("tu"), col("ts").as("tts"), col("ch"))
    val joined = conv.join(tch,
      col("tu") === col("cu") &&
        col("tts") >= col("cts") - expr("INTERVAL 60 SECONDS") &&
        col("tts") < col("cts"),
      "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssjlo")
      .outputMode("append").start()
    try {
      // conversion 1 has a touch; conversion 2 has NONE — it must
      // still come out, null-extended, but only after the watermark
      // proves no matching touch can arrive anymore
      convIn.addData(Conv(1, 10, t(1000)), Conv(2, 20, t(1000)))
      tchIn.addData(Touch(101, 10, t(990), "click"))
      q.processAllAvailable()
      // push the watermark far past conversion 2's window on BOTH
      // sides, then run the extra batch that evicts + emits
      convIn.addData(Conv(9, 99, t(5000)))
      tchIn.addData(Touch(999, 99, t(5000), "view"))
      q.processAllAvailable()
      convIn.addData(Conv(10, 99, t(6000)))
      q.processAllAvailable()
      val got = spark.table("ssjlo").collect()
        .map(r => (r.getAs[Long]("cid"),
          Option(r.getAs[Any]("tid")).map(_.asInstanceOf[Long])))
        .toSet
      assert(got.contains((1L, Some(101L))), s"matched pair missing: $got")
      assert(got.contains((2L, None)),
        s"touchless conversion must null-extend after the watermark: $got")
    } finally q.stop()
  }
}
