package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import EventAnalytics._
import graft.GraftSession

class EventAnalyticsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)

  test("streaming windowed counts with watermark (T2 streaming dual of q14)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val agg = windowedCounts(input.toDF())
    val q = agg.writeStream.format("memory").queryName("winagg")
      .outputMode("complete").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(10), 1, "click", 2.0),
        Event(3, ts(70), 2, "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("winagg").collect()
      assert(rows.length == 2) // two distinct hour windows
      val click = rows.find(_.getAs[String]("event_type") == "click").get
      assert(click.getAs[Long]("n_events") == 2)
      assert(click.getAs[Double]("total_value") == 3.0)
    } finally q.stop()
  }

  test("streaming per-group top-k: the mergeable aggregate incrementally tracks leaders (q82 dual)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.expressions.group_top_k
    val input = MemoryStream[Event]
    // leaders per event type by value, ties to the smaller event id —
    // the bounded-state aggregate composes into a streaming groupBy
    // exactly like any built-in (update-per-microbatch, no window sort)
    val agg = input.toDF().groupBy($"event_type")
      .agg(group_top_k($"value", $"event_id", 2).as("top"))
    val q = agg.writeStream.format("memory").queryName("stopk")
      .outputMode("complete").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 5.0),
        Event(2, ts(1), 2, "click", 9.0),
        Event(3, ts(2), 3, "click", 7.0))
      q.processAllAvailable()
      def leaders(): Seq[(String, Seq[Long])] =
        spark.table("stopk")
          .select($"event_type", $"top.id".as("ids")).as[(String, Seq[Long])]
          .collect().toSeq.sortBy(_._1)
      assert(leaders() == Seq("click" -> Seq(2L, 3L)))
      // a later micro-batch displaces a leader and adds a group
      input.addData(
        Event(4, ts(3), 4, "click", 8.0),
        Event(5, ts(4), 5, "view", 1.0))
      q.processAllAvailable()
      assert(leaders() == Seq("click" -> Seq(2L, 4L), "view" -> Seq(5L)))
    } finally q.stop()
  }

  test("streaming sessionization: gap closes a session, new one opens (q27 streaming dual)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val sessions = sessionize(spark, input.toDS(), gapSecs = 1800)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .start()
    try {
      // two events 10 min apart (same session), then one 60 min later
      // (closes session 1, opens session 2)
      input.addData(
        Event(1, ts(0), 7, "click", 1.0),
        Event(2, ts(10), 7, "click", 2.0),
        Event(3, ts(70), 7, "view", 4.0))
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n < 1 && System.currentTimeMillis() < deadline) {
        Thread.sleep(300); n = spark.table("sessions").count()
      }
      val closed = spark.table("sessions").as[SessionOut].collect()
      assert(closed.length == 1)
      assert(closed.head.n_events == 2 && closed.head.total_value == 3.0)
      assert(closed.head.session_start == ts(0).getTime)
      assert(closed.head.session_end == ts(10).getTime)
    } finally q.stop()
  }

  test("stored outlier profile gates a stream: micro-batch flags ≡ batch flags, unknown group fail-open") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Outliers
    // yesterday's batch fixes the thresholds
    val hist = ((1 to 50).map(i => ("click", 10.0 + (i % 3))) ++
      (1 to 40).map(i => ("view", 100.0 + (i % 5)))).toDF("event_type", "value")
    val profile = Outliers.thresholds(hist, "event_type", "value")
    profile.persist().count()

    val today = Seq(
      Event(1, ts(0), 1, "click", 11.0),   // in band
      Event(2, ts(1), 2, "click", 500.0),  // spike
      Event(3, ts(2), 3, "view", 102.0),   // in band
      Event(4, ts(3), 4, "view", -9.0),    // spike
      Event(5, ts(4), 5, "purchase", 1.0)) // no stored profile: fail-open
    val batchFlags = Outliers
      .flagAgainstProfile(today.toDF(), profile, "event_type", "value")
      .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Boolean]("is_outlier")).toMap

    val input = MemoryStream[Event]
    val gated = Outliers.flagAgainstProfile(input.toDF(), profile, "event_type", "value")
    val q = gated.writeStream.format("memory").queryName("outgate")
      .outputMode("append").start()
    try {
      input.addData(today.take(2): _*)
      q.processAllAvailable()
      input.addData(today.drop(2): _*)
      q.processAllAvailable()
      val streamFlags = spark.table("outgate")
        .collect().map(r => r.getAs[Long]("event_id") -> r.getAs[Boolean]("is_outlier")).toMap
      assert(streamFlags == batchFlags)
      assert(streamFlags(2L) && streamFlags(4L))
      assert(!streamFlags(1L) && !streamFlags(3L) && !streamFlags(5L))
    } finally { q.stop(); profile.unpersist(blocking = false) }
  }

  test("native session_window sessions = driver gap-merge reference; append under watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // 10-minute gap, 1-minute watermark: sessions flush quickly
    val q = sessionWindowCounts(input.toDF(), gap = "10 minutes",
        watermark = "1 minute")
      .writeStream.format("memory").queryName("swc")
      .outputMode("append").start()
    try {
      // user 1: two sessions (0..5, then 30..31); user 2: one session,
      // split mid-session across micro-batches (merge must span batches)
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(5), 1, "click", 2.0),
        Event(3, ts(0), 2, "view", 5.0))
      q.processAllAvailable()
      input.addData(
        Event(4, ts(8), 2, "view", 7.0),
        Event(5, ts(30), 1, "click", 3.0))
      q.processAllAvailable()
      // advance the watermark far past every session end, then flush
      input.addData(Event(99, ts(600), 9, "tick", 0.0))
      q.processAllAvailable()
      input.addData(Event(100, ts(700), 9, "tick", 0.0))
      q.processAllAvailable()
      val got = spark.table("swc").collect()
        .filter(_.getAs[Long]("user_id") != 9L)
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("session_start").getTime,
          r.getAs[java.sql.Timestamp]("session_end").getTime,
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
        .toSet
      // builtin convention: end = last event + gap
      val gapMs = 10 * 60000L
      val want = Set(
        (1L, ts(0).getTime, ts(5).getTime + gapMs, 2L, 3.0),
        (1L, ts(30).getTime, ts(30).getTime + gapMs, 1L, 3.0),
        (2L, ts(0).getTime, ts(8).getTime + gapMs, 2L, 12.0))
      assert(got == want)
    } finally q.stop()
  }
}
