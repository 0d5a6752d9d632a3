package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.streaming.TestGroupState
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.{GraftSession, StreamProgress}

class BatcherSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private val cfg = LoadConfig(
    s3Prefix = "bucket/input", batchSize = 2,
    batchTimeoutSecs = Some(60), batchSizeBytes = Some(10000))
  private val configs = Map("bucket/input" -> cfg)

  private def ev(name: String, size: Long = 100, t: Long = 1000L) =
    FileEvent("bucket", s"input/$name", size, t)

  private def freshState = TestGroupState.create[BatcherState](
    optionalState = Optional.empty[BatcherState](), timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
    batchProcessingTimeMs = 1000L, eventTimeWatermarkMs = Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]], hasTimedOut = false)

  test("count trigger: sample acceptance scenario — 5 files, batchSize 2 → 2 flushes + 1 pending") {
    val state = freshState
    val flushes = Batcher.processPrefix(configs, () => 1000L)(
      "bucket/input", (1 to 5).map(i => ev(s"f$i.csv")).iterator, state).toList
    assert(flushes.size == 2)
    assert(flushes.forall(_.entries.size == 2))
    assert(flushes.map(_.reason).distinct == List("count"))
    assert(flushes.map(_.batchId).distinct.size == 2)
    val st = state.get
    assert(st.entries.map(_.file) == Vector("bucket/input/f5.csv"))
    assert(st.sizeBytes == 100)
  }

  test("bytes trigger fires before count") {
    val state = freshState
    val flushes = Batcher.processPrefix(configs, () => 1000L)(
      "bucket/input", Iterator(ev("big.csv", size = 20000)), state).toList
    assert(flushes.size == 1 && flushes.head.reason == "bytes")
  }

  test("duplicate file is dropped and counted (F4/T6)") {
    val state = freshState
    val f = ev("dup.csv")
    val flushes = Batcher.processPrefix(configs, () => 1000L)(
      "bucket/input", Iterator(f, f, f), state).toList
    assert(flushes.isEmpty)
    val st = state.get
    assert(st.entries.size == 1)
    assert(st.processed("bucket/input/dup.csv") == 3)
  }

  test("unlink control event clears dedup state; re-delivery admitted as new") {
    val state = freshState
    val f = ev("re.csv")
    // admit once, then a duplicate delivery — swallowed
    assert(Batcher.processPrefix(configs, () => 1000L)(
      "bucket/input", Iterator(f, f), state).toList.isEmpty)
    assert(state.get.processed("bucket/input/re.csv") == 2)
    assert(state.get.entries.size == 1)
    // unlink control event (from the graft-control marker)
    val unlink = FileEvent("bucket", "input/re.csv", 0, 2000L, unlink = true)
    Batcher.processPrefix(configs, () => 2000L)("bucket/input", Iterator(unlink), state)
    assert(!state.get.processed.contains("bucket/input/re.csv"))
    // re-delivery is now a NEW admission (second entry in the batch)
    Batcher.processPrefix(configs, () => 3000L)("bucket/input", Iterator(f), state)
    assert(state.get.processed("bucket/input/re.csv") == 1)
  }

  test("control-marker path round-trips through toEvent as an unlink event") {
    val e = graft.sources.FileEventSource.toEvent("/watch")(
      "/watch/graft-control/unlink/" +
        graft.sources.FileEventSource.encodeControlTarget("bucket/input/a b.csv"),
      0L, 1000L)
    assert(e.unlink && e.bucket == "bucket" && e.key == "input/a b.csv")
  }

  test("local paths are NOT url-decoded; S3-event decoding is opt-in (C8)") {
    // a literal %20 in a filesystem name must survive untouched
    val raw = graft.sources.FileEventSource.toEvent("/watch")(
      "/watch/bucket/input/has%20literal.csv", 1L, 1000L)
    assert(raw.key == "input/has%20literal.csv")
    // an S3-event source delivers encoded keys — decoding opt-in
    val s3 = graft.sources.FileEventSource.toEvent("/watch", decodeS3Keys = true)(
      "/watch/bucket/input/has%20literal.csv", 1L, 1000L)
    assert(s3.key == "input/has literal.csv")
  }

  test("filename filter: non-matching dropped, malformed regex fail-open (F1)") {
    val filtered = Map("bucket/input" -> cfg.copy(filenameFilterRegex = Some("\\.csv$")))
    val state = freshState
    Batcher.processPrefix(filtered, () => 1000L)(
      "bucket/input", Iterator(ev("a.csv"), ev("skip.json")), state)
      .foreach(_ => ())
    assert(state.get.entries.map(_.file) == Vector("bucket/input/a.csv"))

    val broken = Map("bucket/input" -> cfg.copy(filenameFilterRegex = Some("[broken")))
    val state2 = freshState
    Batcher.processPrefix(broken, () => 1000L)(
      "bucket/input", Iterator(ev("anything.xyz")), state2).foreach(_ => ())
    assert(state2.get.entries.size == 1)
  }

  test("age trigger on processing-time timeout (T2) flushes pending") {
    // first: accumulate one file at t=1000
    val state = freshState
    Batcher.processPrefix(configs, () => 1000L)(
      "bucket/input", Iterator(ev("lone.csv", t = 1000L)), state).foreach(_ => ())
    assert(state.get.entries.size == 1)
    // then: timeout fires at t = 62s with no input
    val timedOut = TestGroupState.create[BatcherState](
      optionalState = Optional.of(state.get),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout,
      batchProcessingTimeMs = 62000L, eventTimeWatermarkMs = Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]], hasTimedOut = true)
    val flushes = Batcher.processPrefix(configs, () => 62000L)(
      "bucket/input", Iterator.empty, timedOut).toList
    assert(flushes.size == 1 && flushes.head.reason == "age")
    assert(flushes.head.entries.map(_.file) == Vector("bucket/input/lone.csv"))
    assert(timedOut.get.entries.isEmpty)
  }

  test("no config resolved → no state, no output") {
    val state = freshState
    val flushes = Batcher.processPrefix(configs, () => 1000L)(
      "unconfigured/prefix", Iterator(ev("x.csv")), state).toList
    assert(flushes.isEmpty)
  }

  test("end-to-end streaming: MemoryStream → Batcher.run → flush commands (T1)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // no age timeout here: with a processing-time timer armed the engine
    // keeps scheduling timeout-check batches and processAllAvailable
    // blocks until the timer fires (correct for production, wrong for a
    // synchronous test) — the age path is covered by the e2e test below.
    val countOnly = Map("bucket/input" -> cfg.copy(batchTimeoutSecs = None, batchSizeBytes = None))
    val input = MemoryStream[FileEvent]
    val now = System.currentTimeMillis()
    val flushes = Batcher.run(spark, input.toDS(), countOnly)
    val q = flushes.writeStream
      .format("memory").queryName("flushes").outputMode("append").start()
    // NB: processAllAvailable is unusable with ProcessingTimeTimeout —
    // shouldRunAnotherBatch is always true for that conf, so the engine
    // never reports "no work". Poll the sink instead.
    def awaitCount(n: Long, timeoutMs: Long = 60000): Long = {
      val deadline = System.currentTimeMillis() + timeoutMs
      var c = spark.table("flushes").count()
      while (c < n && System.currentTimeMillis() < deadline) {
        Thread.sleep(250); c = spark.table("flushes").count()
      }
      c
    }
    try {
      input.addData((1 to 5).map(i => ev(s"s$i.csv", t = now)))
      assert(awaitCount(2) == 2)
      val got = spark.table("flushes").as[FlushCommand].collect()
      assert(got.forall(_.entries.size == 2))
      assert(got.map(_.batchId).distinct.length == 2)
      // re-delivering an already-processed file must not create entries
      input.addData(Seq(ev("s1.csv", t = now), ev("s2.csv", t = now)))
      StreamProgress.awaitTriggers(q, 2)
      assert(spark.table("flushes").count() == 2)
    } finally q.stop()
  }

  test("end-to-end streaming: age timeout flushes without further input (T2)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val aged = Map("bucket/input" -> cfg.copy(batchSize = 100, batchTimeoutSecs = Some(2)))
    val input = MemoryStream[FileEvent]
    val flushes = Batcher.run(spark, input.toDS(), aged)
    val q = flushes.writeStream
      .format("memory").queryName("age_flushes").outputMode("append").start()
    try {
      input.addData(Seq(ev("only.csv", t = System.currentTimeMillis())))
      // poll: the age timer fires ~2s after the first append, no dummy
      // trigger files needed (unlike the reference's sweep hack)
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n == 0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        n = spark.table("age_flushes").count()
      }
      assert(n == 1)
      val f = spark.table("age_flushes").as[FlushCommand].head()
      assert(f.reason == "age" && f.entries.map(_.file) == Seq("bucket/input/only.csv"))
    } finally q.stop()
  }
}
