package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.{GraftSession, StreamProgress}
import graft.sources.{FileEventSource, TickSource}

class BatcherSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private val cfg = LoadConfig(
    s3Prefix = "bucket/input", batchSize = 2,
    batchTimeoutSecs = Some(60), batchSizeBytes = Some(10000))
  private val configs = Map("bucket/input" -> cfg)

  private def ev(name: String, size: Long = 100, t: Long = 1000L) =
    FileEvent("bucket", s"input/$name", size, t)

  private def freshState = Batcher.initialState()

  test("count trigger: sample acceptance scenario — 5 files, batchSize 2 → 2 flushes + 1 pending") {
    val (st, _, flushes) = Batcher.processPrefix(configs, () => 1000L)(
      "bucket/input", (1 to 5).map(i => ev(s"f$i.csv")).iterator, freshState, Set.empty)
    assert(flushes.size == 2)
    assert(flushes.forall(_.entries.size == 2))
    assert(flushes.map(_.reason).distinct == List("count"))
    assert(flushes.map(_.batchId).distinct.size == 2)
    assert(st.entries.map(_.file) == Vector("bucket/input/f5.csv"))
    assert(st.sizeBytes == 100)
  }

  test("bytes trigger fires before count") {
    val (_, _, flushes) = Batcher.processPrefix(configs, () => 1000L)(
      "bucket/input", Iterator(ev("big.csv", size = 20000)), freshState, Set.empty)
    assert(flushes.size == 1 && flushes.head.reason == "bytes")
  }

  test("duplicate file is dropped (F4/T6)") {
    val f = ev("dup.csv")
    // batchSize 2: an admitted duplicate would flush a batch
    val (st, seen, flushes) = Batcher.processPrefix(configs, () => 1000L)(
      "bucket/input", Iterator(f, f, f), freshState, Set.empty)
    assert(flushes.isEmpty)
    assert(st.entries.map(_.file) == Vector("bucket/input/dup.csv"))
    assert(seen == Set("bucket/input/dup.csv"))
  }

  test("unlink control event clears dedup state; re-delivery admitted as new") {
    val f = ev("re.csv")
    // admit once, then a duplicate delivery — swallowed
    val (s1, seen1, out1) = Batcher.processPrefix(configs, () => 1000L)(
      "bucket/input", Iterator(f, f), freshState, Set.empty)
    assert(out1.isEmpty)
    assert(seen1 == Set("bucket/input/re.csv"))
    assert(s1.entries.size == 1)
    // unlink control event (from the graft-control marker)
    val unlink = FileEvent("bucket", "input/re.csv", 0, 2000L, unlink = true)
    val (s2, seen2, _) = Batcher.processPrefix(configs, () => 2000L)(
      "bucket/input", Iterator(unlink), s1, seen1)
    assert(!seen2.contains("bucket/input/re.csv"))
    // re-delivery is now a NEW admission: the batch's second entry, so
    // batchSize 2 flushes it
    val (_, seen3, out3) = Batcher.processPrefix(configs, () => 3000L)(
      "bucket/input", Iterator(f), s2, seen2)
    assert(seen3 == Set("bucket/input/re.csv"))
    assert(out3.map(_.entries.map(_.file)) ==
      Seq(Vector("bucket/input/re.csv", "bucket/input/re.csv")))
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
    val (state, _, _) = Batcher.processPrefix(filtered, () => 1000L)(
      "bucket/input", Iterator(ev("a.csv"), ev("skip.json")), freshState, Set.empty)
    assert(state.entries.map(_.file) == Vector("bucket/input/a.csv"))

    val broken = Map("bucket/input" -> cfg.copy(filenameFilterRegex = Some("[broken")))
    val (state2, _, _) = Batcher.processPrefix(broken, () => 1000L)(
      "bucket/input", Iterator(ev("anything.xyz")), freshState, Set.empty)
    assert(state2.entries.size == 1)
  }

  test("age trigger on processing-time timeout (T2) flushes pending") {
    // first: accumulate one file at t=1000
    val (state, seen, _) = Batcher.processPrefix(configs, () => 1000L)(
      "bucket/input", Iterator(ev("lone.csv", t = 1000L)), freshState, Set.empty)
    assert(state.entries.size == 1)
    // then: a trigger at t = 62s with no input
    val (aged, _, flushes) = Batcher.processPrefix(configs, () => 62000L)(
      "bucket/input", Iterator.empty, state, seen)
    assert(flushes.size == 1 && flushes.head.reason == "age")
    assert(flushes.head.entries.map(_.file) == Vector("bucket/input/lone.csv"))
    assert(aged.entries.isEmpty)
  }

  test("no config resolved → no state, no output") {
    val (_, _, flushes) = Batcher.processPrefix(configs, () => 1000L)(
      "unconfigured/prefix", Iterator(ev("x.csv")), freshState, Set.empty)
    assert(flushes.isEmpty)
    // at trigger level such an event creates no state at all
    val (states, seen, out) = Batcher.admit(configs, () => 1000L)(
      Map.empty, Set.empty, Seq(FileEvent("unconfigured", "prefix/x.csv", 1, 1000L)))
    assert(states.isEmpty && seen.isEmpty && out.isEmpty)
  }

  /** Run `events` through a streaming query whose foreachBatch admits
    * each trigger's events on the driver, as the pipeline does, and
    * records the flushes; with `ticks`, each batch arms the next age
    * tick and consumes the ticks it collected, as the pipeline does. */
  private def admitting(events: Dataset[FileEvent], configs: Map[String, LoadConfig],
                        ticks: Option[TickSource] = None) = {
    val flushes = new java.util.concurrent.ConcurrentLinkedQueue[FlushCommand]()
    var state = Map.empty[String, BatcherState]
    var processed = Set.empty[String]
    val q = events.writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-batcher-ckpt").toString)
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .foreachBatch { (batch: Dataset[FileEvent], _: Long) =>
        val (tickEvents, fileEvents) =
          batch.collect().toSeq.partition(_.eventName == FileEventSource.TickEvent)
        val now = () => System.currentTimeMillis()
        val (next, seen, out) = Batcher.admit(configs, now)(state, processed, fileEvents)
        state = next
        processed = seen
        ticks.foreach { t =>
          t.arm(Batcher.nextDeadline(configs, state), now())
          t.consumed(tickEvents.filter(t.owns))
        }
        out.foreach(flushes.add)
      }
      .start()
    (q, flushes)
  }

  test("end-to-end streaming: MemoryStream → admit → flush commands (T1)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val countOnly = Map("bucket/input" -> cfg.copy(batchTimeoutSecs = None, batchSizeBytes = None))
    val input = MemoryStream[FileEvent]
    val now = System.currentTimeMillis()
    val (q, flushes) = admitting(input.toDS(), countOnly)
    def awaitCount(n: Long, timeoutMs: Long = 60000): Long = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (flushes.size < n && System.currentTimeMillis() < deadline) Thread.sleep(250)
      flushes.size.toLong
    }
    try {
      input.addData((1 to 5).map(i => ev(s"s$i.csv", t = now)))
      assert(awaitCount(2) == 2)
      val got = flushes.asScala.toSeq
      assert(got.forall(_.entries.size == 2))
      assert(got.map(_.batchId).distinct.length == 2)
      // re-delivering an already-processed file must not create entries
      input.addData(Seq(ev("s1.csv", t = now), ev("s2.csv", t = now)))
      q.processAllAvailable()
      assert(flushes.size == 2)
    } finally q.stop()
  }

  test("end-to-end streaming: age timeout flushes without further input (T2)") {
    val aged = Map("bucket/input" -> cfg.copy(batchSize = 100, batchTimeoutSecs = Some(2)))
    val root = Files.createTempDirectory("graft-batcher-watch").toString
    val ticks = new TickSource(spark, root, "spec")
    val (q, flushes) = admitting(FileEventSource.stream(spark, root), aged, Some(ticks))
    try {
      Files.createDirectories(java.nio.file.Paths.get(root, "bucket", "input"))
      Files.write(java.nio.file.Paths.get(root, "bucket", "input", "only.csv"), "1\n".getBytes)
      // poll: the tick armed for the batch's deadline arrives ~2s after
      // the first append, no dummy data files needed (unlike the
      // reference's sweep hack)
      val deadline = System.currentTimeMillis() + 30000
      while (flushes.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(500)
      StreamProgress.awaitTriggers(q, 2)
      assert(flushes.size == 1)
      val f = flushes.peek()
      assert(f.reason == "age" && f.entries.map(_.file) == Seq("bucket/input/only.csv"))
    } finally {
      q.stop()
      ticks.stop()
    }
  }
}
