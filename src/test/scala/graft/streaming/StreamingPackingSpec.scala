package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import StreamingPacking.{Doc, Packed}
import graft.GraftSession

/** Streaming packing must assign the SAME sequence coordinates the
  * batch packer computes over the same arrival order — the state (one
  * running offset per group) is the only thing carried between
  * micro-batches.
  */
class StreamingPackingSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  private def awaitCount(table: String, n: Long, timeoutMs: Long = 60000): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var c = spark.table(table).count()
    while (c < n && System.currentTimeMillis() < deadline) {
      Thread.sleep(250); c = spark.table(table).count()
    }
    c
  }

  test("two micro-batches continue offsets; coordinates match the batch packer") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val budget = 50
    val rnd = new scala.util.Random(23)
    val docs = (for (g <- Seq("a", "b"); i <- 0 until 30)
      yield Doc(g, i.toLong, 1 + rnd.nextInt(30))) ++
      // zero-token edges (the withOffsets EMPTY-range contract, incl.
      // floorDiv at off = 0): group w opens with a zero-token doc
      // (first=0, last=-1 — truncating division would say 0); group z
      // carries a boundary offset ACROSS the micro-batch split and its
      // batch-2 head is a zero-token doc sitting exactly on it
      Seq(Doc("w", 10L, 0), Doc("w", 11L, 5),
        Doc("z", 10L, 50),                  // h1: fills seq 0 exactly
        Doc("z", 20L, 0),                   // h2 head: empty range at the boundary
        Doc("z", 21L, 7), Doc("z", 22L, 0), // mid-seq zero-width row
        Doc("z", 23L, 43))

    val input = MemoryStream[Doc]
    val q = StreamingPacking.assign(spark, input.toDS(), budget)
      .writeStream.format("memory").queryName("spack").outputMode("append").start()
    try {
      // stream each group's first half, then its second half — state
      // must carry the offset across the batch boundary
      val (h1, h2) = docs.partition(_.doc_id < 15)
      input.addData(h1)
      assert(awaitCount("spack", h1.size) == h1.size)
      input.addData(h2)
      assert(awaitCount("spack", docs.size) == docs.size)

      val streamed = spark.table("spack").as[Packed].collect()
        .map(p => (p.group, p.doc_id) -> ((p.start_tok, p.first_seq, p.last_seq))).toMap

      val batch = graft.operators.Packing.withOffsets(
          docs.toDF("source", "doc_id", "n_tokens"),
          Seq("source"), "doc_id", "n_tokens", budget)
        .select(col("source"), col("doc_id"), col("start_tok"),
          col("first_seq"), col("last_seq"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

      assert(streamed.keySet == batch.keySet)
      batch.foreach { case (k, v) =>
        assert(streamed(k) == v, s"doc $k: streamed=${streamed(k)} batch=$v")
      }
    } finally q.stop()
  }
}
