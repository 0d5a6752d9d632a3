package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** The mergeable-sketch family under real IncrementalExecution: the
  * same TypedImperativeAggregate buffers that fold map-side in batch
  * fold ACROSS MICRO-BATCHES in a streaming complete-mode aggregate —
  * the property that makes a 100 TB streaming ingest's distinct/
  * frequency state bounded. The batch sketch over the union of all
  * arrivals is the parity oracle: the streamed sketch must be
  * byte-identical after every batch.
  */
class StreamingSketchSpec extends AnyFunSuite {
  import graft.functions.{expressions => gx}

  lazy val spark = GraftSession.local(4)

  test("streaming KMV sketch ≡ batch sketch over the union, after every micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Int, String)]
    val q = input.toDF().toDF("shard", "s")
      .groupBy(col("shard"))
      .agg(gx.kmv_sketch(col("s"), 64).as("sk"))
      .writeStream.format("memory").queryName("skmv")
      .outputMode("complete").start()
    try {
      val b1 = (0 until 500).map(i => (i % 3, s"tok${i % 120}"))
      val b2 = (500 until 900).map(i => (i % 3, s"tok${i % 260}"))
      var seen = Seq.empty[(Int, String)]
      for (b <- Seq(b1, b2)) {
        input.addData(b: _*)
        q.processAllAvailable()
        seen = seen ++ b
        val streamed = spark.table("skmv").collect()
          .map(r => r.getInt(0) -> r.getAs[Array[Byte]]("sk")).toMap
        val batch = seen.toDF("shard", "s")
          .groupBy(col("shard")).agg(gx.kmv_sketch(col("s"), 64).as("sk"))
          .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]]("sk")).toMap
        assert(streamed.keySet == batch.keySet)
        for (k <- batch.keySet)
          assert(java.util.Arrays.equals(streamed(k), batch(k)),
            s"shard $k sketch must be byte-identical to the batch fold")
      }
      // and the rolled-up estimate from the streamed shard sketches
      // equals the batch corpus estimate (union of stored sketches —
      // the monitoring read path)
      val est = spark.table("skmv")
        .agg(gx.kmv_estimate(gx.kmv_union(col("sk"))).as("e"))
        .head().getDouble(0)
      val want = seen.toDF("shard", "s")
        .agg(gx.kmv_estimate(gx.kmv_sketch(col("s"), 64)).as("e"))
        .head().getDouble(0)
      assert(est == want)
    } finally q.stop()
  }
}
