package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Stream-static as-of enrichment: per-batch semantics must equal the
  * oracle-checked batch operator's, and a reference table that GROWS
  * between micro-batches must be visible to later batches (the
  * re-resolve-per-batch contract).
  */
class StreamingAsofSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  final case class Tick(id: Long, sym: String, t: Long)

  test("micro-batches enrich with the latest snapshot at-or-before; growing reference is seen") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // mutable reference: (sym, t, px) snapshots, appended between batches
    @volatile var snaps = Seq((1L, "a", 10L, 1.0), (2L, "a", 20L, 2.0))
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[Double])]()

    val input = MemoryStream[Tick]
    val q = StreamingAsof.run(spark, input.toDF(),
      () => snaps.toDF("rid", "sym", "t", "px"),
      keys = Seq("sym"), tsCol = "t", payload = Seq("px"), tieCol = "rid") { df =>
      df.collect().foreach(r =>
        results.add((r.getAs[Long]("id"), Option(r.getAs[Any]("r_px")).map(_.asInstanceOf[Double]))))
    }
    try {
      input.addData(Tick(1, "a", 15), Tick(2, "a", 25), Tick(3, "a", 5), Tick(4, "b", 15))
      q.processAllAvailable()
      val r1 = results.toArray(Array.empty[(Long, Option[Double])]).toMap
      assert(r1 == Map(1L -> Some(1.0), 2L -> Some(2.0), 3L -> None, 4L -> None))

      // a new snapshot lands between batches → next batch must see it
      results.clear()
      snaps = snaps :+ ((3L, "a", 24L, 3.0))
      input.addData(Tick(5, "a", 25))
      q.processAllAvailable()
      val r2 = results.toArray(Array.empty[(Long, Option[Double])]).toMap
      assert(r2 == Map(5L -> Some(3.0)), "later batch must see the appended snapshot")
    } finally q.stop()
  }
}
