package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class KmvSketchSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._
  import graft.functions.{expressions => gx}

  private def sketchOf(items: Seq[String], k: Int): Array[Byte] =
    items.toDF("s").agg(gx.kmv_sketch(col("s"), k).as("sk"))
      .head().getAs[Array[Byte]]("sk")

  test("exact below k: estimate equals the true distinct count") {
    for (n <- Seq(0, 1, 7, 63)) {
      val items = (0 until 200).map(i => s"item${i % math.max(n, 1)}")
      val take = if (n == 0) Seq.empty[String] else items
      val est = spark.createDataset(Seq(sketchOf(take, 64)))
        .toDF("sk").select(gx.kmv_estimate(col("sk")).as("e"))
        .head().getAs[Double]("e")
      assert(est == n.toDouble, s"n=$n")
    }
  }

  test("estimate within ~3 RSE of truth at k = 256 over 50k distinct") {
    val k = 256
    val df = spark.range(50000).select(concat(lit("v"), col("id")).as("s"))
    val est = df.agg(gx.kmv_sketch(col("s"), k).as("sk"))
      .select(gx.kmv_estimate(col("sk")).as("e")).head().getAs[Double]("e")
    val rse = 1.0 / math.sqrt(k - 2)
    assert(math.abs(est - 50000) < 3 * rse * 50000, s"est=$est")
  }

  test("sharded union = whole-corpus sketch, byte-identical") {
    val items = (0 until 5000).map(i => s"tok${i % 1200}")
    val whole = sketchOf(items, 128)
    val sharded = items.zipWithIndex.map { case (s, i) => (i % 7, s) }
      .toDF("shard", "s")
      .groupBy(col("shard")).agg(gx.kmv_sketch(col("s"), 128).as("sk"))
      .agg(gx.kmv_union(col("sk")).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(whole, sharded))
  }

  test("mixed-k union clips to the SMALLEST k regardless of input order") {
    // update() must mirror merge()'s min(buffer.k, k): a union of a
    // k=32 and a k=128 sketch is only a valid KMV sketch at k=32, and
    // the result must not depend on which sketch the aggregate sees
    // first (order/partitioning independence).
    val small = sketchOf((0 until 5000).map(i => s"m$i"), 32)
    val big = sketchOf((2500 until 7500).map(i => s"m$i"), 128)
    def unionOf(pair: Seq[Array[Byte]]): Array[Byte] =
      spark.createDataset(pair).toDF("sk").coalesce(1)
        .agg(gx.kmv_union(col("sk")).as("u"))
        .head().getAs[Array[Byte]]("u")
    val ab = unionOf(Seq(small, big))
    val ba = unionOf(Seq(big, small))
    assert(java.util.Arrays.equals(ab, ba), "union must be order-independent")
    // serialized form leads with k — must be the min (32)
    val kOut = java.nio.ByteBuffer.wrap(ab).getInt
    assert(kOut == 32, s"union k must be min of inputs, got $kOut")
  }

  test("intersection estimate tracks true overlap; exact when both sides exact") {
    // exact side: fewer than k values each
    val a = sketchOf((0 until 40).map(i => s"x$i"), 64)
    val b = sketchOf((20 until 70).map(i => s"x$i"), 64)
    val exact = Seq((a, b)).toDF("a", "b")
      .select(gx.kmv_intersect_estimate(col("a"), col("b")).as("e"))
      .head().getAs[Double]("e")
    assert(exact == 20.0)

    // sketched side: 30k/30k with 10k overlap at k = 512
    val bigA = sketchOf((0 until 30000).map(i => s"y$i"), 512)
    val bigB = sketchOf((20000 until 50000).map(i => s"y$i"), 512)
    val est = Seq((bigA, bigB)).toDF("a", "b")
      .select(gx.kmv_intersect_estimate(col("a"), col("b")).as("e"))
      .head().getAs[Double]("e")
    assert(math.abs(est - 10000) < 3500, s"est=$est")
  }

  test("SQL registration: analysis-time type errors, end-to-end parity") {
    GraftFunctions.register(spark)
    val est = spark.sql(
      "SELECT kmv_estimate(kmv_sketch(s, 64)) AS e FROM " +
      "(SELECT concat('q', CAST(id % 37 AS STRING)) AS s FROM range(500))")
      .head().getAs[Double]("e")
    assert(est == 37.0)
    val err = intercept[Exception] {
      spark.sql("SELECT kmv_estimate(42)").collect()
    }
    assert(err.getMessage.contains("kmv_estimate") ||
      err.getMessage.toLowerCase.contains("type"))
  }
}
