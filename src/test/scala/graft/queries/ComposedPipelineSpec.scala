package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Stage-coverage pin for the composed pretraining pipeline (q204):
  * the sf0.01 oracle certifies VALUES; this certifies that every
  * stage of the composition keeps doing work at test scale — a
  * refactor that silently turned a filter into a no-op (planted
  * damage drifting, a join key change emptying the contamination leg)
  * would still hash-match trivially if the stage stopped firing.
  */
class ComposedPipelineSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)

  test("q204: all eight stage buckets fire at sf0.001 and conserve the corpus") {
    val rows = Queries.q204PretrainPipeline(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getAs[String]("bucket") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_seqs"), r.getAs[Long]("packed_tokens"),
          r.getAs[Long]("n_full"))))
      .toMap
    val expected = Set("drop:exact_dup", "drop:near_dup", "drop:benchmark",
      "drop:contaminated", "drop:quality", "train", "val", "test")
    assert(rows.keySet == expected, s"buckets: ${rows.keySet}")
    assert(rows.forall(_._2._1 > 0), s"every bucket must hold documents: $rows")
    // corpus conservation: every document lands in exactly one bucket
    assert(rows.values.map(_._1).sum == 500L)
    // packing invariants per kept split: no token lost, all-but-last
    // sequence full, drop buckets never pack
    for (split <- Seq("train", "val", "test")) {
      val (_, nTok, nSeqs, packed, nFull) = rows(split)
      assert(packed == nTok, s"$split must pack every token")
      assert(nSeqs == (nTok + 255) / 256 && nFull == nTok / 256, s"$split seqs")
    }
    for ((b, (_, _, nSeqs, packed, nFull)) <- rows if b.startsWith("drop:"))
      assert(nSeqs == 0 && packed == 0 && nFull == 0, s"$b must not pack")
  }
}
