package graft

import org.scalatest.funsuite.AnyFunSuite

/** The r10 finding made executable: Bench's self-defense reference must
  * parse BOTH artifact formats (its own unescaped BENCH_LOCAL.json and
  * the driver's JSON-escaped tail-truncated BENCH_r*.json), and the
  * re-measure pass must actually fire on a forced 2× mover — the old
  * regex matched 0 entries in the driver format, silently no-opping
  * the whole pass.
  */
class BenchRefSpec extends AnyFunSuite {

  test("parse: Bench's own unescaped artifact format") {
    val txt = """{"queries":{"q01_pricing_summary":0.123,"q133_triangles":3.496,""" +
      """"q74_lm_quality_gate":0.450},"load_before":1.47,"runs":3,""" +
      """"sf":"/root/testdata/sf0.1","metric":"total","unit":"sec","value":202.5}"""
    val got = BenchRef.parse(txt)
    assert(got == Map("q01_pricing_summary" -> 0.123,
      "q133_triangles" -> 3.496, "q74_lm_quality_gate" -> 0.45))
  }

  test("parse: the driver's escaped tail format (the format the old regex matched 0 entries in)") {
    // BENCH_r*.json embeds the line as an escaped string inside "tail"
    val txt = """{"metric":"total","value":202.5,"tail":"...\"q01_pricing_summary\":0.123,\"q133_triangles\":3.496}...\n"}"""
    val got = BenchRef.parse(txt)
    assert(got == Map("q01_pricing_summary" -> 0.123, "q133_triangles" -> 3.496))
    // regression pin: the committed round artifact itself must parse
    val f = new java.io.File("BENCH_r10.json")
    if (f.isFile) {
      val real = BenchRef.parse(new String(
        java.nio.file.Files.readAllBytes(f.toPath)))
      assert(real.nonEmpty, "BENCH_r10.json parsed 0 entries — the r10 bug")
    }
    // and the complete local artifact must carry MORE than the
    // truncated tail can (the reason BENCH_LOCAL.json is the default)
    val loc = new java.io.File("BENCH_LOCAL.json")
    if (loc.isFile && f.isFile) {
      val full = BenchRef.parse(new String(
        java.nio.file.Files.readAllBytes(loc.toPath)))
      assert(full.size > 100, s"expected the full per-query map, got ${full.size}")
    }
  }

  test("forced 2x mover fires the re-measure; minimum kept; name recorded") {
    val swept = Seq("q_fast" -> 0.5, "q_polluted" -> 3.0, "q_new" -> 9.9)
    val ref = Map("q_fast" -> 0.4, "q_polluted" -> 1.0) // q_new: no reference
    var retried = List[String]()
    val (results, remeasured) = BenchRef.remeasurePass(swept, ref, { name =>
      retried ::= name; 1.1 // the burst has passed
    })
    assert(retried == List("q_polluted"), "only the 2x mover re-measures")
    assert(remeasured == Seq("q_polluted"), "artifact must record who was re-measured")
    assert(results.toMap == Map("q_fast" -> 0.5, "q_polluted" -> 1.1, "q_new" -> 9.9))
    // min is kept even when the retry is SLOWER (asymmetric by design)
    val (r2, _) = BenchRef.remeasurePass(Seq("q" -> 3.0), Map("q" -> 1.0), _ => 5.0)
    assert(r2.toMap == Map("q" -> 3.0))
  }

  test("needsRemeasure boundary: exactly 2x does not trip") {
    assert(!BenchRef.needsRemeasure(2.0, 1.0))
    assert(BenchRef.needsRemeasure(2.001, 1.0))
  }

  test("bestOf: a throwing query has no time, only its message") {
    var calls = 0
    val failed = BenchRef.bestOf(3) { () =>
      calls += 1
      throw new IllegalStateException("boom: table missing\nplan detail")
    }
    assert(failed == Left("boom: table missing"))
    assert(calls == 1, "a failed query is not re-run")
    val timed = BenchRef.bestOf(3) { () => Thread.sleep(5) }
    assert(timed.exists(_ >= 0.005), s"got $timed")
  }
}
