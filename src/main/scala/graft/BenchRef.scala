package graft

import scala.util.control.NonFatal

/** Reference-parsing + re-measure policy for [[Bench]]'s self-defense
  * pass, factored out so both pieces unit-test without a SparkSession.
  *
  * Two artifact formats exist and BOTH must parse (the r10 finding —
  * the driver-format default parsed 0 entries, silently no-opping the
  * burst re-measure):
  *
  *  - `BENCH_LOCAL.json` (written by Bench itself): one JSON line with
  *    an UNESCAPED per-query map — `"q01_pricing_summary":0.123`.
  *  - `BENCH_r{N}.json` (written by the round driver): the same line
  *    embedded as a JSON-ESCAPED string inside a `"tail"` field —
  *    `\"q01_pricing_summary\":0.123` — and TRUNCATED to the last
  *    ~2000 chars, so it can never carry a complete reference. It
  *    still parses (backslash-tolerant regex) as a partial fallback.
  */
object BenchRef {

  /** Per-query seconds from either artifact format. The optional
    * backslash before each quote accepts the driver format's escaped
    * tail; the plain form matches Bench's own artifact.
    */
  def parse(txt: String): Map[String, Double] = {
    val m = """\\?"(q[a-zA-Z0-9_]+)\\?":([0-9]+\.?[0-9]*)""".r
    m.findAllMatchIn(txt)
      .map(x => x.group(1) -> x.group(2).toDouble).toMap
  }

  /** Best (minimum) seconds over `runs` executions of `once`, or the
    * first failure's message (its first line). A failed query has no
    * time: timing it anyway would add ~0 s and flatter the sweep total.
    */
  def bestOf(runs: Int)(once: () => Unit): Either[String, Double] =
    try Right((1 to runs.max(1)).map { _ =>
      val t0 = System.nanoTime()
      once()
      (System.nanoTime() - t0) / 1e9
    }.min)
    catch { case NonFatal(e) =>
      Left(Option(e.getMessage).getOrElse(e.getClass.getName)
        .linesIterator.nextOption().getOrElse(e.getClass.getName))
    }

  /** A measured best above 2× its committed reference is presumed
    * load-polluted (pollution hits contiguous sweep blocks, so
    * best-of-N inside the block still reads high) and re-measured
    * after the sweep.
    */
  def needsRemeasure(best: Double, ref: Double): Boolean = best > 2.0 * ref

  /** The post-sweep re-measure pass: for every query tripping
    * [[needsRemeasure]], run `retry` (best-of-N again, by then the
    * burst has usually passed) and keep the minimum across all
    * attempts. Returns the adjusted results plus the names that were
    * re-measured, so the emitted artifact can SAY the asymmetric
    * retry happened (r10 ADVICE: the JSON previously overstated the
    * uniformity of the methodology).
    */
  def remeasurePass(swept: Seq[(String, Double)],
                    refQueries: Map[String, Double],
                    retry: String => Double): (Seq[(String, Double)], Seq[String]) = {
    val remeasured = scala.collection.mutable.ArrayBuffer[String]()
    val results = swept.map { case (name, best) =>
      refQueries.get(name) match {
        case Some(ref) if needsRemeasure(best, ref) =>
          remeasured += name
          name -> math.min(best, retry(name))
        case _ => name -> best
      }
    }
    (results, remeasured.toSeq)
  }
}
