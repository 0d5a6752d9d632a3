package loadbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry: runs one workload against the engine's public
  * entry points and writes its result as JSON.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <file> [--toy]
  *
  * `--toy` shrinks every size so the whole workload, with its correctness
  * checks, finishes in seconds (the harness self-check).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String, toy: Boolean)

  /** What a workload reports. `metrics` holds the untraced end-to-end
    * values; `layers` the traced per-layer values; `checks` every
    * correctness check with its outcome. */
  final case class Result(attempted: Long, failed: Long,
                          metrics: Map[String, Double],
                          layers: Map[String, Double],
                          checks: Seq[Check],
                          spans: Seq[Span] = Nil) {
    def correct: Boolean = checks.nonEmpty && checks.forall(_.ok)
  }

  final case class Check(name: String, ok: Boolean, detail: String)

  def check(name: String, expected: Any, actual: Any): Check =
    Check(name, expected == actual, s"expected=$expected actual=$actual")

  def parse(argv: Array[String]): Args = {
    def opt(k: String): Option[String] =
      argv.sliding(2).collectFirst { case Array(`k`, v) => v }
    def req(k: String): String =
      opt(k).getOrElse(throw new IllegalArgumentException(s"missing $k"))
    Args(req("--workload"), req("--seed").toLong, req("--seconds").toInt,
      req("--trace") == "1", req("--work"), req("--out"), argv.contains("--toy"))
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${Bench.Slots}]")
      .appName("loadbench")
      .config("spark.sql.shuffle.partitions", Bench.Slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private var liveHeapMb = 0.0

  /** Live heap: heap in use right after a full collection. Sampled at the
    * end of each measured phase; the largest sample is reported. (Peak
    * resident memory is kept in the run's environment only: it follows the
    * collector's heap sizing more than the program's needs.) */
  def sampleLiveHeap(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    liveHeapMb = math.max(liveHeapMb, used / 1048576.0)
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)

  private val started = System.nanoTime()
  private val notes = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  /** Record when a phase of the run ended, in seconds since the harness started. */
  def phase(name: String): Unit = note(s"phase.$name", (System.nanoTime() - started) / 1e9)
  def note(k: String, v: Any): Unit = notes.synchronized(notes(k) = v)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    System.setProperty("derby.system.home", a.work)
    System.setProperty("derby.stream.error.file", s"${a.work}/derby.log")
    // Derby stands in for the warehouse: its log syncs would time this
    // machine's disk, not the loader
    System.setProperty("derby.system.durability", "test")
    val spark = session(a.work)
    phase("session")
    val res = try a.workload match {
      case "load-trickle"  => Loads.trickle(spark, a)
      case "load-bulk"     => Loads.bulk(spark, a)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    } finally spark.stop()
    val metrics = res.metrics + ("live_heap_mb" -> liveHeapMb)
    val env = Map(
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "task_slots" -> Bench.Slots,
      "peak_rss_mb" -> peakRssMb()) ++ notes
    val json = Json(Map(
      "correct" -> res.correct, "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> metrics, "layers" -> res.layers, "env" -> env,
      "checks" -> res.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "spans" -> res.spans.map(_.toMap)))
    Files.writeString(Paths.get(a.out), json + "\n")
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => q(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => q(other.toString)
  }
}
