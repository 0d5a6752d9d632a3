package loadbench

import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, LocalDate}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
import org.apache.spark.sql.types._
import graft.Pipeline
import graft.core._
import graft.ledger.Ledger
import graft.loader.{Formats, JdbcWriter}
import graft.notify.{Notification, Notifier}
import Main.{Args, Check, Result, check}

/** Generated lineitem-shaped rows and the column checksums a load must
  * reproduce in the target table. */
object Lineitem {
  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", IntegerType), StructField("l_extendedprice", DecimalType(12, 2)),
    StructField("l_shipdate", DateType), StructField("l_comment", StringType)))
  val ddl = "l_orderkey BIGINT, l_linenumber INT, l_quantity INT, " +
    "l_extendedprice DECIMAL(12,2), l_shipdate DATE, l_comment VARCHAR(44)"

  final case class Sums(rows: Long, keys: Long, qty: Long, cents: Long, chars: Long) {
    def +(o: Sums): Sums =
      Sums(rows + o.rows, keys + o.keys, qty + o.qty, cents + o.cents, chars + o.chars)
  }
  val Zero: Sums = Sums(0, 0, 0, 0, 0)

  final case class Li(key: Long, line: Int, qty: Int, cents: Long, day: Int, comment: String)

  private val Words = Array("carefully", "final", "deposits", "sleep", "furiously",
    "express", "requests", "blithely", "ironic", "packages", "quickly", "regular",
    "accounts", "haggle", "pending", "theodolites", "slyly", "bold", "even", "dolphins")

  def gen(rng: Random, n: Int): IndexedSeq[Li] = IndexedSeq.fill(n) {
    val comment = Seq.fill(2 + rng.nextInt(4))(Words(rng.nextInt(Words.length)))
      .mkString(" ").take(44)
    Li(1L + rng.nextInt(6000000), 1 + rng.nextInt(7), 1 + rng.nextInt(50),
      100000L + rng.nextInt(9000000), 8000 + rng.nextInt(2500), comment)
  }

  def sums(lis: Seq[Li]): Sums = Sums(lis.size.toLong, lis.map(_.key).sum,
    lis.map(_.qty.toLong).sum, lis.map(_.cents).sum, lis.map(_.comment.length.toLong).sum)

  def csv(lis: Seq[Li]): Array[Byte] = {
    val sb = new StringBuilder
    lis.foreach { l =>
      sb.append(l.key).append('|').append(l.line).append('|').append(l.qty).append('|')
        .append(l.cents / 100).append('.').append(if (l.cents % 100 < 10) "0" else "")
        .append(l.cents % 100).append('|')
        .append(LocalDate.ofEpochDay(l.day.toLong)).append('|').append(l.comment).append('\n')
    }
    sb.toString.getBytes("UTF-8")
  }

  def rows(lis: Seq[Li]): Seq[Row] = lis.map(l => Row(l.key, l.line, l.qty,
    java.math.BigDecimal.valueOf(l.cents, 2),
    java.sql.Date.valueOf(LocalDate.ofEpochDay(l.day.toLong)), l.comment))

  /** The same checksums, computed by the target database. */
  def tableSums(url: String, table: String): Sums = {
    val r = Derby.row(url, "SELECT COUNT(*), SUM(l_orderkey), SUM(CAST(l_quantity AS BIGINT)), " +
      s"SUM(l_extendedprice), SUM(CAST(LENGTH(l_comment) AS BIGINT)) FROM $table")
    def long(o: AnyRef): Long = o match {
      case null => 0L
      case b: java.math.BigDecimal => b.movePointRight(2).longValueExact() // price in cents
      case n: java.lang.Number => n.longValue()
    }
    Sums(long(r(0)), long(r(1)), long(r(2)), long(r(3)), long(r(4)))
  }
}

/** Records each notification with the wall-clock time it arrived. */
final class TimedNotifier extends Notifier {
  val got = new ConcurrentLinkedQueue[(Notification, Long)]()
  override def notify(n: Notification): Unit = got.add((n, Bench.nowMs()))
  def all: Seq[(Notification, Long)] = got.asScala.toList
}

/** Keeps the progress events of one streaming query. */
final class ProgressLog(id: java.util.UUID) extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.id == id) events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = events.asScala.toList
}

/** A prefix and its targets: one (database, table) per target. */
final case class PrefixSpec(prefix: String, format: DataFormat, targets: Seq[(String, String)])

/** One running loader: its own Derby databases, watch root, ledger and
  * checkpoint, started through `Pipeline.start`. Its generator stages
  * every input file and keeps the checksums each target must end with.
  *
  * Constructing a rig is the workload's set-up, as a deployment would do
  * it: create the target tables and the loader's staging tables, then
  * start the pipeline and wait for its first trigger. */
final class LoadRig(spark: SparkSession, work: String, tag: String,
                    val specs: Seq[PrefixSpec], val batchSize: Int, timeoutS: Int, seed: Long) {
  val root: String = Bench.dir(s"$work/$tag")
  val watch: String = Bench.dir(s"$root/watch")
  val stage: String = Bench.dir(s"$root/stage")
  val ledgerDir: String = s"$root/ledger"
  val gen = new Generator(stage, watch)
  val rng = new Random(seed)
  /** (database, table) → checksums of every row staged for it */
  val expected: mutable.Map[(String, String), Lineitem.Sums] =
    mutable.Map.empty[(String, String), Lineitem.Sums].withDefaultValue(Lineitem.Zero)
  val files: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]

  def url(db: String): String = Derby.url(work, s"${tag}_$db")
  val notifier = new TimedNotifier
  val configs: Map[String, LoadConfig] = specs.map(s => s.prefix -> LoadConfig(
    s3Prefix = s.prefix, dataFormat = s.format, csvDelimiter = "|",
    batchSize = batchSize, batchTimeoutSecs = Some(timeoutS),
    targets = s.targets.map { case (db, t) => LoadTarget(url(db), "", "", t) })).toMap

  specs.flatMap(_.targets).foreach { case (db, t) =>
    Derby.exec(url(db), s"CREATE TABLE $t (${Lineitem.ddl})") }
  configs.values.flatMap(_.targets).foreach(JdbcWriter.ensureAuxTables(_, ""))
  val query: StreamingQuery = Pipeline.start(spark,
    Pipeline.Settings(watch, ledgerDir, s"$root/checkpoint",
      triggerInterval = LoadRig.Trigger,
      schemas = specs.flatMap(_.targets).map(_._2 -> Lineitem.schema).toMap),
    configs, notifier)
  Bench.await("the first trigger", 120)(query.lastProgress != null || query.exception.isDefined)
  query.exception.foreach(e => throw e)

  private def register(spec: PrefixSpec, rel: String, sums: Lineitem.Sums): String = {
    spec.targets.foreach(t => expected(t) = expected(t) + sums)
    files += rel
    rel
  }

  /** Stage generated rows as one file of the prefix's format. */
  def stageRows(spec: PrefixSpec, name: String, lis: Seq[Lineitem.Li]): String = {
    val rel = s"${spec.prefix}/$name"
    write(spec, Seq(gen.stagePath(rel) -> lis))
    register(spec, rel, Lineitem.sums(lis))
  }

  /** Write generated files in the prefix's format; Parquet files are
    * written by one Spark job, one part file per output file. */
  def write(spec: PrefixSpec, files: Seq[(Path, Seq[Lineitem.Li])]): Unit =
    spec.format match {
      case DataFormat.Parquet =>
        val out = s"$root/tmp-parquet-${System.nanoTime()}"
        val rows = files.zipWithIndex.flatMap { case ((_, lis), k) =>
          Lineitem.rows(lis).map(r => Row.fromSeq(r.toSeq :+ k)) }
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
            Lineitem.schema.add("__file", IntegerType))
          .write.partitionBy("__file").parquet(out)
        files.zipWithIndex.foreach { case ((path, _), k) =>
          val part = Files.list(Paths.get(s"$out/__file=$k")).iterator().asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          Files.move(part, path)
        }
      case _ => files.foreach { case (path, lis) => Files.write(path, Lineitem.csv(lis)) }
    }

  /** Stage a copy of an already generated file under a new name. */
  def stageCopy(spec: PrefixSpec, name: String, src: Path,
                sums: Lineitem.Sums): String = {
    val rel = s"${spec.prefix}/$name"
    Files.copy(src, gen.stagePath(rel))
    register(spec, rel, sums)
  }

  /** Wait until `n` notifications have arrived in all, or give up after
    * `timeoutS`: a stalled load is then reported, not hidden. */
  def awaitBatches(n: Int, timeoutS: Double): Boolean =
    try {
      Bench.await(s"$n batch notifications", timeoutS)(
        notifier.got.size >= n || query.exception.isDefined)
      query.exception.isEmpty
    } catch { case _: IllegalStateException => false }

  def stop(): Unit = { query.stop(); query.awaitTermination(60000) }
}

object LoadRig {
  /** Micro-batch trigger interval of the loader's streaming query. */
  val Trigger = "250 milliseconds"

  def fileName(phase: String, i: Int, spec: PrefixSpec): String =
    f"$phase-$i%06d." + (if (spec.format == DataFormat.Parquet) "parquet" else "csv")
}

object Loads {

  /** Set the loader up three times on fresh state; the third stays up
    * for the measurement. Set-up time is the median of the three. */
  private def setUp(spark: SparkSession, a: Args, specs: Seq[PrefixSpec],
                    batchSize: Int, timeoutS: Int): (LoadRig, Double) = {
    val runs = (1 to 3).map(i => Bench.timedS(
      new LoadRig(spark, a.work, s"s$i", specs, batchSize, timeoutS, a.seed * 31 + i)))
    runs.init.foreach(_._1.stop())
    Main.phase("setup")
    (runs.last._1, Bench.median(runs.map(_._2)))
  }

  final case class LedgerBatch(prefix: String, batchId: String, status: String,
                               files: Seq[String], lastUpdate: Long)

  private def ledgerBatches(spark: SparkSession, rig: LoadRig): Seq[LedgerBatch] =
    new Ledger(spark, rig.ledgerDir).batchLog.collect().toSeq.map(e =>
      LedgerBatch(e.s3Prefix, e.batchId, e.status, e.entryFiles, e.lastUpdate))

  /** The loader's correctness checks: every generated row landed once in
    * every target, each flushed batch committed once per database, every
    * generated file is in the processed-files ledger once, and no error
    * notification arrived. Returns the checks and the number of files
    * that did not land in a successful batch. */
  private def verify(spark: SparkSession, rig: LoadRig, log: Seq[LedgerBatch],
                     completed: Boolean): (Seq[Check], Long) = {
    val files = rig.files.toSet
    val batches = files.size / rig.batchSize
    val notes = rig.notifier.all.map(_._1)
    val okBatches = notes.filter(_.status == "complete").map(_.batchId).toSet
    val okFiles = log.filter(b => b.status == "complete" && okBatches(b.batchId))
      .flatMap(_.files)
    val commits = rig.specs.flatMap(_.targets).map(_._1).distinct.sorted.map { db =>
      val flushed = rig.specs.filter(_.targets.exists(_._1 == db)).map(s =>
        log.count(b => b.status == "locked" && b.prefix == s.prefix)).sum
      check(s"commit registry rows in $db equal flushed batches", flushed,
        Derby.row(rig.url(db), s"SELECT COUNT(*) FROM ${JdbcWriter.CommitTable}").head
          .asInstanceOf[java.lang.Number].intValue)
    }
    val processed = new Ledger(spark, rig.ledgerDir).processedFiles
      .agg(count(lit(1)), countDistinct(col("loadFile"))).head()
    val checks = Seq(
      Check("all batches notified in time", completed, s"batches=$batches"),
      check("notifications", batches, notes.size),
      check("error notifications", 0, notes.count(_.status != "complete")),
      check("files in completed batches", files.size, okFiles.size),
      check("distinct files in completed batches", files.size, okFiles.toSet.size),
      check("completed files outside the generated set", 0, (okFiles.toSet -- files).size),
      check("processed-files ledger rows", files.size.toLong, processed.getLong(0)),
      check("distinct processed files", files.size.toLong, processed.getLong(1))) ++
      rig.expected.toSeq.sortBy(_._1).map { case ((db, t), s) =>
        check(s"row checksums of $db.$t", s, Lineitem.tableSums(rig.url(db), t)) } ++
      commits
    (checks, (files -- okFiles.toSet).size.toLong)
  }

  /** Latency of each successful batch whose files all lie in `phase`:
    * from the due time of its last-due file to its notification. */
  private def latencies(rig: LoadRig, log: Seq[LedgerBatch], phase: Set[String]): Seq[Double] = {
    val filesOf = log.filter(_.status == "locked").map(b => b.batchId -> b.files).toMap
    rig.notifier.all.collect { case (n, t) if n.status == "complete" &&
        filesOf.get(n.batchId).exists(_.forall(phase)) =>
      (t - filesOf(n.batchId).map(f => rig.gen.due.get(f).longValue).max).toDouble }
  }

  private def finish(spark: SparkSession, a: Args, rig: LoadRig, ok: Boolean, measureStart: Long,
                     trace: Option[ProgressLog], replayBatches: Int,
                     metrics: Seq[LedgerBatch] => Map[String, Double]): Result = {
    rig.stop()
    Main.phase("stop")
    val log = ledgerBatches(spark, rig)
    val (checks, failed) = verify(spark, rig, log, ok)
    Main.phase("verify")
    val n = rig.files.size
    val (layers, spans) = trace.map { pl =>
      spark.streams.removeListener(pl)
      val (replayed, spans) = replay(spark, a, rig, log, replayBatches)
      (streamLayers(pl.all, log, measureStart) ++ replayed ++
        Map("gen.lag_ms" -> Bench.quantile(rig.gen.lagMs, 0.9)), spans)
    }.getOrElse((Map.empty[String, Double], Nil))
    val (latency, e2e) = metrics(log).partition(_._1.startsWith("latency."))
    Result(n, failed, e2e + ("ops_ok_ratio" -> (n - failed).toDouble / n),
      layers ++ latency, checks, spans)
  }

  // ---------------------------------------------------------------- trickle

  /** Paced arrivals of load-trickle: one batch completes per period. */
  val BatchPeriodMs = 2500
  val BatchJitterMs = 500

  /** Many small CSV files over four prefixes: a backlog drain (files/s),
    * then an open-loop paced phase well below drain capacity (batch
    * latency). Per-batch fixed cost dominates. */
  def trickle(spark: SparkSession, a: Args): Result = {
    val prefixes = 4
    val rowsPerFile = 20
    val batchSize = if (a.toy) 2 else 4
    val drainBatches = if (a.toy) 1 else 2 // per prefix
    val specs = (0 until prefixes).map(i =>
      PrefixSpec(s"bucket/p$i", DataFormat.Csv, Seq("db" -> s"t_p$i")))
    val (rig, setupS) = setUp(spark, a, specs, batchSize, timeoutS = 60)

    /** `batches` batches' worth of files for every prefix. Each round
      * holds one whole batch per prefix, the prefixes in a seeded order. */
    def make(phase: String, batches: Int): IndexedSeq[String] =
      (0 until batches).flatMap { r =>
        rig.rng.shuffle(specs.toList).flatMap(s => (0 until batchSize).map { j =>
          rig.stageRows(s, LoadRig.fileName(phase, r * batchSize + j, s),
            Lineitem.gen(rig.rng, rowsPerFile))
        })
      }
    val warm = (0 until batchSize).map(j =>
      rig.stageRows(specs.head, LoadRig.fileName("warm", j, specs.head), Lineitem.gen(rig.rng, rowsPerFile)))
    val drain = make("drain", drainBatches)
    val paced = make("paced", math.max(1, a.seconds * 1000 / BatchPeriodMs / prefixes))
    val trace = if (a.trace) Some(new ProgressLog(rig.query.id)) else None
    trace.foreach(spark.streams.addListener)
    Main.phase("staged")
    // warm-up: one batch on the first prefix, untimed
    rig.gen.dropAll(warm)
    var ok = rig.awaitBatches(warm.size / batchSize, 90)
    val before = rig.notifier.got.size
    Main.sampleLiveHeap()
    Main.phase("warm")

    val measureStart = Bench.nowMs()
    val drainAt = rig.gen.dropAll(drain)
    ok = ok && rig.awaitBatches(before + drain.size / batchSize, 90)
    Main.sampleLiveHeap()
    Main.phase("drain")
    // one batch's files every `BatchPeriodMs`, each batch's start jittered
    // by a seeded draw: completions never lock onto the trigger cycle, and
    // stay far enough apart that a flush does not wait behind the previous
    // one, so the latency is the loader's own, not queueing
    var jitter = 0
    val offsets = paced.indices.map { i =>
      val (k, j) = (i / batchSize, i % batchSize)
      if (j == 0) jitter = rig.rng.nextInt(BatchJitterMs)
      (k * BatchPeriodMs + jitter + j * (BatchPeriodMs - BatchJitterMs) / batchSize).toLong
    }
    rig.gen.paced(paced, Bench.nowMs() + 100, offsets).join()
    ok = ok && rig.awaitBatches(before + (drain.size + paced.size) / batchSize, 60)
    Main.sampleLiveHeap()
    Main.phase("paced")

    finish(spark, a, rig, ok, measureStart, trace, replayBatches = 24, log => {
      val drainEnd = rig.notifier.all.collect { case (n, t) if n.status == "complete" &&
        log.exists(b => b.batchId == n.batchId && b.files.forall(drain.toSet)) => t }
      val drainS = (if (drainEnd.isEmpty) Double.NaN else (drainEnd.max - drainAt).toDouble) / 1000.0
      val lat = latencies(rig, log, paced.toSet)
      Main.note("latencies", lat.sorted)
      Map(
        "setup_s" -> setupS,
        "ops_per_s" -> drain.size / drainS,
        "rows_per_s" -> drain.size * rowsPerFile / drainS,
        "batch_latency_p50_ms" -> Bench.quantile(lat, 0.5),
        "latency.batch_p90_ms" -> Bench.quantile(lat, 0.9),
        "latency.samples" -> lat.size.toDouble)
    })
  }

  // ------------------------------------------------------------------- bulk

  /** Large files as backlogs: a CSV prefix fanned out to two databases
    * and a Parquet prefix. Each round drops one batch per prefix at once
    * and waits for both; rounds repeat for the run time, and throughput
    * is the median over rounds. Row volume dominates. */
  def bulk(spark: SparkSession, a: Args): Result = {
    val rowsPerFile = if (a.toy) 500 else 12500
    val batchSize = 4
    val specs = Seq(
      PrefixSpec("bucket/csv", DataFormat.Csv, Seq("dba" -> "t_csv", "dbb" -> "t_csv")),
      PrefixSpec("bucket/pq", DataFormat.Parquet, Seq("dba" -> "t_pq")))
    val (rig, setupS) = setUp(spark, a, specs, batchSize, timeoutS = 600)

    // one round's files, seeded and generated once; each round loads
    // copies of them under new names
    val templateDir = Bench.dir(s"${rig.root}/template")
    val template = specs.flatMap { s =>
      val files = (0 until batchSize).map(i =>
        (s, i, Paths.get(templateDir, LoadRig.fileName("template", i, s)),
          Lineitem.gen(rig.rng, rowsPerFile)))
      rig.write(s, files.map(f => f._3 -> f._4))
      files.map { case (s, i, path, lis) => (s, i, path, Lineitem.sums(lis)) }
    }
    def round(tmpl: Seq[(PrefixSpec, Int, Path, Lineitem.Sums)], r: Int): (Boolean, Double) = {
      val files = tmpl.map { case (s, i, path, sums) =>
        rig.stageCopy(s, LoadRig.fileName(s"r$r", i, s), path, sums) }
      val before = rig.notifier.got.size
      Bench.timedS {
        rig.gen.dropAll(files)
        rig.awaitBatches(before + specs.size, 120)
      }
    }
    val trace = if (a.trace) Some(new ProgressLog(rig.query.id)) else None
    trace.foreach(spark.streams.addListener)
    Main.phase("staged")
    // warm-up: one round, untimed
    var ok = round(template, 0)._1
    val warmFiles = rig.files.toSet
    Main.sampleLiveHeap()
    Main.phase("warm")

    val measureStart = Bench.nowMs()
    val roundS = mutable.ArrayBuffer.empty[Double]
    while (ok && (roundS.sum < a.seconds || roundS.size < 3)) {
      val (done, s) = round(template, roundS.size + 1)
      ok = done
      roundS += s
    }
    Main.sampleLiveHeap()
    Main.phase("rounds")
    Main.note("round_s", roundS.toList)

    finish(spark, a, rig, ok, measureStart, trace, replayBatches = 8, log => {
      val lat = latencies(rig, log, rig.files.toSet -- warmFiles)
      Main.note("latencies", lat.sorted)
      val roundMedianS = Bench.median(roundS.toSeq)
      Map(
        "setup_s" -> setupS,
        "ops_per_s" -> template.size / roundMedianS,
        "rows_per_s" -> template.size.toDouble * rowsPerFile / roundMedianS,
        "batch_latency_p50_ms" -> Bench.quantile(lat, 0.5),
        "latency.batch_p90_ms" -> Bench.quantile(lat, 0.9),
        "latency.samples" -> lat.size.toDouble)
    })
  }

  // ---------------------------------------------------------------- tracing

  /** Per-trigger layers from the query's progress events, for triggers
    * that started after `fromMs`. A flush's wait is the time from its
    * trigger's start to its `locked` ledger event. */
  private def streamLayers(progress: Seq[StreamingQueryProgress], log: Seq[LedgerBatch],
                           fromMs: Long): Map[String, Double] = {
    val ps = progress.map(p => (Instant.parse(p.timestamp).toEpochMilli, p))
      .filter(_._1 >= fromMs).sortBy(_._1)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val state = ps.flatMap(_._2.stateOperators.headOption)
    val locked = log.filter(b => b.status == "locked" && b.lastUpdate >= fromMs)
    val waits = locked.flatMap { b =>
      ps.find { case (st, p) => b.lastUpdate >= st && b.lastUpdate <= st + d(p, "triggerExecution") }
        .map { case (st, _) => (st, (b.lastUpdate - st).toDouble) }
    }
    Map(
      "sources.list_ms" -> Bench.mean(ps.map(x => d(x._2, "latestOffset") + d(x._2, "getBatch"))),
      "sources.files_discovered" -> ps.map(_._2.numInputRows.toDouble).sum,
      "streaming.triggers" -> ps.size.toDouble,
      "streaming.trigger_ms" -> Bench.mean(ps.map(x => d(x._2, "triggerExecution"))),
      "streaming.wal_ms" -> Bench.mean(ps.map(x => d(x._2, "walCommit") + d(x._2, "commitOffsets"))),
      "streaming.batcher_update_ms" -> Bench.mean(state.map(_.allUpdatesTimeMs.toDouble)),
      "streaming.batcher_commit_ms" -> Bench.mean(state.map(_.commitTimeMs.toDouble)),
      "streaming.batcher_state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.batcher_state_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.useful_trigger_ratio" ->
        (if (ps.isEmpty) 0.0 else waits.map(_._1).distinct.size.toDouble / ps.size),
      "pipeline.flushes" -> locked.size.toDouble,
      "pipeline.flush_wait_ms" -> Bench.mean(waits.map(_._2)))
  }

  /** Replays the run's flushed batches through the loader's layer
    * functions, one call at a time, against fresh Derby databases and a
    * fresh ledger, recording a span around every call. */
  private def replay(spark: SparkSession, a: Args, rig: LoadRig, log: Seq[LedgerBatch],
                     maxBatches: Int): (Map[String, Double], Seq[Span]) = {
    val tracer = new Tracer
    val tag = "replay"
    rig.specs.flatMap(_.targets).foreach { case (db, t) =>
      Derby.exec(Derby.url(a.work, s"${tag}_$db"), s"CREATE TABLE $t (${Lineitem.ddl})") }
    val ledger = new Ledger(spark, s"${a.work}/$tag/ledger")
    val notifier = new TimedNotifier
    val batches = log.filter(_.status == "locked").sortBy(_.lastUpdate).take(maxBatches)
    var rows = 0L
    var attempts = 0L
    var retries = 0L
    // the loader's own retry rule (transient SQL errors, up to 5 tries),
    // counted
    def retrying[T](body: => T): T = {
      attempts += 1
      def go(n: Int): T =
        try body
        catch { case _: java.sql.SQLTransientException if n < 4 => retries += 1; go(n + 1) }
      go(0)
    }
    batches.foreach { b =>
      tracer.run = b.batchId
      val spec = rig.specs.find(_.prefix == b.prefix).get
      val cfg = rig.configs(b.prefix)
      val entries = b.files.map(f => BatchEntry(f, Files.size(Paths.get(rig.watch, f)), b.lastUpdate))
      tracer.span("pipeline.flush") {
        tracer.span("ledger.append_batch")(ledger.appendBatch(BatchRecord(b.prefix, b.batchId,
          BatchStatus.Locked.name, entries, entries.map(_.size).sum, Bench.nowMs())))
        val df = tracer.span("loader.read_plan")(Formats.read(spark, cfg,
          b.files.map(f => s"${rig.watch}/$f"), Some(Lineitem.schema)))
        spec.targets.foreach { case (db, table) =>
          val t = LoadTarget(Derby.url(a.work, s"${tag}_$db"), "", "", table)
          tracer.span("loader.ensure_aux")(JdbcWriter.ensureAuxTables(t, ""))
          tracer.span("loader.stage")(retrying(JdbcWriter.stage(df, t, "", b.batchId)))
          rows += tracer.span("loader.commit")(retrying(JdbcWriter.commit(t, "", b.batchId)))._2
        }
        tracer.span("ledger.append_batch")(ledger.appendBatch(BatchRecord(b.prefix, b.batchId,
          BatchStatus.Complete.name, entries, entries.map(_.size).sum, Bench.nowMs())))
        tracer.span("ledger.append_files")(ledger.appendFiles(entries.map(e =>
          ProcessedFile(e.file, e.writeDate, 1, Some(b.batchId))), Bench.nowMs()))
        tracer.span("notify.deliver")(notifier.notify(Notification(None, "complete",
          b.batchId, b.prefix, b.prefix, None, None)))
      }
    }
    tracer.run = ""
    tracer.span("ledger.compact")(ledger.compact())
    val total = tracer.totalSelfMs
    // per batch: sum over the batch's calls of each layer
    def perBatch(n: String): Double = total.getOrElse(n, 0.0) / math.max(1, batches.size)
    val layerTotals = Seq("loader", "ledger", "notify", "pipeline").map(l => l ->
      total.filter(x => x._1.startsWith(l + ".") && x._1 != "ledger.compact").values.sum).toMap
    (Map(
      "loader.read_plan_ms" -> perBatch("loader.read_plan"),
      "loader.ensure_aux_ms" -> perBatch("loader.ensure_aux"),
      "loader.stage_ms" -> perBatch("loader.stage"),
      "loader.commit_ms" -> perBatch("loader.commit"),
      "loader.rows_staged" -> rows.toDouble,
      "loader.retry_ratio" -> (if (attempts == 0) 0.0 else retries.toDouble / attempts),
      "ledger.append_batch_ms" -> perBatch("ledger.append_batch"),
      "ledger.append_files_ms" -> perBatch("ledger.append_files"),
      "ledger.compact_ms" -> total.getOrElse("ledger.compact", 0.0),
      "ledger.parquet_files" -> Bench.countFiles(rig.ledgerDir, ".parquet").toDouble,
      "notify.deliver_ms" -> perBatch("notify.deliver"),
      "replay.batches" -> batches.size.toDouble) ++
      layerTotals.map { case (l, ms) => s"replay.$l.self_ms" -> ms }, tracer.all)
  }
}
