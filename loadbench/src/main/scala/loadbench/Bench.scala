package loadbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.DriverManager
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** Shared harness pieces: sizes, timing, statistics, Derby access. */
object Bench {
  /** Spark task slots and JDBC connections the workloads may use. */
  val Slots = 4

  def nowMs(): Long = System.currentTimeMillis()

  def timedS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Poll `cond` every 20 ms until it holds or `timeoutS` passes. */
  def await(what: String, timeoutS: Double)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"timed out after ${timeoutS}s waiting for $what")
      Thread.sleep(20)
    }
  }

  def dir(p: String): String = { Files.createDirectories(Paths.get(p)); p }

  def countFiles(root: String, suffix: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).count()
      finally s.close()
    }
  }
}

/** Embedded on-disk Derby databases: one per setup, under the work dir. */
object Derby {
  def url(work: String, name: String): String = s"jdbc:derby:$work/derby/$name;create=true"

  def exec(url: String, sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try sqls.foreach(s => c.createStatement().execute(s)) finally c.close()
  }

  def row(url: String, sql: String): Seq[AnyRef] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      rs.next()
      (1 to rs.getMetaData.getColumnCount).map(rs.getObject)
    } finally c.close()
  }
}

/** The load generator, a component apart from the engine. Every file is
  * written completely into a staging directory first; at its due time it
  * is atomically renamed into the watch root, so the engine only ever
  * lists whole, generated files. Each file's due time is stamped, and the
  * generator records how late each rename ran (`gen.lag_ms`).
  */
final class Generator(stageRoot: String, watchRoot: String) {
  /** load file (`bucket/prefix/name`) → due time, epoch ms */
  val due = new ConcurrentHashMap[String, java.lang.Long]()
  private val lags = ArrayBuffer.empty[Double]

  /** Where a file is written before its release; parents are created. */
  def stagePath(rel: String): Path = {
    val p = Paths.get(stageRoot, rel)
    Files.createDirectories(p.getParent)
    p
  }

  def release(rel: String, dueMs: Long): Unit = {
    val dst = Paths.get(watchRoot, rel)
    Files.createDirectories(dst.getParent)
    due.put(rel, dueMs)
    Files.move(Paths.get(stageRoot, rel), dst, StandardCopyOption.ATOMIC_MOVE)
    val lag = (Bench.nowMs() - dueMs).toDouble
    lags.synchronized(lags += math.max(0.0, lag))
  }

  /** Backlog: every file due, and released, at once. */
  def dropAll(rels: Seq[String]): Long = {
    val t = Bench.nowMs()
    rels.foreach(release(_, t))
    t
  }

  /** Open loop: file i is due at `startMs + offsetsMs(i)`, whatever the
    * engine is doing. Runs on its own thread; join it to wait. */
  def paced(rels: IndexedSeq[String], startMs: Long, offsetsMs: IndexedSeq[Long]): Thread = {
    val t = new Thread(() => {
      rels.indices.foreach { i =>
        val dueMs = startMs + offsetsMs(i)
        val wait = dueMs - Bench.nowMs()
        if (wait > 0) Thread.sleep(wait)
        release(rels(i), dueMs)
      }
    }, "loadbench-generator")
    t.setDaemon(true)
    t.start()
    t
  }

  def lagMs: Seq[Double] = lags.synchronized(lags.toList)
}
