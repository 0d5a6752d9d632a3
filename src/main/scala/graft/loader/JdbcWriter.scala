package graft.loader

import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.LoadTarget

/** Transactional JDBC load with pre/post hooks and exactly-once commit —
  * the Spark-native form of the reference's single-session script
  * `begin; presql; truncate?; COPY...; postsql; commit`
  * (`/root/reference/index.js:1077-1321`, SURVEY §2.7 T10).
  *
  * Stock `df.write.jdbc` cannot wrap surrounding SQL in one transaction,
  * and Spark may replay `foreachBatch` after failure (SURVEY §7.5.1), so
  * the write is split:
  *
  *  1. executors append rows (tagged with batch_id) to a staging table in
  *     parallel — the scalable part. The write opens an equal share of the
  *     task slots among the target loads in flight, never more connections
  *     than the read has partitions ([[stagingWriters]]): a batch's targets
  *     and the pipeline's lanes load at once, and one writer per file each
  *     would have them contend in the target database;
  *  2. one control connection runs the transaction:
  *     `presql; [truncate]; INSERT INTO target SELECT ... FROM staging
  *     WHERE batch_id = ?; DELETE staging rows; postsql; commit` guarded
  *     by a commit-registry insert whose PK makes replays no-ops.
  *
  * This mirrors the reference's manifest-COPY (server-side set move, not
  * row-by-row through the driver) and adds the idempotence the reference
  * lacks.
  */
object JdbcWriter {

  final case class LoadResult(target: String, ok: Boolean, rows: Long,
                              skipped: Boolean, error: Option[String])

  val BatchIdCol = "graft_batch_id"
  def stagingTable(target: String): String = target + "_graft_stage"
  val CommitTable = "graft_batch_commits"

  /** The load budget, per statement: every staging purge, staging write
    * and commit statement is cancelled database-side past it (the
    * reference's `statement_timeout`, `index.js:1085-1096`). */
  val StatementTimeoutSecs = 600

  /** Quadratic backoff with cap, reference-style (`index.js:385,53`):
    * min(try² · 10, 200) ms, on a failure [[transient]] names.
    */
  def retry[T](tries: Int = 5)(f: => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt < tries) {
      try return f
      catch { case e: Exception if transient(e) =>
        last = e; attempt += 1
        Thread.sleep(math.min(attempt.toLong * attempt * 10, 200))
      }
    }
    throw last
  }

  /** Whether a `SQLTransientException` is anywhere in `e`'s cause chain
    * (an executor's failure reaches the driver wrapped in a
    * `SparkException`) and no `SQLTimeoutException` is: a statement
    * cancelled past [[StatementTimeoutSecs]] used up the load's budget,
    * so the target rolls back and reports instead of running it again. */
  private[loader] def transient(e: Throwable): Boolean = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).toSeq
    chain.exists(_.isInstanceOf[java.sql.SQLTransientException]) &&
      !chain.exists(_.isInstanceOf[java.sql.SQLTimeoutException])
  }

  /** Connection-time URL resolution: the C11 incident override
    * (`GRAFT_OVERRIDE_DBSTRING`, reference `index.js:1245-1250`) is
    * consulted HERE, on every connection, so an operator can redirect an
    * already-configured running pipeline without touching stored config.
    */
  private def connectUrl(t: LoadTarget): String =
    graft.config.Setup.resolveJdbcUrl(t.jdbcUrl)

  private def withConnection[T](t: LoadTarget, password: String)(f: Connection => T): T = {
    val url = connectUrl(t)
    val conn =
      if (t.user.nonEmpty) DriverManager.getConnection(url, t.user, password)
      else DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  /** Column DDL for the staging clone. Precision AND scale must survive:
    * a bare DECIMAL defaults to scale 0 in Derby/most DBs, silently
    * rounding staged values before they ever reach the target.
    */
  def columnDdl(md: java.sql.ResultSetMetaData, i: Int): String = {
    import java.sql.Types._
    val tn = md.getColumnTypeName(i)
    val sized =
      if (tn.contains("(")) tn // driver already rendered the size
      else md.getColumnType(i) match {
        case DECIMAL | NUMERIC if md.getPrecision(i) > 0 =>
          s"$tn(${md.getPrecision(i)},${md.getScale(i)})"
        case CHAR | VARCHAR | NCHAR | NVARCHAR | BINARY | VARBINARY
            if md.getPrecision(i) > 0 =>
          s"$tn(${md.getPrecision(i)})"
        case _ => tn
      }
    s"${md.getColumnName(i)} $sized"
  }

  private def tableExists(conn: Connection, name: String): Boolean = {
    val md = conn.getMetaData
    val rs = md.getTables(null, null, name.toUpperCase, null)
    val hit = rs.next()
    rs.close()
    if (hit) true else {
      val rs2 = md.getTables(null, null, name, null)
      val h2 = rs2.next(); rs2.close(); h2
    }
  }

  /** A statement cancelled database-side past [[StatementTimeoutSecs]]. */
  private def timedStatement(conn: Connection): java.sql.Statement = {
    val stmt = conn.createStatement()
    stmt.setQueryTimeout(StatementTimeoutSecs)
    stmt
  }

  /** Ensure staging + commit-registry tables exist, cloning the target's
    * column definitions for staging (plus the batch-id tag).
    */
  def ensureAuxTables(t: LoadTarget, password: String): Unit =
    withConnection(t, password) { conn =>
      val stmt = timedStatement(conn)
      try {
        if (!tableExists(conn, stagingTable(t.targetTable))) {
          val rs = stmt.executeQuery(s"SELECT * FROM ${t.targetTable} WHERE 1=0")
          val md = rs.getMetaData
          val cols = (1 to md.getColumnCount).map(i => columnDdl(md, i))
          rs.close()
          stmt.executeUpdate(
            s"CREATE TABLE ${stagingTable(t.targetTable)} (" +
              cols.mkString(", ") + s", $BatchIdCol VARCHAR(128))")
        }
        // keyed per (batch, table): one prefix may load several tables
        // of one database, and each table commits the batch once
        if (!tableExists(conn, CommitTable)) createRacing(conn, CommitTable,
          s"CREATE TABLE $CommitTable (batch_id VARCHAR(128) NOT NULL, " +
            "target_table VARCHAR(128) NOT NULL, committed_at TIMESTAMP, " +
            "PRIMARY KEY (batch_id, target_table))")
      } finally stmt.close()
    }

  /** CREATE that tolerates losing the race to a concurrent creator:
    * targets of one batch sharing a database ensure the registry in
    * parallel.
    */
  private def createRacing(conn: Connection, table: String, ddl: String): Unit = {
    val stmt = timedStatement(conn)
    try stmt.executeUpdate(ddl)
    catch { case _: java.sql.SQLException if tableExists(conn, table) => () }
    finally stmt.close()
  }

  /** Stage rows in parallel from executors, through [[stagingWriters]]
    * connections. Staging appends happen outside the commit transaction,
    * so a retried load must first purge any rows a previous failed attempt
    * left for this batchId — without this, a stage-ok/commit-fail/retry
    * sequence doubles the rows.
    */
  def stage(df: DataFrame, t: LoadTarget, password: String, batchId: String): Unit = {
    withConnection(t, password) { conn =>
      // batchId can originate from caller input (Ops.reloadBatch) — bind
      // it, never splice it into SQL text.
      val s = conn.prepareStatement(
        s"DELETE FROM ${stagingTable(t.targetTable)} WHERE $BatchIdCol = ?")
      s.setQueryTimeout(StatementTimeoutSecs)
      try { s.setString(1, batchId); s.executeUpdate() }
      finally s.close()
    }
    val tagged = df.withColumn(BatchIdCol, lit(batchId))
    val props = new java.util.Properties()
    if (t.user.nonEmpty) { props.put("user", t.user); props.put("password", password) }
    // Spark's JdbcUtils.savePartition sets it on every insert statement;
    // numPartitions only ever coalesces the read's partitions
    tagged.write.mode("append").option("queryTimeout", StatementTimeoutSecs)
      .option("numPartitions", stagingWriters(df))
      .jdbc(connectUrl(t), stagingTable(t.targetTable), props)
  }

  /** Target loads running in this process: [[Loader.loadBatch]] counts
    * its targets in for the length of its fan-out, and the pipeline's
    * lanes and `Ops.reloadBatch` load batches at the same time. */
  private val loadsInFlight = new java.util.concurrent.atomic.AtomicInteger

  /** Run `f` with `targets` more target loads counted in flight. */
  def loading[T](targets: Int)(f: => T): T = {
    loadsInFlight.addAndGet(targets)
    try f finally loadsInFlight.addAndGet(-targets)
  }

  /** The staging write's connection count: the task slots shared equally
    * among the target loads in flight, at least one. The file scan packs
    * files by a 4 MB open cost, so a batch of small files reads as one
    * partition per file; three concurrent target loads of a 4-file batch
    * then ran 12 writers on 4 slots, and they contended in the target
    * database. A load running alone keeps the read's width, whatever the
    * batch's size or format; `numPartitions` never widens a read.
    */
  private[loader] def stagingWriters(df: DataFrame): Int =
    math.max(1, df.sparkSession.sparkContext.defaultParallelism / math.max(1, loadsInFlight.get))

  /** The control-connection transaction. Returns (committed?, rowsMoved).
    * A (batch_id, target_table) already present in the registry ⇒
    * replay ⇒ clean no-op. A unique violation without that row means a
    * registry keyed on batch_id alone (created before the composite key)
    * refused another table's commit: that fails the load, never skips it.
    */
  def commit(t: LoadTarget, password: String, batchId: String): (Boolean, Long) =
    withConnection(t, password) { conn =>
      conn.setAutoCommit(false)
      def prep(sql: String): java.sql.PreparedStatement = {
        val ps = conn.prepareStatement(sql)
        ps.setQueryTimeout(StatementTimeoutSecs)
        ps
      }
      // idempotence guard: PK violation on replay → rollback + skip.
      // (no `return` in this closure: a NonLocalReturnControl thrown from
      // a closure Spark runs is not treated as a failure)
      def committedBefore: Boolean = {
        val q = prep(s"SELECT 1 FROM $CommitTable WHERE batch_id = ? AND target_table = ?")
        try {
          q.setString(1, batchId); q.setString(2, t.targetTable)
          val rs = q.executeQuery()
          try rs.next() finally rs.close()
        } finally { q.close(); conn.rollback() } // end the read's transaction
      }
      val fresh = {
        val ins = prep(s"INSERT INTO $CommitTable VALUES (?, ?, CURRENT_TIMESTAMP)")
        try {
          ins.setString(1, batchId); ins.setString(2, t.targetTable)
          ins.executeUpdate()
          true
        } catch {
          case e: java.sql.SQLException
              if e.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException] ||
                 e.getSQLState == "23505" /* unique violation: drivers (e.g.
                   Postgres) that don't throw the subclass */ =>
            conn.rollback()
            if (!committedBefore) throw new IllegalStateException(
              s"$CommitTable refused batch $batchId for ${t.targetTable}: it is " +
                "keyed on batch_id alone and another table committed this batch; " +
                s"recreate it with PRIMARY KEY (batch_id, target_table)", e)
            false
        } finally ins.close()
      }
      val stage = stagingTable(t.targetTable)
      // the staged rows of this batch go in the commit's transaction, or,
      // on a replay, on their own: `stage` wrote them before the registry
      // said the batch was in
      def dropStaged(): Unit = {
        val del = prep(s"DELETE FROM $stage WHERE $BatchIdCol = ?")
        try { del.setString(1, batchId); del.executeUpdate() } finally del.close()
      }
      if (!fresh) {
        dropStaged()
        conn.commit()
        (false, 0L)
      } else {
        val stmt = timedStatement(conn)
        try {
          t.presql.foreach(stmt.execute)
          if (t.truncateTarget) stmt.executeUpdate(s"DELETE FROM ${t.targetTable}")
          val targetCols = {
            val rs = stmt.executeQuery(s"SELECT * FROM ${t.targetTable} WHERE 1=0")
            val md = rs.getMetaData
            val cs = (1 to md.getColumnCount).map(md.getColumnName)
            rs.close(); cs
          }
          val colList = t.columnList.map(_.mkString(", ")).getOrElse(targetCols.mkString(", "))
          val ins = prep(
            s"INSERT INTO ${t.targetTable} ($colList) " +
              s"SELECT $colList FROM $stage WHERE $BatchIdCol = ?")
          val rows = try { ins.setString(1, batchId); ins.executeUpdate() } finally ins.close()
          dropStaged()
          t.postsql.foreach(stmt.execute)
          conn.commit()
          (true, rows.toLong)
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally stmt.close()
      }
    }

  /** Full single-target load: stage → transactional commit, with retry. */
  def load(df: DataFrame, t: LoadTarget, password: String, batchId: String): LoadResult =
    try {
      ensureAuxTables(t, password)
      retry() { stage(df, t, password, batchId) }
      val (committed, rows) = retry() { commit(t, password, batchId) }
      LoadResult(t.jdbcUrl, ok = true, rows, skipped = !committed, None)
    } catch {
      case scala.util.control.NonFatal(e) =>
        LoadResult(t.jdbcUrl, ok = false, 0L, skipped = false,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
    }
}
