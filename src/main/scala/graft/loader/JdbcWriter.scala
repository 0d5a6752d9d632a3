package graft.loader

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.sql.{Connection, DriverManager}
import org.apache.spark.sql.DataFrame
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
  *  1. executors append rows to the batch's own staging table
  *     ([[stagingTable]]) in parallel — the scalable part. The write opens
  *     an equal share of the task slots among the target loads in flight,
  *     never more connections than the read has partitions
  *     ([[stagingWriters]]): a batch's targets and the pipeline's lanes
  *     load at once, and one writer per file each would have them contend
  *     in the target database;
  *  2. one control connection runs the transaction:
  *     `presql; [truncate]; INSERT INTO target SELECT ... FROM staging;
  *     DROP TABLE staging; postsql; commit` guarded by a commit-registry
  *     insert whose PK makes replays no-ops. The staging table is gone
  *     exactly when the batch committed.
  *
  * This mirrors the reference's manifest-COPY (server-side set move, not
  * row-by-row through the driver) and adds the idempotence the reference
  * lacks.
  */
object JdbcWriter {

  final case class LoadResult(target: String, ok: Boolean, rows: Long,
                              skipped: Boolean, error: Option[String])

  /** The staging table of one (target, batch), in the target's schema:
    * `<target>_gs_<first 16 hex digits of SHA-256(batchId)>`. A batch id
    * can come from a caller (`Ops.reloadBatch`), so it never appears in
    * SQL text; its digest is a plain identifier whatever the id holds.
    */
  def stagingTable(target: String, batchId: String): String =
    target + "_gs_" + MessageDigest.getInstance("SHA-256").digest(batchId.getBytes(UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString

  val CommitTable = "graft_batch_commits"

  /** The load budget, per statement: every staging DDL, staging write
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

  /** `f` of each column of `table`, read from an empty query's metadata. */
  private def targetColumns[T](stmt: java.sql.Statement, table: String)(
      f: (java.sql.ResultSetMetaData, Int) => T): Seq[T] = {
    val rs = stmt.executeQuery(s"SELECT * FROM $table WHERE 1=0")
    try { val md = rs.getMetaData; (1 to md.getColumnCount).map(f(md, _)) }
    finally rs.close()
  }

  /** A statement cancelled database-side past [[StatementTimeoutSecs]]. */
  private def timedStatement(conn: Connection): java.sql.Statement = {
    val stmt = conn.createStatement()
    stmt.setQueryTimeout(StatementTimeoutSecs)
    stmt
  }

  /** Ensure the commit-registry table exists. Staging tables belong to
    * one batch each: [[stage]] creates them and [[commit]] drops them.
    */
  def ensureAuxTables(t: LoadTarget, password: String): Unit =
    withConnection(t, password) { conn =>
      // keyed per (batch, table): one prefix may load several tables
      // of one database, and each table commits the batch once
      if (!tableExists(conn, CommitTable)) createRacing(conn, CommitTable,
        s"CREATE TABLE $CommitTable (batch_id VARCHAR(128) NOT NULL, " +
          "target_table VARCHAR(128) NOT NULL, committed_at TIMESTAMP, " +
          "PRIMARY KEY (batch_id, target_table))")
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
    * connections, into the batch's own [[stagingTable]], created here
    * from the target's column definitions. Staging happens outside the
    * commit transaction, so a previous failed attempt of this batch may
    * have left its table, rows and all: the `CREATE` then fails, and the
    * table is dropped and created again — without this, a
    * stage-ok/commit-fail/retry sequence doubles the rows. The common
    * path does not probe for the table.
    */
  def stage(df: DataFrame, t: LoadTarget, password: String, batchId: String): Unit = {
    val stg = stagingTable(t.targetTable, batchId)
    withConnection(t, password) { conn =>
      val stmt = timedStatement(conn)
      try {
        val ddl = s"CREATE TABLE $stg (" +
          targetColumns(stmt, t.targetTable)(columnDdl).mkString(", ") + ")"
        try stmt.executeUpdate(ddl)
        catch { case e: java.sql.SQLException =>
          try stmt.executeUpdate(s"DROP TABLE $stg")
          catch { case d: java.sql.SQLException => e.addSuppressed(d); throw e }
          stmt.executeUpdate(ddl)
        }
      } finally stmt.close()
    }
    val props = new java.util.Properties()
    if (t.user.nonEmpty) { props.put("user", t.user); props.put("password", password) }
    // Spark's JdbcUtils.savePartition sets it on every insert statement.
    // The coalesce is here, not in the `numPartitions` option: for that
    // option `saveTable` reads `df.rdd.getNumPartitions`, which plans the
    // file scan a second time and broadcasts its Hadoop configuration
    // again.
    df.coalesce(stagingWriters(df)).write.mode("append")
      .option("queryTimeout", StatementTimeoutSecs)
      .jdbc(connectUrl(t), stg, props)
  }

  /** Drop a staging table left behind, if there is one: by a stage whose
    * batch had committed before, or by a load that gave up. Best effort,
    * in its own transaction: a `DROP` that fails leaves the table for
    * the next [[stage]] of that batch to replace.
    */
  private def dropLeftover(conn: Connection, stg: String): Unit = {
    conn.setAutoCommit(true)
    val stmt = timedStatement(conn)
    try stmt.executeUpdate(s"DROP TABLE $stg")
    catch { case _: java.sql.SQLException => () }
    finally stmt.close()
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
    * batch's size or format; a coalesce never widens a read.
    */
  private[loader] def stagingWriters(df: DataFrame): Int =
    math.max(1, df.sparkSession.sparkContext.defaultParallelism / math.max(1, loadsInFlight.get))

  /** The control-connection transaction. Returns (committed?, rowsMoved).
    * It moves every row of the batch's [[stagingTable]] into the target
    * and drops the table. A (batch_id, target_table) already present in
    * the registry ⇒ replay ⇒ clean no-op, besides dropping the table. A
    * unique violation without that row means a registry keyed on
    * batch_id alone (created before the composite key) refused another
    * table's commit: that fails the load, never skips it.
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
      val stg = stagingTable(t.targetTable, batchId)
      // the staging table goes in the commit's transaction, or, on a
      // replay, on its own: `stage` made it before the registry said the
      // batch was in
      if (!fresh) {
        dropLeftover(conn, stg)
        (false, 0L)
      } else {
        val stmt = timedStatement(conn)
        try {
          t.presql.foreach(stmt.execute)
          if (t.truncateTarget) stmt.executeUpdate(s"DELETE FROM ${t.targetTable}")
          val colList = t.columnList.getOrElse(
            targetColumns(stmt, t.targetTable)(_.getColumnName(_))).mkString(", ")
          val rows = stmt.executeUpdate(
            s"INSERT INTO ${t.targetTable} ($colList) SELECT $colList FROM $stg")
          stmt.executeUpdate(s"DROP TABLE $stg")
          t.postsql.foreach(stmt.execute)
          conn.commit()
          (true, rows.toLong)
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally stmt.close()
      }
    }

  /** Full single-target load: stage → transactional commit, with retry.
    * A load that gives up drops its staging table, best effort; `commit`
    * itself keeps it, since `retry` runs `commit` again against it. */
  def load(df: DataFrame, t: LoadTarget, password: String, batchId: String): LoadResult =
    try {
      ensureAuxTables(t, password)
      retry() { stage(df, t, password, batchId) }
      val (committed, rows) = retry() { commit(t, password, batchId) }
      LoadResult(t.jdbcUrl, ok = true, rows, skipped = !committed, None)
    } catch {
      case scala.util.control.NonFatal(e) =>
        try withConnection(t, password)(dropLeftover(_, stagingTable(t.targetTable, batchId)))
        catch { case scala.util.control.NonFatal(_) => () }
        LoadResult(t.jdbcUrl, ok = false, 0L, skipped = false,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
    }
}
