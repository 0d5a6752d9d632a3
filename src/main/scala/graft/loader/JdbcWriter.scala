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
  *     parallel — the scalable part, any number of tasks;
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

  /** Quadratic backoff with cap, reference-style (`index.js:385,53`):
    * min(try² · 10, 200) ms.
    */
  def retry[T](tries: Int = 5)(f: => T): T = {
    var attempt = 0
    var last: Throwable = null
    while (attempt < tries) {
      try return f
      catch { case e: java.sql.SQLTransientException =>
        last = e; attempt += 1
        Thread.sleep(math.min(attempt.toLong * attempt * 10, 200))
      }
    }
    throw last
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

  /** Ensure staging + commit-registry tables exist, cloning the target's
    * column definitions for staging (plus the batch-id tag).
    */
  def ensureAuxTables(t: LoadTarget, password: String): Unit =
    withConnection(t, password) { conn =>
      val stmt = conn.createStatement()
      try {
        if (!tableExists(conn, stagingTable(t.targetTable))) {
          val rs = conn.createStatement().executeQuery(
            s"SELECT * FROM ${t.targetTable} WHERE 1=0")
          val md = rs.getMetaData
          val cols = (1 to md.getColumnCount).map(i => columnDdl(md, i))
          rs.close()
          stmt.executeUpdate(
            s"CREATE TABLE ${stagingTable(t.targetTable)} (" +
              cols.mkString(", ") + s", $BatchIdCol VARCHAR(128))")
        }
        if (!tableExists(conn, CommitTable)) {
          stmt.executeUpdate(
            s"CREATE TABLE $CommitTable (batch_id VARCHAR(128) PRIMARY KEY, " +
              "target_table VARCHAR(128), committed_at TIMESTAMP)")
        }
      } finally stmt.close()
    }

  /** Stage rows in parallel from executors. Staging appends happen
    * outside the commit transaction, so a retried load must first purge
    * any rows a previous failed attempt left for this batchId — without
    * this, a stage-ok/commit-fail/retry sequence doubles the rows.
    */
  def stage(df: DataFrame, t: LoadTarget, password: String, batchId: String): Long = {
    withConnection(t, password) { conn =>
      // batchId can originate from caller input (Ops.reloadBatch) — bind
      // it, never splice it into SQL text.
      val s = conn.prepareStatement(
        s"DELETE FROM ${stagingTable(t.targetTable)} WHERE $BatchIdCol = ?")
      try { s.setString(1, batchId); s.executeUpdate() }
      finally s.close()
    }
    val tagged = df.withColumn(BatchIdCol, lit(batchId))
    val props = new java.util.Properties()
    if (t.user.nonEmpty) { props.put("user", t.user); props.put("password", password) }
    tagged.write.mode("append").jdbc(connectUrl(t), stagingTable(t.targetTable), props)
    df.columns.length.toLong // column count unused; rows counted at commit
  }

  /** The control-connection transaction. Returns (committed?, rowsMoved).
    * A batch_id already present in the registry ⇒ replay ⇒ clean no-op.
    */
  def commit(t: LoadTarget, password: String, batchId: String,
             queryTimeoutSecs: Int = 0): (Boolean, Long) =
    withConnection(t, password) { conn =>
      conn.setAutoCommit(false)
      def prep(sql: String): java.sql.PreparedStatement = {
        val ps = conn.prepareStatement(sql)
        if (queryTimeoutSecs > 0) ps.setQueryTimeout(queryTimeoutSecs)
        ps
      }
      // idempotence guard: PK violation on replay → rollback + skip.
      // (no `return` in this closure — see Batcher for why)
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
            conn.rollback(); false
        } finally ins.close()
      }
      if (!fresh) (false, 0L)
      else {
        val stmt = conn.createStatement()
        if (queryTimeoutSecs > 0) stmt.setQueryTimeout(queryTimeoutSecs)
        try {
          t.presql.foreach(stmt.execute)
          if (t.truncateTarget) stmt.executeUpdate(s"DELETE FROM ${t.targetTable}")
          val stage = stagingTable(t.targetTable)
          val targetCols = {
            val rs = conn.createStatement().executeQuery(s"SELECT * FROM ${t.targetTable} WHERE 1=0")
            val md = rs.getMetaData
            val cs = (1 to md.getColumnCount).map(md.getColumnName)
            rs.close(); cs
          }
          val colList = t.columnList.map(_.mkString(", ")).getOrElse(targetCols.mkString(", "))
          val ins = prep(
            s"INSERT INTO ${t.targetTable} ($colList) " +
              s"SELECT $colList FROM $stage WHERE $BatchIdCol = ?")
          val rows = try { ins.setString(1, batchId); ins.executeUpdate() } finally ins.close()
          val del = prep(s"DELETE FROM $stage WHERE $BatchIdCol = ?")
          try { del.setString(1, batchId); del.executeUpdate() } finally del.close()
          t.postsql.foreach(stmt.execute)
          conn.commit()
          (true, rows.toLong)
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally stmt.close()
      }
    }

  /** Full single-target load: stage → transactional commit, with retry. */
  def load(df: DataFrame, t: LoadTarget, password: String, batchId: String,
           queryTimeoutSecs: Int = 0): LoadResult =
    try {
      ensureAuxTables(t, password)
      retry() { stage(df, t, password, batchId) }
      val (committed, rows) = retry() { commit(t, password, batchId, queryTimeoutSecs) }
      LoadResult(t.jdbcUrl, ok = true, rows, skipped = !committed, None)
    } catch {
      case scala.util.control.NonFatal(e) =>
        LoadResult(t.jdbcUrl, ok = false, 0L, skipped = false,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
    }
}
