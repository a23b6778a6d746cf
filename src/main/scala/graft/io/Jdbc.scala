package graft.io

import java.sql.{DriverManager, Statement}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.jdbc.JdbcDialects

import graft.catalog.Pagination

/** JDBC source/sink layer — the Spark-native replacement for the
  * reference's goroutine-per-page extraction (cmd/root.go:389-516) and
  * COPY bulk load (cmd/root.go:408-511).
  *
  * No live MySQL/PG exists in this environment; the keyset page read runs
  * against embedded Derby in JdbcReadSpec and the full phase chain in
  * MigrationEndToEndSpec — only the two vendor wire protocols are
  * untested offline.
  */
object Jdbc {

  case class ConnInfo(url: String, user: String, password: String) {
    def props: Properties = {
      val p = new Properties()
      p.setProperty("user", user)
      p.setProperty("password", password)
      p
    }
  }

  /** Page-parallel table read (S1, root.go:389-516): one keyset plan for
    * every keyed table. `pageBounds` takes every `pageSize`-th key of one
    * ordered key-only scan as a page boundary, and the pages become seek
    * ranges in ONE `spark.read.jdbc` call — one JDBC partition per page,
    * so the plan stays flat at any page count and concurrent connections
    * are bounded by the scheduler exactly like the reference's
    * maxParallel semaphore (root.go:106-117). No PK, or a key type with
    * no literal form → one unpaged scan (root.go:356-359).
    */
  def readTable(spark: SparkSession, conn: ConnInfo, table: String,
                pkCols: Seq[String], pageSize: Long): DataFrame = {
    // quoted as Spark quotes the column list: backticks on MySQL
    val keys = pkCols.map(JdbcDialects.get(conn.url).quoteIdentifier)
    pageBounds(conn, table, keys, pageSize) match {
      case Some(bounds) =>
        spark.read.jdbc(conn.url, table, Pagination.keysetPredicates(keys, bounds), conn.props)
      case None => spark.read.jdbc(conn.url, table, conn.props)
    }
  }

  /** Page boundaries as rendered key literals: the keys at ranks pageSize,
    * 2·pageSize, … of a tagged, ordered, key-only driver scan — except
    * the last key, whose page above would be empty — so a table of n rows
    * gets `Pagination.pageCount(n, pageSize)` pages of at most pageSize
    * rows each, however the keys are spread. On MySQL the scan streams
    * (fetch size Integer.MIN_VALUE), so the driver holds only the
    * boundaries. None without a PK or for a key type with no literal form
    * (`Pagination.keyLiteral`). */
  private def pageBounds(conn: ConnInfo, table: String, keys: Seq[String],
                         pageSize: Long): Option[Seq[Seq[String]]] =
    if (keys.isEmpty) None
    else withStatement(conn) { st =>
      val mysql = conn.url.startsWith("jdbc:mysql")
      if (mysql) st.setFetchSize(Integer.MIN_VALUE)
      val keyList = keys.mkString(", ")
      val rs = st.executeQuery(s"SELECT ${Pagination.SqlTag} $keyList FROM $table ORDER BY $keyList")
      val md = rs.getMetaData
      val render = keys.indices.map(i => Pagination.keyLiteral(md.getColumnType(i + 1), mysql))
      if (render.contains(None)) None
      else {
        val bounds = Vector.newBuilder[Seq[String]]
        var rows = 0L
        while (rs.next()) {
          rows += 1
          if (rows % pageSize == 0)
            bounds += render.zipWithIndex.map { case (r, i) => r.get(rs.getString(i + 1)) }
        }
        val all = bounds.result()
        Some(if (rows > 0 && rows % pageSize == 0) all.init else all)
      }
    }

  /** Bulk write, mode A: Spark's batched-INSERT JDBC writer with
    * rewriteBatchedStatements — the portable path (works on any JDBC
    * target). Mode B below is the COPY path the reference actually uses.
    * Appends: the caller empties the table first (JdbcInsertSink issues an
    * explicit TRUNCATE), since Spark's Overwrite mode drops and re-creates
    * the table on any dialect it does not know to truncate safely. */
  def writeTable(df: DataFrame, conn: ConnInfo, table: String,
                 batchSize: Int = 10000): Unit = {
    val props = conn.props
    props.setProperty("rewriteBatchedStatements", "true")
    df.write
      .mode(SaveMode.Append)
      .option("batchsize", batchSize)
      .option("isolationLevel", "READ_COMMITTED")
      .jdbc(conn.url, table, props)
  }

  /** Bulk write, mode B — COPY fidelity (`pq.CopyIn`, cmd/root.go:408-511):
    * truncate-first idempotence, then every partition streams COPY text
    * through its own transaction (PgCopyLoad). Returns rows written
    * (accumulator-counted — no second scan). This is the path that makes
    * the reference's data phase fast; batched INSERT (mode A) stays as
    * the portable fallback. */
  def writeTableCopy(df: DataFrame, conn: ConnInfo, table: String,
                     flushBytes: Int = 64 * 1024): Long = {
    // a failed TRUNCATE fails the write — COPYing after a skipped truncate
    // would append onto stale data on re-runs
    execute(conn, s"""truncate table "$table"""")
    PgCopyLoad.copyInto(df, table,
      new PgJdbcCopyTransportFactory(conn.url, conn.user, conn.password), flushBytes)
  }

  /** DDL side-channel (cmd/tablemeta.go K2): target-side DDL has no
    * DataFrame form — one statement over plain driver JDBC, throwing on
    * failure so the caller counts it (the reference's per-phase
    * FailedTotal, root.go:166-209). */
  def execute(conn: ConnInfo, sql: String): Unit = withStatement(conn)(_.execute(sql))

  /** Runs `f` on a fresh driver-side statement registered in
    * StatementRegistry for its lifetime, so the Ctrl-C hook can cancel it. */
  private def withStatement[A](conn: ConnInfo)(f: Statement => A): A = {
    val c = DriverManager.getConnection(conn.url, conn.user, conn.password)
    try {
      val st = c.createStatement()
      StatementRegistry.register(st)
      try f(st)
      finally { StatementRegistry.deregister(st); st.close() }
    } finally c.close()
  }
}
