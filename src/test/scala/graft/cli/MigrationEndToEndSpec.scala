package graft.cli

import java.nio.file.Files
import java.sql.DriverManager

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.config.{ConnConfig, GraftConfig}

/** The full migration, end to end, against REAL JDBC endpoints on BOTH
  * sides (embedded Derby): an information_schema-shaped fixture database
  * feeds JdbcCatalogSource (real catalog queries, real key scans, real
  * keyset page-predicate reads over single and composite keys), Migration.Runner
  * drives every phase, and rows land in a second Derby database through
  * real DDL + batched INSERT statements. The offline substitute for a
  * live MySQL→PG wire test (SURVEY §7.4 #8): everything except the two
  * vendor wire protocols is the production code path. */
object MigrationEndToEndSpec {
  val srcUrl = "jdbc:derby:memory:graftsrc;create=true"
  val tgtUrl = "jdbc:derby:memory:grafttgt;create=true"

  def exec(url: String)(sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      sqls.foreach { sql =>
        try st.execute(sql)
        catch {
          // drops of absent objects, and the schema a previous test created
          case _: java.sql.SQLException
            if sql.startsWith("DROP") || sql.startsWith("CREATE SCHEMA") => ()
        }
      }
    } finally c.close()
  }

  def query1(url: String, sql: String): Long = rows(url, sql).head.head.toLong

  /** Every row of `sql`, each cell as text, sorted. */
  def rows(url: String, sql: String): Seq[Seq[String]] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = Seq.newBuilder[Seq[String]]
      while (rs.next()) out += (1 to n).map(i => String.valueOf(rs.getObject(i)))
      out.result().sortBy(_.mkString("\u0000"))
    } finally c.close()
  }
}

class MigrationEndToEndSpec extends AnyFunSuite {
  import MigrationEndToEndSpec._
  lazy val spark = TestSpark.spark

  private def setupSource(): Unit = {
    exec(srcUrl)(
      "DROP TABLE INFORMATION_SCHEMA.TABLES", "DROP TABLE INFORMATION_SCHEMA.COLUMNS",
      "DROP TABLE INFORMATION_SCHEMA.KEY_COLUMN_USAGE", "DROP TABLE INFORMATION_SCHEMA.STATISTICS",
      "DROP TABLE INFORMATION_SCHEMA.REFERENTIAL_CONSTRAINTS", "DROP TABLE INFORMATION_SCHEMA.VIEWS",
      "DROP TABLE INFORMATION_SCHEMA.TRIGGERS",
      "DROP TABLE PEOPLE", "DROP TABLE ORDERS", "DROP TABLE BADTAB",
      "CREATE SCHEMA INFORMATION_SCHEMA",
      "CREATE TABLE INFORMATION_SCHEMA.TABLES (TABLE_SCHEMA VARCHAR(64), TABLE_NAME VARCHAR(64), " +
        "TABLE_TYPE VARCHAR(32), AUTO_INCREMENT BIGINT)",
      "CREATE TABLE INFORMATION_SCHEMA.COLUMNS (TABLE_SCHEMA VARCHAR(64), TABLE_NAME VARCHAR(64), " +
        "COLUMN_NAME VARCHAR(64), DATA_TYPE VARCHAR(32), CHARACTER_MAXIMUM_LENGTH BIGINT, " +
        "NUMERIC_PRECISION INT, NUMERIC_SCALE INT, IS_NULLABLE VARCHAR(3), " +
        "COLUMN_DEFAULT VARCHAR(64), ORDINAL_POSITION INT, EXTRA VARCHAR(32))",
      "CREATE TABLE INFORMATION_SCHEMA.KEY_COLUMN_USAGE (CONSTRAINT_NAME VARCHAR(64), " +
        "TABLE_SCHEMA VARCHAR(64), TABLE_NAME VARCHAR(64), COLUMN_NAME VARCHAR(64), " +
        "ORDINAL_POSITION INT, REFERENCED_TABLE_NAME VARCHAR(64), REFERENCED_COLUMN_NAME VARCHAR(64))",
      "CREATE TABLE INFORMATION_SCHEMA.STATISTICS (TABLE_SCHEMA VARCHAR(64), TABLE_NAME VARCHAR(64), " +
        "INDEX_NAME VARCHAR(64), NON_UNIQUE INT, SEQ_IN_INDEX INT, COLUMN_NAME VARCHAR(64), " +
        "INDEX_TYPE VARCHAR(16))",
      "CREATE TABLE INFORMATION_SCHEMA.REFERENTIAL_CONSTRAINTS (CONSTRAINT_SCHEMA VARCHAR(64), " +
        "CONSTRAINT_NAME VARCHAR(64), UPDATE_RULE VARCHAR(16), DELETE_RULE VARCHAR(16))",
      "CREATE TABLE INFORMATION_SCHEMA.VIEWS (TABLE_SCHEMA VARCHAR(64), TABLE_NAME VARCHAR(64), " +
        "VIEW_DEFINITION VARCHAR(256))",
      "CREATE TABLE INFORMATION_SCHEMA.TRIGGERS (TRIGGER_SCHEMA VARCHAR(64), TRIGGER_NAME VARCHAR(64), " +
        "ACTION_STATEMENT VARCHAR(256))",
      // data tables: single numeric PK, composite PK (both over several
      // keyset pages), and a poison table whose PG type mapping the
      // target rejects (failure-artifact path)
      "CREATE TABLE PEOPLE (ID INT NOT NULL PRIMARY KEY, NAME VARCHAR(20) NOT NULL)",
      "CREATE TABLE ORDERS (A INT NOT NULL, B INT NOT NULL, AMT INT NOT NULL, PRIMARY KEY (A, B))",
      "CREATE TABLE BADTAB (ID INT NOT NULL PRIMARY KEY, T VARCHAR(20) NOT NULL)")

    val c = DriverManager.getConnection(srcUrl)
    try {
      val st = c.createStatement()
      // catalog rows (MySQL information_schema shapes)
      Seq("PEOPLE", "ORDERS", "BADTAB").foreach(t => st.execute(
        s"INSERT INTO INFORMATION_SCHEMA.TABLES VALUES ('test', '$t', 'BASE TABLE', NULL)"))
      def colRow(t: String, c0: String, dt: String, len: String, pos: Int): String =
        s"INSERT INTO INFORMATION_SCHEMA.COLUMNS VALUES ('test', '$t', '$c0', '$dt', $len, " +
          s"NULL, NULL, 'NO', NULL, $pos, '')"
      st.execute(colRow("PEOPLE", "ID", "int", "NULL", 1))
      st.execute(colRow("PEOPLE", "NAME", "varchar", "20", 2))
      st.execute(colRow("ORDERS", "A", "int", "NULL", 1))
      st.execute(colRow("ORDERS", "B", "int", "NULL", 2))
      st.execute(colRow("ORDERS", "AMT", "int", "NULL", 3))
      st.execute(colRow("BADTAB", "ID", "int", "NULL", 1))
      st.execute(colRow("BADTAB", "T", "text", "NULL", 2)) // PG text: target rejects
      def pkRow(t: String, c0: String, pos: Int): String =
        s"INSERT INTO INFORMATION_SCHEMA.KEY_COLUMN_USAGE VALUES ('PRIMARY', 'test', '$t', " +
          s"'$c0', $pos, NULL, NULL)"
      st.execute(pkRow("PEOPLE", "ID", 1))
      st.execute(pkRow("ORDERS", "A", 1))
      st.execute(pkRow("ORDERS", "B", 2))
      st.execute(pkRow("BADTAB", "ID", 1))

      val pp = c.prepareStatement("INSERT INTO PEOPLE VALUES (?, ?)")
      (1 to 57).foreach { i => pp.setInt(1, i); pp.setString(2, s"Name$i"); pp.addBatch() }
      pp.executeBatch()
      val po = c.prepareStatement("INSERT INTO ORDERS VALUES (?, ?, ?)")
      (1 to 37).foreach { i => po.setInt(1, i % 5); po.setInt(2, i); po.setInt(3, i * 10); po.addBatch() }
      po.executeBatch()
      st.execute("INSERT INTO BADTAB VALUES (1, 'x')")
    } finally c.close()
  }

  test("full phase chain over real JDBC: catalog → DDL → paged reads → batched INSERT → compare") {
    setupSource()
    exec(tgtUrl)("DROP TABLE \"people\"", "DROP TABLE \"orders\"", "DROP TABLE \"badtab\"")

    val cfg = GraftConfig(src = ConnConfig(database = "test"), pageSize = 10, maxParallel = 4)
    val source = new JdbcCatalogSource(spark, cfg, urlOverride = Some(srcUrl))
    val sink = new JdbcInsertSink(spark, tgtUrl, "", "")
    val flog = new FailureLog(graft.TempScratch.fresh("graft-e2e"))
    val runner = new Migration.Runner(spark, cfg, source, sink, Some(flog))

    assert(runner.workList == Seq("BADTAB", "ORDERS", "PEOPLE"))
    val report = runner.run().collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    // phase accounting: 3 tables, the poison one fails create AND data
    assert(report("TableStructure") == ((3L, 1L)))
    assert(report("TableData") == ((3L, 1L)))

    // the rows really are in the target, via independent JDBC
    assert(query1(tgtUrl, "SELECT COUNT(*) FROM \"people\"") == 57L)
    assert(query1(tgtUrl, "SELECT COUNT(*) FROM \"orders\"") == 37L)
    assert(query1(tgtUrl, "SELECT COUNT(*) FROM \"people\" WHERE \"name\" = 'Name57'") == 1L)
    assert(query1(tgtUrl, "SELECT \"amt\" FROM \"orders\" WHERE \"a\" = 2 AND \"b\" = 37") == 370L)

    // failure artifacts (K3): the poison table's create DDL and its
    // data-phase failure are replayable from the log dir
    assert(flog.read(FailureLog.TableCreateFailed).exists(_.contains("\"badtab\"")))
    assert(flog.read(FailureLog.FailedTable) == Seq("BADTAB"))
    assert(flog.read(FailureLog.ErrorTableData).exists(_.startsWith("BADTAB")))

    // compareDb over the same live endpoints: equal counts for the two
    // migrated tables, missing-target shape for the poison one
    val cmp = runner.compare().collect()
      .map(r => r.getString(0) -> (r.getString(3), r.getString(4))).toMap
    assert(cmp("PEOPLE") == (("YES", "YES")))
    assert(cmp("ORDERS") == (("YES", "YES")))
    assert(cmp("BADTAB") == (("NO", "NO")))

    // and the migration is idempotent: a second run truncates + reloads
    val runner2 = new Migration.Runner(spark, cfg, source, sink)
    runner2.run()
    assert(query1(tgtUrl, "SELECT COUNT(*) FROM \"people\"") == 57L)
    assert(query1(tgtUrl, "SELECT COUNT(*) FROM \"orders\"") == 37L)
  }

  test("a table failing mid-write is one counted failure; a re-run makes the target equal the source") {
    setupSource()
    exec(tgtUrl)("DROP TABLE \"people\"", "DROP TABLE \"orders\"", "DROP TABLE \"badtab\"")
    val cfg = GraftConfig(src = ConnConfig(database = "test"), pageSize = 10, maxParallel = 4,
      exclude = Seq("BADTAB"))
    val source = new JdbcCatalogSource(spark, cfg, urlOverride = Some(srcUrl))
    val sink = new JdbcInsertSink(spark, tgtUrl, "", "")
    // ORDERS dies after writing part of its rows
    val failing = new Migration.MigrationSink {
      override def executeDdl(sql: String): Try[Unit] = sink.executeDdl(sql)
      override def writeTable(table: String, df: DataFrame): Try[Long] =
        if (table != "orders") sink.writeTable(table, df)
        else sink.writeTable(table, df.limit(5))
          .flatMap(_ => Failure(new IllegalStateException("injected: write died mid-table")))
      override def rowCount(table: String): Option[Long] = sink.rowCount(table)
    }
    val flog = new FailureLog(graft.TempScratch.fresh("graft-e2e-fault"))
    val runner = new Migration.Runner(spark, cfg, source, failing, Some(flog))
    assert(runner.workList == Seq("ORDERS", "PEOPLE"))
    runner.tableStructure()
    runner.tableData()
    val report = runner.report().collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(report("TableStructure") == ((2L, 0L)))
    assert(report("TableData") == ((2L, 1L)))
    assert(flog.read(FailureLog.FailedTable) == Seq("ORDERS"))
    val errors = flog.read(FailureLog.ErrorTableData)
    assert(errors.size == 1 && errors.head.startsWith("ORDERS"), errors)
    assert(errors.head.contains("injected"))
    // the other table completed, the failed one holds a partial write
    assert(query1(tgtUrl, "SELECT COUNT(*) FROM \"people\"") == 57L)
    assert(query1(tgtUrl, "SELECT COUNT(*) FROM \"orders\"") == 5L)

    // re-run the data phase alone into the same target: truncate-first
    // makes it equal to the source row for row, both tables
    new Migration.Runner(spark, cfg, source, sink).tableData()
    assert(rows(tgtUrl, "SELECT * FROM \"people\"") == rows(srcUrl, "SELECT * FROM PEOPLE"))
    assert(rows(tgtUrl, "SELECT * FROM \"orders\"") == rows(srcUrl, "SELECT * FROM ORDERS"))
  }

  test("INSERT sink keeps the target DDL on a dialect Spark cannot truncate") {
    // Spark's Overwrite mode truncates only when the dialect says TRUNCATE
    // does not cascade; for any dialect that does not know (None), it
    // drops the table and re-creates it from the DataFrame's schema
    val url = "jdbc:derby:memory:graftnotrunc;create=true"
    val unknown = new JdbcDialect {
      override def canHandle(u: String): Boolean = u.startsWith("jdbc:derby:memory:graftnotrunc")
      override def isCascadingTruncateTable(): Option[Boolean] = None
    }
    JdbcDialects.registerDialect(unknown)
    try {
      exec(url)("DROP TABLE \"kept\"",
        "CREATE TABLE \"kept\" (\"id\" INT NOT NULL PRIMARY KEY, \"name\" VARCHAR(20), " +
          "\"extra\" INT DEFAULT 7)",
        "INSERT INTO \"kept\" VALUES (99, 'stale', 1)")
      val sink = new JdbcInsertSink(spark, url, "", "")
      val df = spark.createDataFrame(Seq((1, "a"), (2, "b"))).toDF("id", "name")
      assert(sink.writeTable("kept", df) == Success(2L))
      // the stale row is gone and the column Spark never saw survived
      assert(rows(url, "SELECT \"id\", \"extra\" FROM \"kept\"") == Seq(Seq("1", "7"), Seq("2", "7")))
      // a missing target table fails the write instead of being created
      assert(sink.writeTable("absent", df).isFailure)
      assert(query1(url, "SELECT COUNT(*) FROM SYS.SYSTABLES WHERE TABLENAME = 'absent'") == 0L)
    } finally JdbcDialects.unregisterDialect(unknown)
  }
}
