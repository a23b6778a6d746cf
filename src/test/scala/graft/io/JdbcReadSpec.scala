package graft.io

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.catalog.Pagination

/** The page-parallel JDBC read (S1) against a REAL database — embedded
  * Derby, the JDBC engine Spark ships with — instead of fakes: proves the
  * keyset plan reads ONE flat scan relation with one partition per page
  * at 100+ pages, and that every page read returns exactly the table's
  * keys — no key missing, none twice — for composite, skewed numeric and
  * string keys, and while rows change between page reads. */
object DerbyTestDb {
  val url = "jdbc:derby:memory:graftread;create=true"
  def connection(): java.sql.Connection = DriverManager.getConnection(url)

  /** Run DDL/DML, ignoring "already exists"-style failures on drops. */
  def exec(sqls: String*): Unit = {
    val c = connection()
    try {
      val st = c.createStatement()
      sqls.foreach { sql =>
        try st.execute(sql)
        catch { case e: java.sql.SQLException if sql.startsWith("DROP") => () }
      }
    } finally c.close()
  }

  /** (Re)create `table` with `ddl` and batch-insert `rows`. */
  def load(table: String, ddl: String, rows: Seq[Seq[Any]]): Unit = {
    exec(s"DROP TABLE $table", s"CREATE TABLE $table ($ddl)")
    val c = connection()
    try {
      val ps = c.prepareStatement(
        s"INSERT INTO $table VALUES (${rows.head.map(_ => "?").mkString(", ")})")
      rows.foreach { r =>
        r.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }
        ps.addBatch()
      }
      ps.executeBatch()
    } finally c.close()
  }
}

class JdbcReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val conn = Jdbc.ConnInfo(DerbyTestDb.url, "", "")

  /** The key columns of every row read, as strings, in read order. */
  private def keys(rows: Seq[Row], n: Int): Seq[Seq[String]] =
    rows.map(r => (0 until n).map(i => String.valueOf(r.get(i))))

  private def fullScan(table: String, n: Int): Seq[Seq[String]] =
    keys(spark.read.jdbc(conn.url, table, conn.props).collect().toSeq, n)

  /** No key missing, none read twice. */
  private def assertSameKeys(got: Seq[Seq[String]], want: Seq[Seq[String]]): Unit = {
    val dups = got.diff(got.distinct)
    assert(dups.isEmpty, s"keys read twice: $dups")
    val missing = want.diff(got)
    assert(missing.isEmpty, s"keys lost: $missing")
  }

  /** Rows per page: one Spark partition is one page. */
  private def pageSizes(df: DataFrame): Seq[Int] =
    df.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq

  test("composite-PK read: flat plan, one partition per page, row-identical at 120 pages") {
    DerbyTestDb.load("COMPO", "A INT NOT NULL, B VARCHAR(16) NOT NULL, V VARCHAR(24), " +
      "PRIMARY KEY (A, B)", (0 until 240).map(i => Seq(i % 40, s"k$i", s"v$i")))

    val df = Jdbc.readTable(spark, conn, "COMPO", Seq("A", "B"), pageSize = 2)
    // one Spark task per page...
    assert(df.rdd.getNumPartitions == 120)
    // ...but ONE leaf scan relation: the plan is flat at any page count
    assert(df.queryExecution.optimizedPlan.collectLeaves().size == 1)
    assert(pageSizes(df).forall(_ == 2))
    val got = keys(df.collect().toSeq, 2)
    assert(got.size == 240)
    assertSameKeys(got, fullScan("COMPO", 2))
  }

  test("numeric-PK read: range predicates give one partition per page over a real scan") {
    DerbyTestDb.load("SOLO", "ID INT NOT NULL PRIMARY KEY, B VARCHAR(16) NOT NULL, V VARCHAR(24)",
      (0 until 100).map(i => Seq(i, s"k$i", s"v$i")))
    val df = Jdbc.readTable(spark, conn, "SOLO", Seq("ID"), pageSize = 25)
    assert(df.rdd.getNumPartitions == 4)
    assertSameKeys(keys(df.collect().toSeq, 1), fullScan("SOLO", 1))
  }

  test("page count is ceil(rows / pageSize), and at least one page") {
    Seq(0, 1, 24, 25, 26, 50, 51).foreach { n =>
      DerbyTestDb.exec("DROP TABLE SIZED", "CREATE TABLE SIZED (ID INT NOT NULL PRIMARY KEY)")
      if (n > 0) DerbyTestDb.load("SIZED", "ID INT NOT NULL PRIMARY KEY", (1 to n).map(Seq(_)))
      val df = Jdbc.readTable(spark, conn, "SIZED", Seq("ID"), pageSize = 25)
      assert(df.rdd.getNumPartitions == Pagination.pageCount(n, 25), s"$n rows")
      assert(pageSizes(df).sum == n && pageSizes(df).forall(_ <= 25), s"$n rows")
    }
  }

  test("skewed bigint key: no page holds more than pageSize rows") {
    // 90% of the keys dense, the rest spread a thousand times wider: an
    // even split of [min, max] would leave most pages empty and one giant
    DerbyTestDb.load("SKEW", "ID BIGINT NOT NULL PRIMARY KEY, V VARCHAR(8)",
      (0 until 600).map { i =>
        Seq(if (i < 540) i + 1L else 540L + (i - 539L) * (i - 539L) * 1000L, s"v$i")
      })
    val df = Jdbc.readTable(spark, conn, "SKEW", Seq("ID"), pageSize = 60)
    assert(df.rdd.getNumPartitions == 10)
    val sizes = pageSizes(df)
    assert(sizes.max <= 60, s"page sizes $sizes")
    assertSameKeys(keys(df.collect().toSeq, 1), fullScan("SKEW", 1))
  }

  test("string keys containing quotes and backslashes are read correctly") {
    val tricky = Seq("'", "''", "\\", "\\'", "a'b", "a\\b", "it's", "x''y", "z\\\\",
      "\\n", "--", "/*", "O'Brien", " lead", "trail ", "end'")
    DerbyTestDb.load("STRK", "K VARCHAR(16) NOT NULL PRIMARY KEY, V INT",
      tricky.zipWithIndex.map { case (k, i) => Seq(k, i) })
    // pageSize 1: every key but the last is a page boundary literal
    val df = Jdbc.readTable(spark, conn, "STRK", Seq("K"), pageSize = 1)
    assert(df.rdd.getNumPartitions == tricky.size)
    assert(pageSizes(df).forall(_ == 1))
    val got = keys(df.collect().toSeq, 1)
    assertSameKeys(got, tricky.map(Seq(_)))
    assert(got.size == tricky.size)
  }

  test("a key type with no literal form is read as one unpaged scan") {
    DerbyTestDb.load("FLT", "K DOUBLE NOT NULL PRIMARY KEY", (1 to 30).map(i => Seq(i / 7.0)))
    val df = Jdbc.readTable(spark, conn, "FLT", Seq("K"), pageSize = 5)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 30)
  }

  test("keyset predicates carry the kill tag; key literals escape per dialect") {
    val preds = Pagination.keysetPredicates(Seq("a", "b"), Seq(Seq("1", "2"), Seq("3", "4")))
    assert(preds.length == 3)
    assert(preds.forall(_.startsWith(Pagination.SqlTag + " ")))
    assert(preds(1) == s"${Pagination.SqlTag} " +
      "(a >= 1 AND ((a > 1) OR (a = 1 AND b > 2))) AND (a <= 3 AND ((a < 3) OR (a = 3 AND b <= 4)))")
    assert(Pagination.keysetPredicates(Seq("id"), Nil).toSeq == Seq(s"${Pagination.SqlTag} 1 = 1"))

    import java.sql.Types
    def lit(t: Int, mysql: Boolean, v: String) = Pagination.keyLiteral(t, mysql).map(_(v))
    assert(lit(Types.BIGINT, mysql = true, "-42").contains("-42"))
    assert(lit(Types.DECIMAL, mysql = false, "1.50").contains("1.50"))
    assert(lit(Types.VARCHAR, mysql = false, "a'b\\c").contains("'a''b\\c'"))
    assert(lit(Types.VARCHAR, mysql = true, "a'b\\c").contains("'a''b\\\\c'"))
    assert(lit(Types.DATE, mysql = true, "2024-02-29").contains("{d '2024-02-29'}"))
    assert(lit(Types.TIME, mysql = true, "23:59:59").contains("{t '23:59:59'}"))
    assert(lit(Types.TIMESTAMP, mysql = false, "2024-02-29 01:02:03.5")
      .contains("{ts '2024-02-29 01:02:03.5'}"))
    assert(Pagination.keyLiteral(Types.VARBINARY, mysql = true).isEmpty)
    assert(Pagination.keyLiteral(Types.DOUBLE, mysql = false).isEmpty)
  }

  /** Reads the first page of `df` in its own job, runs `change`, then reads
    * the remaining pages: the two halves of one paged read, split around a
    * concurrent write. Returns the keys of both halves. */
  private def readAround(df: DataFrame, n: Int)(change: => Unit): Seq[Seq[String]] = {
    val rdd = df.rdd
    val read = (it: Iterator[Row]) => it.toArray
    val first = spark.sparkContext.runJob(rdd, read, Seq(0)).flatten.toSeq
    change
    val rest = spark.sparkContext.runJob(rdd, read, 1 until rdd.getNumPartitions).flatten.toSeq
    keys(first ++ rest, n)
  }

  private def loadMutable(): Unit =
    DerbyTestDb.load("MUT", "A INT NOT NULL, B INT NOT NULL, PRIMARY KEY (A, B)",
      (0 until 40).map(i => Seq(i / 4 + 1, i % 4)))

  test("a key deleted from the first page during the read loses no other key") {
    loadMutable()
    val before = fullScan("MUT", 2)
    val df = Jdbc.readTable(spark, conn, "MUT", Seq("A", "B"), pageSize = 10)
    assert(df.rdd.getNumPartitions == 4)
    // under offset pages every later page shifts up by one: the first key
    // of page 2 would land in the already-read page 1 and be lost
    val got = readAround(df, 2)(DerbyTestDb.exec("DELETE FROM MUT WHERE A = 1 AND B = 0"))
    assertSameKeys(got, before.filterNot(_ == Seq("1", "0")))
  }

  test("a key inserted below the first page during the read duplicates no key") {
    loadMutable()
    val before = fullScan("MUT", 2)
    val df = Jdbc.readTable(spark, conn, "MUT", Seq("A", "B"), pageSize = 10)
    // under offset pages every later page shifts down by one: the last key
    // of page 1 would be read again as the first key of page 2
    val got = readAround(df, 2)(DerbyTestDb.exec("INSERT INTO MUT VALUES (0, 0)"))
    assertSameKeys(got.filterNot(_ == Seq("0", "0")), before)
  }
}
