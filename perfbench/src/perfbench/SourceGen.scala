package perfbench

import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets
import java.sql.{Connection, DriverManager, Timestamp, Types}
import java.time.LocalDateTime
import java.util.SplittableRandom

/** The benchmark's seeded source generator: writes data tables plus a
  * MySQL-shaped `information_schema` into an embedded Derby database, and
  * computes, from the generated values alone, the COPY text each table
  * must arrive as (`refLine`). Nothing here calls the program: the
  * expected content is an independent reference, so a program that drops a
  * row or corrupts a value cannot also corrupt the expectation. */
object SourceGen {

  val Schema = "bench"

  sealed trait Kind { def derby: String; def mysql: String }
  case object BigintK extends Kind { val derby = "BIGINT"; val mysql = "bigint" }
  case object IntK extends Kind { val derby = "INT"; val mysql = "int" }
  final case class VarcharK(n: Int) extends Kind {
    val derby = s"VARCHAR($n)"; val mysql = "varchar"
  }
  final case class DecimalK(p: Int, s: Int) extends Kind {
    val derby = s"DECIMAL($p,$s)"; val mysql = "decimal"
  }
  case object TimestampK extends Kind { val derby = "TIMESTAMP"; val mysql = "datetime" }
  final case class BlobK(n: Int) extends Kind { val derby = s"BLOB($n)"; val mysql = "blob" }

  /** How a column's values are drawn. `row` is the 0-based row index. */
  type Gen = (SplittableRandom, Int) => Any

  final case class Col(name: String, kind: Kind, nullable: Boolean, gen: Gen)

  final case class Index(name: String, cols: Seq[String], unique: Boolean)
  final case class Fk(name: String, col: String, parent: String, parentCol: String)

  final case class Table(name: String, cols: Seq[Col], pk: Seq[String], rows: Int,
                         autoInc: Boolean = false, indexes: Seq[Index] = Nil,
                         fks: Seq[Fk] = Nil)

  final case class Catalog(tables: Seq[Table], views: Seq[(String, String)] = Nil,
                           triggers: Seq[(String, String)] = Nil)

  /** Reference COPY content of one table: line count, order-independent
    * 64-bit hash sum of the lines, bytes including newlines, and how many
    * string values carried a NUL the program must scrub. */
  final case class Expect(rows: Long, hash: Long, bytes: Long, nulValues: Long)

  // ---- value generators ---------------------------------------------------

  private val Plain = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 "
  private val Special = Array('\\', '\t', '\n', '\r', 'é', 'ß', '中', '"', '\'')

  /** Strings with a ~4% share of characters COPY must escape or encode as
    * multi-byte UTF-8, and a NUL in `nulShare` of the values. */
  def text(min: Int, max: Int, nulShare: Double = 0.0, nullShare: Double = 0.0): Gen =
    (r, _) =>
      if (nullShare > 0 && r.nextDouble() < nullShare) null
      else {
        val n = min + r.nextInt(max - min + 1)
        val sb = new java.lang.StringBuilder(n)
        var i = 0
        while (i < n) {
          sb.append(if (r.nextInt(25) == 0) Special(r.nextInt(Special.length))
                    else Plain.charAt(r.nextInt(Plain.length)))
          i += 1
        }
        if (n > 0 && nulShare > 0 && r.nextDouble() < nulShare) sb.setCharAt(r.nextInt(n), '\u0000')
        sb.toString
      }

  def decimal(scale: Int, maxUnscaled: Long, nullShare: Double = 0.0): Gen =
    (r, _) =>
      if (nullShare > 0 && r.nextDouble() < nullShare) null
      else JBigDecimal.valueOf(r.nextLong(2 * maxUnscaled + 1) - maxUnscaled, scale)

  def int(bound: Int, nullShare: Double = 0.0): Gen =
    (r, _) =>
      if (nullShare > 0 && r.nextDouble() < nullShare) null
      else Integer.valueOf(r.nextInt(bound))

  private val Epoch = LocalDateTime.of(2015, 1, 1, 0, 0)

  /** Microsecond-precision timestamps over ten years. */
  def timestamp(nullShare: Double = 0.0): Gen =
    (r, _) =>
      if (nullShare > 0 && r.nextDouble() < nullShare) null
      else Epoch.plusNanos(r.nextLong(315360000000000L) * 1000L)

  def blob(min: Int, max: Int, nullShare: Double = 0.0): Gen =
    (r, _) =>
      if (nullShare > 0 && r.nextDouble() < nullShare) null
      else {
        val b = new Array[Byte](min + r.nextInt(max - min + 1))
        r.nextBytes(b); b
      }

  val seqKey: Gen = (_, i) => java.lang.Long.valueOf(i + 1L)

  // ---- reference COPY encoding ---------------------------------------------

  /** COPY text of one value, written from the PostgreSQL COPY rules: `\N`
    * for NULL, backslash escapes for `\`, TAB, LF and CR, bytea in `\\x`
    * hex, and the NUL characters the migration must scrub removed. */
  def refField(v: Any, sb: java.lang.StringBuilder, scrub: Boolean): Unit = v match {
    case null => sb.append("\\N")
    case s: String =>
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '\u0000' if scrub => ()
          case '\\' => sb.append("\\\\")
          case '\t' => sb.append("\\t")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case c => sb.append(c)
        }
        i += 1
      }
    case d: JBigDecimal => sb.append(d.toPlainString)
    case t: LocalDateTime =>
      sb.append(f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
        f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.${t.getNano / 1000}%06d")
    case b: Array[Byte] =>
      sb.append("\\\\x")
      b.foreach(x => sb.append(Character.forDigit((x >> 4) & 0xf, 16))
        .append(Character.forDigit(x & 0xf, 16)))
    case n: java.lang.Number => sb.append(n.toString)
    case other => throw new IllegalArgumentException(s"no reference encoding for $other")
  }

  /** One row's reference COPY line. `scrub` drops NULs, as the migration
    * must; a read-back of a target keeps them, so an unscrubbed NUL shows
    * as a mismatch. */
  def refLine(values: Array[Any], scrub: Boolean = true): String = {
    val sb = new java.lang.StringBuilder(128)
    var i = 0
    while (i < values.length) {
      if (i > 0) sb.append('\t')
      refField(values(i), sb, scrub)
      i += 1
    }
    sb.toString
  }

  /** Values read back through plain JDBC, in the generator's value model. */
  def fromJdbc(v: Any): Any = v match {
    case t: Timestamp => t.toLocalDateTime
    case b: java.sql.Blob => b.getBytes(1L, b.length.toInt)
    case l: java.lang.Long => l
    case i: java.lang.Integer => i
    case other => other
  }

  // ---- line hashing (shared with the counting COPY transport) --------------

  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  /** Finalizer applied to a line's FNV-1a state, so the per-line hashes
    * that get summed are well mixed. */
  def mix(h0: Long): Long = {
    var h = h0
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  def lineHash(line: Array[Byte]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < line.length) { h = (h ^ (line(i) & 0xff)) * FnvPrime; i += 1 }
    mix(h)
  }

  // ---- Derby writer -------------------------------------------------------

  private def exec(c: Connection, sqls: String*): Unit = {
    val st = c.createStatement()
    try sqls.foreach(st.execute) finally st.close()
  }

  private val InfoSchema = Seq(
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
      "VIEW_DEFINITION VARCHAR(512))",
    "CREATE TABLE INFORMATION_SCHEMA.TRIGGERS (TRIGGER_SCHEMA VARCHAR(64), TRIGGER_NAME VARCHAR(64), " +
      "ACTION_STATEMENT VARCHAR(512))")

  private def batch(c: Connection, sql: String)(rows: Iterable[Seq[Any]]): Unit = {
    val ps = c.prepareStatement(sql)
    try {
      rows.foreach { row =>
        row.zipWithIndex.foreach {
          case (null, i) => ps.setNull(i + 1, Types.VARCHAR)
          case (v: String, i) => ps.setString(i + 1, v)
          case (v: Int, i) => ps.setInt(i + 1, v)
          case (v: Long, i) => ps.setLong(i + 1, v)
          case (v, i) => ps.setObject(i + 1, v)
        }
        ps.addBatch()
      }
      ps.executeBatch()
    } finally ps.close()
  }

  private def writeCatalog(c: Connection, cat: Catalog): Unit = {
    val ins = (t: String, n: Int) =>
      s"INSERT INTO INFORMATION_SCHEMA.$t VALUES (${Seq.fill(n)("?").mkString(",")})"
    batch(c, ins("TABLES", 4))(cat.tables.map(t =>
      Seq(Schema, t.name, "BASE TABLE", if (t.autoInc) java.lang.Long.valueOf(t.rows + 1L) else null)))
    batch(c, ins("COLUMNS", 11))(cat.tables.flatMap(t => t.cols.zipWithIndex.map { case (col, i) =>
      val (len, prec, scale) = col.kind match {
        case VarcharK(n) => (java.lang.Long.valueOf(n.toLong), null, null)
        case DecimalK(p, s) => (null, Integer.valueOf(p), Integer.valueOf(s))
        case _ => (null, null, null)
      }
      val extra = if (t.autoInc && i == 0) "auto_increment" else ""
      Seq(Schema, t.name, col.name, col.kind.mysql, len, prec, scale,
        if (col.nullable) "YES" else "NO", null, i + 1, extra)
    }))
    batch(c, ins("KEY_COLUMN_USAGE", 7))(cat.tables.flatMap { t =>
      t.pk.zipWithIndex.map { case (k, i) => Seq("PRIMARY", Schema, t.name, k, i + 1, null, null) } ++
        t.fks.map(f => Seq(f.name, Schema, t.name, f.col, 1, f.parent, f.parentCol))
    })
    batch(c, ins("STATISTICS", 7))(cat.tables.flatMap { t =>
      t.pk.zipWithIndex.map { case (k, i) => Seq(Schema, t.name, "PRIMARY", 0, i + 1, k, "BTREE") } ++
        t.indexes.flatMap(ix => ix.cols.zipWithIndex.map { case (k, i) =>
          Seq(Schema, t.name, ix.name, if (ix.unique) 0 else 1, i + 1, k, "BTREE")
        })
    })
    batch(c, ins("REFERENTIAL_CONSTRAINTS", 4))(cat.tables.flatMap(_.fks.map(f =>
      Seq(Schema, f.name, "CASCADE", "RESTRICT"))))
    batch(c, ins("VIEWS", 3))(cat.views.map { case (n, d) => Seq(Schema, n, d) })
    batch(c, ins("TRIGGERS", 3))(cat.triggers.map { case (n, d) => Seq(Schema, n, d) })
  }

  private def setValue(ps: java.sql.PreparedStatement, i: Int, kind: Kind, v: Any): Unit =
    v match {
      case null => ps.setNull(i, kind match {
        case BigintK => Types.BIGINT
        case IntK => Types.INTEGER
        case _: VarcharK => Types.VARCHAR
        case _: DecimalK => Types.DECIMAL
        case TimestampK => Types.TIMESTAMP
        case _: BlobK => Types.BLOB
      })
      case l: java.lang.Long => ps.setLong(i, l)
      case n: Integer => ps.setInt(i, n)
      case s: String => ps.setString(i, s)
      case d: JBigDecimal => ps.setBigDecimal(i, d)
      case t: LocalDateTime => ps.setTimestamp(i, Timestamp.valueOf(t))
      case b: Array[Byte] => ps.setBytes(i, b)
    }

  /** Create `cat` in a fresh Derby database at `url` and return each
    * table's reference COPY content. Table `t` draws from its own stream
    * `seed ^ hash(t)`, so a table's rows depend only on the seed and its
    * name. */
  def create(url: String, cat: Catalog, seed: Long): Map[String, Expect] = {
    val c = DriverManager.getConnection(url)
    try {
      c.setAutoCommit(false)
      exec(c, InfoSchema: _*)
      writeCatalog(c, cat)
      c.commit()
      cat.tables.map { t =>
        exec(c, s"CREATE TABLE ${t.name} (" +
          t.cols.map(col => s"${col.name} ${col.kind.derby}${if (col.nullable) "" else " NOT NULL"}")
            .mkString(", ") + s", PRIMARY KEY (${t.pk.mkString(", ")}))")
        val ps = c.prepareStatement(
          s"INSERT INTO ${t.name} VALUES (${t.cols.map(_ => "?").mkString(",")})")
        val r = new SplittableRandom(seed ^ (t.name.hashCode.toLong * 0x9e3779b97f4a7c15L))
        val values = new Array[Any](t.cols.length)
        var hash = 0L
        var bytes = 0L
        var nuls = 0L
        var i = 0
        while (i < t.rows) {
          var j = 0
          while (j < values.length) {
            val col = t.cols(j)
            val v = col.gen(r, i)
            values(j) = v
            setValue(ps, j + 1, col.kind, v)
            v match {
              case s: String if s.indexOf('\u0000') >= 0 => nuls += 1
              case _ => ()
            }
            j += 1
          }
          ps.addBatch()
          val line = refLine(values).getBytes(StandardCharsets.UTF_8)
          hash += lineHash(line)
          bytes += line.length + 1
          i += 1
          if (i % 2000 == 0) ps.executeBatch()
        }
        ps.executeBatch()
        ps.close()
        c.commit()
        t.name -> Expect(t.rows.toLong, hash, bytes, nuls)
      }.toMap
    } catch { case e: Throwable => c.rollback(); throw e }
    finally c.close()
  }

  /** Drop an in-memory Derby database (an untimed reset between runs). */
  def dropMemoryDb(url: String): Unit = {
    val base = url.split(';').head
    try DriverManager.getConnection(base + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby signals a drop with an exception
  }

  /** Read one table back through plain JDBC and return its content in the
    * reference encoding, for comparison with `Expect`. */
  def readBack(url: String, table: String): Expect = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = try c.createStatement().executeQuery(s"""SELECT * FROM "$table"""")
      catch { case _: java.sql.SQLException => return Expect(-1L, 0L, 0L, 0L) } // no such table
      val n = rs.getMetaData.getColumnCount
      val values = new Array[Any](n)
      var rows, hash, bytes = 0L
      while (rs.next()) {
        var j = 0
        while (j < n) { values(j) = fromJdbc(rs.getObject(j + 1)); j += 1 }
        val line = refLine(values, scrub = false).getBytes(StandardCharsets.UTF_8)
        hash += lineHash(line)
        bytes += line.length + 1
        rows += 1
      }
      Expect(rows, hash, bytes, 0L)
    } finally c.close()
  }
}
