package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's pagination planner (cmd/root.go:335-386) re-thought for
  * Spark.
  *
  * The reference splits each table into `ceil(count/pageSize)` pages and
  * extracts each page with the "deferred join" trick
  * (`SELECT t.* FROM (SELECT pk ... LIMIT off,n) temp LEFT JOIN t ...`,
  * cmd/root.go:382). Here every keyed table takes one keyset plan instead:
  * an ordered key-only scan keeps every `pageSize`-th key as a page
  * boundary, and each page becomes a seek range on the key
  * (`key > b(i-1) AND key <= b(i)`) — a JDBC partition predicate, so pages
  * map 1:1 onto Spark tasks with no OFFSET at all (DELTAS.md §6).
  */
object Pagination {

  /** Comment marker prefixed to every generated page/probe SQL — the
    * reference prefixes a "gomysql2pg" block comment (root.go:373,394) —
    * so the source database's PROCESSLIST can identify, and on cancel
    * kill, graft's in-flight queries. */
  val SqlTag = "/* gomysql2pgspark */"

  /** Page math (cmd/root.go:373-379): ceil(count/pageSize) pages; a table
    * always yields at least one page (root.go:381 uses `<=`). */
  def pageCount(rows: Long, pageSize: Long): Long =
    math.max(1L, (rows + pageSize - 1) / pageSize)

  /** Keyset page predicates over `pkCols` for boundary keys `bounds`
    * (each a tuple of rendered SQL literals, ascending): `bounds.size + 1`
    * pages, the first open below and the last open above, so a key
    * outside the scanned range still lands in exactly one page. Composite
    * keys use the expanded OR/AND form of the row comparison, which every
    * dialect accepts, led by a redundant bound on the first key column
    * that lets the source seek its index. These feed
    * `spark.read.jdbc(url, table, predicates, props)` — one scan relation,
    * one Spark task per page. */
  def keysetPredicates(pkCols: Seq[String], bounds: Seq[Seq[String]]): Array[String] = {
    val n = pkCols.size
    // key vs b: (c1 op b1) OR (c1 = b1 AND c2 op b2) OR ..., where the last
    // column compares with `last` and the others with `strict`
    def compare(b: Seq[String], strict: String, last: String): String = {
      val terms = (0 until n).map { i =>
        (pkCols.take(i).zip(b).map { case (c, v) => s"$c = $v" } :+
          s"${pkCols(i)} ${if (i == n - 1) last else strict} ${b(i)}").mkString(" AND ")
      }
      if (n == 1) terms.head
      else s"${pkCols.head} $strict= ${b.head} AND ${terms.mkString("((", ") OR (", "))")}"
    }
    val lower = None +: bounds.map(b => Some(compare(b, ">", ">")))
    val upper = bounds.map(b => Some(compare(b, "<", "<="))) :+ None
    lower.zip(upper).map { case (lo, hi) =>
      val range = (lo ++ hi).map(p => s"($p)")
      s"$SqlTag ${if (range.isEmpty) "1 = 1" else range.mkString(" AND ")}"
    }.toArray
  }

  /** SQL literal of a key value read as text, by JDBC type: numbers as-is,
    * strings quoted with `'` doubled (and `\` doubled on MySQL, whose
    * default sql_mode treats it as an escape), dates and times as JDBC
    * escapes. None for any other type (binary, floating point, ...). */
  def keyLiteral(sqlType: Int, mysql: Boolean): Option[String => String] = {
    import java.sql.Types._
    sqlType match {
      case TINYINT | SMALLINT | INTEGER | BIGINT | DECIMAL | NUMERIC => Some(v => v)
      case CHAR | VARCHAR | LONGVARCHAR | NCHAR | NVARCHAR | LONGNVARCHAR => Some { v =>
        val quoted = v.replace("'", "''")
        s"'${if (mysql) quoted.replace("\\", "\\\\") else quoted}'"
      }
      case DATE      => Some(v => s"{d '$v'}")
      case TIME      => Some(v => s"{t '$v'}")
      case TIMESTAMP => Some(v => s"{ts '$v'}")
      case _         => None
    }
  }

  /** The deferred-join *operator* itself as a DataFrame transform (the J1
    * shape, for the correctness gate): take the `offset..offset+n` slice of
    * `df` ordered by `pkCols`, then left-join the full rows back on the PK.
    *
    * Scale notes: the PK-slice side is tiny (≤ pageSize rows) so it is
    * broadcast — the big side never shuffles; `orderBy.limit` compiles to
    * TakeOrderedAndProject (global top-k without a global sort).
    */
  def deferredJoinPage(df: DataFrame, pkCols: Seq[String], offset: Long,
                       pageSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = pkCols.map(col)
    // Key slice: global top-(offset+n) on the PK — TakeOrderedAndProject
    // (no global sort), then row_number to drop the first `offset`. The
    // single-partition window is over ≤ offset+n *key-only* rows, which the
    // LIMIT/OFFSET contract bounds by construction; the scale path for deep
    // pages is keysetPredicates, not this operator.
    val rn = row_number().over(Window.orderBy(keys: _*))
    val slice = df.select(keys: _*)
      .orderBy(keys: _*)
      .limit((offset + pageSize).toInt)
      .withColumn("__rn", rn)
      .filter(col("__rn") > offset)
      .drop("__rn")
    // Broadcast semi-join: the big side never shuffles.
    df.join(broadcast(slice), pkCols, "left_semi")
  }
}
