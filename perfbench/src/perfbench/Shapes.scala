package perfbench

import SourceGen._

/** The source catalogs of the migration workloads. Row counts are fixed,
  * so every seed migrates the same amount of data; the seed changes only
  * the values. Sizes are chosen so that one migration plus its compare
  * takes one to three seconds on four cores, which lets a ten-second run
  * measure several of them. */
object Shapes {

  private val intKey: Gen = (_, i) => Integer.valueOf(i + 1)

  /** A few wide tables with a single numeric key: the range-page path,
    * with values that exercise every COPY escape, a 5% share of NUL-bearing
    * strings, NULLs, decimals, timestamps and BLOBs. Read, transform and
    * encode do nearly all the work. */
  def bulkCopy(scale: Double): Catalog = Catalog(Seq(
    Table("WIDE_A", Seq(
      Col("ID", BigintK, nullable = false, seqKey),
      Col("NAME", VarcharK(48), nullable = false, text(8, 48)),
      Col("NOTE", VarcharK(160), nullable = true, text(20, 160, nulShare = 0.05, nullShare = 0.1)),
      Col("AMOUNT", DecimalK(12, 2), nullable = false, decimal(2, 9999999999L)),
      Col("RATE", DecimalK(18, 6), nullable = true, decimal(6, 999999999999L, nullShare = 0.1)),
      Col("CREATED", TimestampK, nullable = false, timestamp()),
      Col("QTY", IntK, nullable = true, int(100000, nullShare = 0.1)),
      Col("PAYLOAD", BlobK(256), nullable = true, blob(16, 128, nullShare = 0.2))),
      pk = Seq("ID"), rows = (16000 * scale).toInt),
    Table("WIDE_B", Seq(
      Col("ID", BigintK, nullable = false, seqKey),
      Col("CODE", VarcharK(16), nullable = false, text(16, 16)),
      Col("TITLE", VarcharK(96), nullable = false, text(10, 96)),
      Col("BODY", VarcharK(400), nullable = true, text(50, 400, nulShare = 0.05, nullShare = 0.05)),
      Col("PRICE", DecimalK(12, 2), nullable = false, decimal(2, 99999999L)),
      Col("UPDATED", TimestampK, nullable = true, timestamp(nullShare = 0.1)),
      Col("FLAGS", IntK, nullable = false, int(1 << 20))),
      pk = Seq("ID"), rows = (10000 * scale).toInt),
    Table("WIDE_C", Seq(
      Col("ID", BigintK, nullable = false, seqKey),
      Col("LABEL", VarcharK(32), nullable = false, text(4, 32, nulShare = 0.05)),
      Col("DATA", BlobK(1024), nullable = false, blob(64, 512)),
      Col("CHECKSUM", VarcharK(64), nullable = false, text(64, 64)),
      Col("TOTAL", DecimalK(18, 6), nullable = false, decimal(6, 999999999999L)),
      Col("TS", TimestampK, nullable = false, timestamp())),
      pk = Seq("ID"), rows = (6000 * scale).toInt)))
  val bulkCopyPageSize = 2000L

  /** Payload of the paged tables. NOT NULL throughout: their target is
    * Derby, which rejects the explicit `null` constraint the program emits
    * for nullable columns. */
  private def payload: Seq[Col] = Seq(
    Col("LABEL", VarcharK(40), nullable = false, text(4, 40)),
    Col("AMOUNT", DecimalK(12, 2), nullable = false, decimal(2, 9999999999L)),
    Col("TS", TimestampK, nullable = false, timestamp()),
    Col("NOTE", VarcharK(120), nullable = false, text(10, 120, nulShare = 0.05)))

  /** Tables read over several pages: a composite `(int,int)` key and a
    * string key take the deferred-join page predicates, and a skewed
    * numeric key takes the range pages: 90% of its keys are dense, the rest
    * are spread over a range a thousand times wider, so most range pages
    * are empty and one holds most rows. Derby evaluates the correlated
    * EXISTS page predicate once per outer row, so the deferred-join read
    * cost grows with rows times pages. */
  def paged(scale: Double): Seq[Table] = Seq(
    Table("COMP_A", Seq(
      Col("K1", IntK, nullable = false, (_, i) => Integer.valueOf(i / 24)),
      Col("K2", IntK, nullable = false, (_, i) => Integer.valueOf((i % 24) * 3 + 1))) ++ payload,
      pk = Seq("K1", "K2"), rows = (240 * scale).toInt),
    Table("STR_B", Col("CODE", VarcharK(24), nullable = false,
      (_, i) => f"C-${SourceGen.mix(i.toLong)}%016x") +: payload,
      pk = Seq("CODE"), rows = (160 * scale).toInt),
    Table("SPARSE_C", Col("ID", BigintK, nullable = false, (_, i) =>
      java.lang.Long.valueOf(if (i < 540) i + 1L else 540L + (i - 539L) * (i - 539L) * 1000L)) +:
      payload, pk = Seq("ID"), rows = (600 * scale).toInt))

  /** Many small tables with everything the DDL phases read: an
    * auto-increment key, a secondary and a unique index, a foreign key to
    * the previous table, and a view and a trigger on every fifth table;
    * plus the `paged` tables. Every column is NOT NULL (see `payload`). */
  def manyTables(n: Int = 5, rows: Int = 50, pagedScale: Double = 1.0): Catalog = {
    def name(i: Int) = f"M_$i%03d"
    val tables = (1 to n).map { i =>
      Table(name(i), Seq(
        Col("ID", IntK, nullable = false, intKey),
        Col("PARENT_ID", IntK, nullable = false, (r, _) => Integer.valueOf(1 + r.nextInt(rows))),
        Col("NAME", VarcharK(40), nullable = false, text(4, 40)),
        Col("AMOUNT", DecimalK(10, 2), nullable = false, decimal(2, 99999999L)),
        Col("CREATED", TimestampK, nullable = false, timestamp()),
        Col("NOTE", VarcharK(80), nullable = false, text(0, 80, nulShare = 0.05))),
        pk = Seq("ID"), rows = rows, autoInc = true,
        indexes = Seq(Index(s"IX_${name(i)}_NAME", Seq("NAME"), unique = false),
          Index(s"UX_${name(i)}_ID_NAME", Seq("ID", "NAME"), unique = true)),
        fks = if (i == 1) Nil else Seq(Fk(s"FK_${name(i)}_PARENT", "PARENT_ID", name(i - 1), "ID")))
    }
    val every5 = (5 to n by 5).map(name)
    Catalog(tables ++ paged(pagedScale),
      views = every5.map(t => s"V_$t" ->
        s"select `ID`, convert(`NAME` using utf8mb4) from $Schema.`$t` where `AMOUNT` > 0"),
      triggers = every5.map(t => s"TR_$t" ->
        "#audit the note\nBEGIN\n  SET NEW.NOTE = concat('x', NEW.NOTE);\nEND"))
  }
  val manyTablesPageSize = 60L
}
