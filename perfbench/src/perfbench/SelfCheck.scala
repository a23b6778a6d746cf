package perfbench

import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's own self-check: a clean migration must pass the content
  * check, and one with an injected fault (a dropped row or a corrupted
  * value, on the COPY path and on the INSERT path) must fail it; and the
  * parity queries must run. Run with `python3 perfbench/run.py --selfcheck`.
  * The build also records its class-data-sharing archive from this run. */
final class SelfCheck(spark: SparkSession, o: Main.Opts) extends Bench {
  private val copyCatalog = SourceGen.Catalog(Seq(
    Shapes.bulkCopy(1.0).tables.head.copy(rows = 2000),
    Shapes.paged(1.0).head.copy(rows = 300)))
  private val insertCatalog = Shapes.manyTables(n = 2, pagedScale = 0.25)

  private def sql(stmt: String)(url: String): Unit = {
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(stmt) finally c.close()
  }

  /** (case, expected to pass the check, workload). */
  private lazy val cases: Seq[(String, Boolean, MigrationBench)] = {
    def copy(tag: String, fault: String) =
      new MigrationBench(spark, o, copyCatalog, 500L, derbyTarget = false,
        tag = tag, fault = fault)
    def insert(tag: String, tamper: String => Unit) =
      new MigrationBench(spark, o, insertCatalog, 20L, derbyTarget = true,
        tag = tag, tamper = tamper)
    Seq(
      ("COPY path, clean", true, copy("sc_copy", Fault.None)),
      ("COPY path, one row dropped in the transport", false, copy("sc_drop", Fault.DropRow)),
      ("COPY path, one byte corrupted in the transport", false, copy("sc_corrupt", Fault.CorruptValue)),
      ("INSERT path, clean", true, insert("sc_ins", _ => ())),
      ("INSERT path, one target row deleted", false,
        insert("sc_del", sql("""DELETE FROM "m_002" WHERE "id" = 7"""))),
      ("INSERT path, one target value changed", false,
        insert("sc_upd", sql("""UPDATE "m_001" SET "name" = 'tampered' WHERE "id" = 3"""))))
  }
  private var outcomes: Seq[(String, Boolean, Seq[String])] = Nil

  def setup(): Double = 0.0

  def measure(): Unit = {
    outcomes = cases.map { case (name, shouldPass, bench) =>
      bench.prepare()
      val it = bench.iteration(0, traced = false)
      (name, shouldPass, it.problems)
    }
    // the parity queries must at least run; their oracle check is run.py's
    val parity = new ParityBench(spark, o, scale = 0.001)
    parity.setup()
    outcomes :+= (("parity queries at scale 0.001 run", true, parity.errors.toSeq))
  }

  def result(setupS: Double, listener: Option[JobListener]): Result = {
    val lines = mutable.ArrayBuffer[String]()
    val good = outcomes.map { case (name, shouldPass, problems) =>
      val ok = problems.isEmpty == shouldPass
      lines += s"${if (ok) "ok  " else "FAIL"} $name: " +
        (if (problems.isEmpty) "check passed" else "check failed (" + problems.mkString("; ") + ")")
      ok
    }
    Result(good.forall(identity), good.size, good.count(!_),
      Seq(M("setup_s", setupS, "s")), Nil, lines.toSeq)
  }
}
