package perfbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.cli.{JdbcCatalogSource, JdbcInsertSink, Migration}
import graft.config.{ConnConfig, GraftConfig}
import graft.ddlgen.DdlGen
import graft.io.{PgCopyLoad, PgCopyText}
import graft.transform.ValueTransforms
import SourceGen.{Catalog, Expect}

/** One migration workload: a seeded Derby source read by the program's
  * `JdbcCatalogSource`, migrated by `Migration.Runner` into either the
  * counting COPY sink or (with `derbyTarget`) a second Derby through
  * `JdbcInsertSink`, then verified by `Runner.compare` and by the
  * benchmark's own content check. */
final class MigrationBench(spark: SparkSession, o: Main.Opts, catalog: Catalog,
                           pageSize: Long, derbyTarget: Boolean,
                           runs: Int = 3, tag: String = "pb", fault: String = Fault.None,
                           tamper: String => Unit = _ => ()) extends Bench {
  import MigrationBench._

  private val cfg = GraftConfig(src = ConnConfig(database = SourceGen.Schema),
    pageSize = pageSize, maxParallel = o.cpus)
  private var main: Src = _
  private def source = main.source
  private def expect = main.expect
  private val tracer = new Tracer(spark.sparkContext)
  private val iters = mutable.ArrayBuffer[It]()
  private var warm: It = _
  private val splits = mutable.ArrayBuffer[Map[String, Double]]()
  private val splitFailures = mutable.ArrayBuffer[String]()
  private val tables = catalog.tables.map(_.name)
  /** Tables the TableData split covers: those read over more than one page. */
  private val splitTables = catalog.tables.filter(_.rows > pageSize).map(_.name)

  private var genS = Seq.empty[Double]
  private var warmS = 0.0

  private def generate(name: String): Src = {
    val url = s"jdbc:derby:memory:${tag}_$name;create=true"
    Src(catalog, url, SourceGen.create(url, catalog, o.seed),
      new JdbcCatalogSource(spark, cfg, Some(url)))
  }

  /** Generate the source once, with no warm-up (the self-check's set-up). */
  def prepare(): Unit = main = generate("src")

  /** The source is generated `SetupReps` times into fresh databases (all
    * but the last dropped) and the median generation time counts; then one
    * untimed warm-up migration of the measured source lets the JIT and
    * Spark's code generation settle. */
  def setup(): Double = {
    genS = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      if (main != null) SourceGen.dropMemoryDb(main.url)
      main = generate(s"src$r")
      (System.nanoTime() - t0) / 1e9
    }
    val t1 = System.nanoTime()
    warm = iteration(-1, traced = false)
    warmS = (System.nanoTime() - t1) / 1e9
    Stats.median(genS) + warmS
  }

  def measure(): Unit = {
    Loop.run(o.seconds, if (o.trace) 4 else runs) { i =>
      iters += iteration(i, traced = o.trace && Traced(i))
    }
    if (o.trace) (0 until SplitReps).foreach(r => splits += splitPass(r))
  }

  /** One migration and compare, checked. Everything before `run()` and
    * after `compare()` is untimed: the target reset, the content check
    * and, on traced iterations, the DDL-generation side pass. */
  def iteration(i: Int, traced: Boolean): It = {
    val tgtUrl = s"jdbc:derby:memory:${tag}_tgt_${i + 1};create=true"
    if (derbyTarget) java.sql.DriverManager.getConnection(tgtUrl).close() // booted untimed
    val sink0: Migration.MigrationSink =
      if (derbyTarget) new JdbcInsertSink(spark, tgtUrl, "", "")
      else new CopySink(s"$tag-it$i", fault)
    val (src, sink) =
      if (traced) (new TracedSource(source, tracer), new TracedSink(sink0, tracer))
      else (source, sink0)
    if (traced) tracer.begin(i)
    val runner = new Migration.Runner(spark, cfg, src, sink)
    val (report, cmp, runS, cmpS, cpuS) = Tag(spark, if (traced) i else -1) {
      val c0 = Stats.cpuS
      val t0 = System.nanoTime()
      val report = runner.run().collect()
      val t1 = System.nanoTime()
      val cmp = runner.compare().collect()
      (report, cmp, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, Stats.cpuS - c0)
    }
    if (derbyTarget) tamper(tgtUrl)
    val phases = report.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val content = catalog.tables.flatMap { t =>
      val e = expect(t.name)
      val got = sink0 match {
        case c: CopySink =>
          val ty = c.tally(t.name.toLowerCase)
          Expect(ty.rows.get, ty.hash.get, ty.bytes.get, 0L)
        case _ => SourceGen.readBack(tgtUrl, t.name.toLowerCase)
      }
      mismatch(t.name, got, e)
    }
    val cmpOk = cmp.count(r => r.getString(4) == "YES" && r.getLong(1) == expect(r.getString(0)).rows)
    val copy = sink0 match {
      case c: CopySink =>
        val ts = catalog.tables.map(t => c.tally(t.name.toLowerCase))
        (ts.map(_.transports.get).sum, ts.map(_.flushes.get).sum, ts.map(_.bytes.get).sum)
      case _ => (0L, 0L, 0L)
    }
    val ddlgen = if (traced) ddlGenPass() else (0.0, 0L)
    if (derbyTarget) SourceGen.dropMemoryDb(tgtUrl)
    It(i, traced, runS, cmpS, cpuS, phases, cmpOk, cmp.length, content, copy, ddlgen)
  }

  private def mismatch(table: String, got: Expect, e: Expect): Option[String] =
    if (got.rows == e.rows && got.hash == e.hash && got.bytes == e.bytes) None
    else Some(s"$table: ${got.rows}/${e.rows} rows, ${got.bytes}/${e.bytes} bytes, " +
      s"content hash ${if (got.hash == e.hash) "equal" else "differs"}")

  /** DdlGen over the live catalog, as the Sequence..Trigger phases call it;
    * returns (seconds, statements). */
  private def ddlGenPass(): (Double, Long) = {
    val t0 = System.nanoTime()
    val (kcu, rc) = source.foreignKeys
    val n = DdlGen.sequenceDdl(source.autoIncrements).collect().length * 3L +
      DdlGen.indexDdl(source.statistics, suffix = "g1", distributed = cfg.distributed)
        .collect().length +
      DdlGen.fkDdl(kcu, rc).collect().length +
      DdlGen.viewDdl(source.views, cfg.src.database).collect().length +
      DdlGen.triggerDdl(source.triggers).collect().length
    ((System.nanoTime() - t0) / 1e9, n)
  }

  /** TableData split four ways, each step one Spark job per table: the
    * page read alone into the `noop` sink; + `ValueTransforms`; +
    * `PgCopyText.encodeRow`; the full `PgCopyLoad.copyInto`. Jobs carry
    * iteration id `SplitIter + rep` and the step as their layer. */
  private def splitPass(rep: Int): Map[String, Double] = {
    val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
    val sc = spark.sparkContext
    def step(layer: String)(body: => Unit): Double = {
      sc.setLocalProperty(Trace.LayerProp, layer)
      val t0 = System.nanoTime()
      try Tag(spark, SplitIter + rep)(body)
      finally sc.setLocalProperty(Trace.LayerProp, null)
      (System.nanoTime() - t0) / 1e9
    }
    splitTables.foreach { t =>
      val raw = ValueTransforms.lowercaseColumns(source.tableData(t))
      val df = ValueTransforms.scrubNulAll(raw)
      acc("read") += step("split.read")(raw.write.format("noop").mode("overwrite").save())
      acc("transform") += step("split.transform")(df.write.format("noop").mode("overwrite").save())
      val bytes = sc.longAccumulator("perfbench-encoded-bytes")
      acc("encode") += step("split.encode")(df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach(r => bytes.add(PgCopyText.encodeRow(r).getBytes(StandardCharsets.UTF_8).length + 1L))
      })
      acc("encode_bytes") += bytes.value.toDouble
      val sinkId = s"$tag-split$rep"
      acc("copy") += step("split.copy")(
        PgCopyLoad.copyInto(df, t.toLowerCase, new CountingTransportFactory(sinkId)))
      val ty = Tallies.get(sinkId, t.toLowerCase)
      acc("copy_transports") += ty.transports.get
      acc("copy_flushes") += ty.flushes.get
      acc("copy_bytes") += ty.bytes.get
      mismatch(s"$t (split)", Expect(ty.rows.get, ty.hash.get, ty.bytes.get, 0L), expect(t))
        .foreach(splitFailures += _)
      if (rep == 0) {
        val nul = ValueTransforms.nulStats(raw).collect()
        acc("nul_values") += nul.headOption.fold(0.0)(r =>
          (0 until r.length).map(j => r.getLong(j).toDouble).sum)
      }
    }
    acc.toMap
  }

  def result(setupS: Double, listener: Option[JobListener]): Result = {
    val measured = iters.toSeq
    val untraced = measured.filterNot(_.traced)
    val traced = measured.filter(_.traced)
    val checked = warm +: measured
    val failures = checked.flatMap(_.problems) ++ splitFailures
    val rows = catalog.tables.map(_.rows.toLong).sum
    val copyMb = expect.values.map(_.bytes).sum / 1048576.0
    val lines = mutable.ArrayBuffer[String]()
    lines += f"input: ${tables.size} tables, $rows rows, $copyMb%.2f MB of COPY text " +
      f"(reference encoding), ${expect.values.map(_.nulValues).sum} NUL-bearing values; " +
      s"pageSize=$pageSize, maxParallel=${cfg.maxParallel}, local[${o.cpus}]"
    lines += f"setup_s $setupS%.3f s: Spark start ${setupS - Stats.median(genS) - warmS}%.3f s, " +
      f"source generation ${Stats.median(genS)}%.3f s (median of ${genS.map(g => f"$g%.3f").mkString(", ")}), " +
      f"warm-up migration $warmS%.3f s"
    def med(f: It => Double, its: Seq[It] = untraced) = Stats.median(its.map(f))
    lines += f"migrate_s ${med(_.migrateS)}%.3f s   compare_s ${med(_.compareS)}%.3f s   " +
      f"ddl_s ${med(_.ddlS)}%.3f s   (median of ${untraced.size}; walls " +
      untraced.map(it => f"${it.wallS}%.2f").mkString(" ") + " s, CPU " +
      untraced.map(it => f"${it.cpuS}%.2f").mkString(" ") + " s)"
    lines += f"rows_per_s ${med(it => rows / it.dataS)}%.0f rows/s   " +
      f"failed_share ${med(_.failedShare)}%.4f   target ${if (derbyTarget) "Derby via JdbcInsertSink" else "counting COPY transport"}"
    failures.distinct.take(10).foreach(f => lines += s"CHECK FAILED: $f")
    val e2e = Seq(
      M("setup_s", setupS, "s"),
      M("wall_s", Stats.mean(untraced.map(_.wallS)), "s"),
      M("ok_share", med(1 - _.failedShare), "ratio"),
      M("peak_rss_mb", Stats.peakRssMb, "MB"))
    val layers = listener.map { l =>
      tracer.write(s"${o.work}/spans.jsonl")
      layerMetrics(new SparkCounts(l), untraced, traced, lines)
    }.getOrElse(Map.empty)
    Result(failures.isEmpty, measured.size, measured.count(_.problems.nonEmpty), e2e,
      Layers.complete(layers), lines.toSeq)
  }

  private def layerMetrics(sc: SparkCounts, untraced: Seq[It], traced: Seq[It],
                           lines: mutable.ArrayBuffer[String]): Map[String, Double] = {
    val m = mutable.Map[String, Double]()
    def med(xs: Seq[Double]) = Stats.median(xs)
    val n = tables.size.toDouble
    val rows = catalog.tables.map(_.rows.toLong).sum.toDouble
    m("cli.migrate_s") = med(untraced.map(_.migrateS))
    m("verify.compare_s") = med(untraced.map(_.compareS))
    m("cli.ddl_s") = med(untraced.map(_.ddlS))
    m("cli.rows_per_s") = med(untraced.map(rows / _.dataS))
    m("cli.failed_share") = med(untraced.map(_.failedShare))
    Layers.Phases.foreach(p => m(s"cli.phase_s.$p") = med(traced.map(_.phases(p)._3 / 1e3)))

    val perIter = traced.map { it =>
      val probes = tracer.of(it.i, "catalog", "probe")
      val writes = tracer.of(it.i, "io", "write")
      val tableMs = probes.flatMap(p => writes.find(_.key == p.key.toLowerCase)
        .map(w => (w.endNs - p.startNs) / 1e6))
      val ddl = tracer.of(it.i, "io", "ddl")
      val catalogCalls = tracer.spans.toArray(Array.empty[Span])
        .count(s => s.iter == it.i && s.layer == "catalog")
      val dataJobs = sc.jobsOf(it.i, _.pool == "graft-data")
      val cmpJobs = sc.jobsOf(it.i, _.pool == "graft-compare")
      val x = mutable.Map[String, Double]()
      x("cli.in_flight_mean") = tableMs.sum / it.phases("TableData")._3
      x("cli.catalog_calls") = catalogCalls
      x("cli.columns_calls_per_table") = tracer.of(it.i, "catalog", "columns").size / n
      x("spark.jobs_per_table") = dataJobs.size / n
      x("verify.jobs") = cmpJobs.size
      x("verify.records_read") = sc.tasksOf(cmpJobs).map(_.recordsRead).sum
      x("io.ddl_statements") = ddl.size
      x("io.ddl_failed") = ddl.count(!_.ok)
      if (derbyTarget) {
        x("io.insert_s") = writes.map(_.ms).sum / 1e3
        x("io.insert_jobs_per_table") = sc.jobsOf(it.i, _.layer == "io.write").size / n
      } else {
        x("io.copy_transports") = it.copy._1
        x("io.copy_flushes") = it.copy._2
        x("io.copy_flush_kb_mean") = if (it.copy._2 == 0) 0 else it.copy._3 / 1024.0 / it.copy._2
      }
      x("ddlgen.s") = it.ddlgen._1
      x("ddlgen.statements") = it.ddlgen._2
      x ++= sc.engine(it.i)
      (x.toMap, tableMs, probes.map(_.ms), ddl.map(_.ms), (dataJobs.size, cmpJobs.size))
    }
    perIter.flatMap(_._1.keys).distinct.foreach(k => m(k) = med(perIter.map(_._1.getOrElse(k, 0.0))))
    m("cli.table_ms_p50") = Stats.pct(perIter.flatMap(_._2), 0.5)
    m("cli.table_ms_p95") = Stats.pct(perIter.flatMap(_._2), 0.95)
    m("cli.probe_ms_p50") = Stats.pct(perIter.flatMap(_._3), 0.5)
    m("io.ddl_stmt_ms_p50") = Stats.pct(perIter.flatMap(_._4), 0.5)
    m("io.ddl_stmt_ms_p95") = Stats.pct(perIter.flatMap(_._4), 0.95)
    val jobCounts = perIter.map(_._5).distinct
    m("trace.jobs_repeat") = if (jobCounts.size == 1) 1.0 else 0.0
    lines += s"per-table Spark jobs (TableData, compare) over ${perIter.size} traced runs: " +
      jobCounts.map { case (d, c) => f"(${d / n}%.2f, ${c / n}%.2f)" }.mkString(" ") +
      (if (jobCounts.size == 1) " - repeats exactly" else " - DIFFERS between runs")
    traced.headOption.foreach { it =>
      def byLayer(pool: String) = sc.jobsOf(it.i, _.pool == pool).groupBy(_.layer).toSeq.sortBy(_._1)
        .map { case (l, js) => f"${if (l.isEmpty) "runner" else l} ${js.size / n}%.2f" }.mkString(", ")
      lines += s"  by layer, TableData: ${byLayer("graft-data")}; compare: ${byLayer("graft-compare")}"
    }
    m("trace.overhead_share") =
      med(traced.map(_.wallS)) / med(untraced.map(_.wallS)) - 1

    lines += s"TableData split over ${splitTables.size} multi-page tables (${splitTables.mkString(", ")}), " +
      s"$SplitReps times; io.* figures from the split, io.copy_* of the migrations where they write with COPY"
    if (splits.nonEmpty) {
      def sm(k: String) = med(splits.map(_.getOrElse(k, 0.0)).toSeq)
      m("io.read_s") = sm("read")
      m("transform.s") = sm("transform") - sm("read")
      m("io.encode_s") = sm("encode") - sm("transform")
      m("io.copy_s") = sm("copy") - sm("encode")
      m("io.encode_bytes") = sm("encode_bytes")
      m("io.encode_bytes_per_row") =
        sm("encode_bytes") / catalog.tables.filter(t => splitTables.contains(t.name)).map(_.rows).sum
      m("transform.nul_values") = splits.head.getOrElse("nul_values", 0.0)
      val readJobs = (0 until SplitReps).flatMap(r => sc.jobsOf(SplitIter + r, _.layer == "split.read"))
      val pageTasks = readJobs.map(j => sc.tasksOf(Seq(j)).sortBy(_.partition))
      m("catalog.pages") = pageTasks.map(_.size).sum.toDouble / SplitReps
      m("catalog.page_ms_p50") = Stats.pct(pageTasks.flatten.map(_.durationMs.toDouble), 0.5)
      m("catalog.page_ms_max") = pageTasks.flatten.map(_.durationMs.toDouble).maxOption.getOrElse(0.0)
      m("catalog.page_growth") = med(pageTasks.filter(_.size > 1)
        .map(ts => ts.last.durationMs.toDouble / math.max(1L, ts.head.durationMs)))
      m("io.read_rows") = pageTasks.flatten.map(_.recordsRead).sum.toDouble / SplitReps
      if (derbyTarget) { // the migrations write with INSERT: COPY figures from the split's copy step
        m("io.copy_transports") = sm("copy_transports")
        m("io.copy_flushes") = sm("copy_flushes")
        m("io.copy_flush_kb_mean") =
          if (sm("copy_flushes") == 0) 0 else sm("copy_bytes") / 1024.0 / sm("copy_flushes")
      }
    }
    if (derbyTarget) lines += "io.copy_transports, io.copy_flushes, io.copy_flush_kb_mean: " +
      "from the split's copy step - the migrations write with INSERT, not COPY"
    else lines += "absent (0): io.insert_* - this workload writes with COPY, not INSERT"
    lines += "absent (0): operators.* - the parity queries run on parity_queries only"
    m.toMap
  }
}

object MigrationBench {
  /** Traced runs in the pattern U T T U: balanced against the drift of a
    * JIT that is still settling. */
  def Traced(i: Int): Boolean = i % 4 == 1 || i % 4 == 2
  val SetupReps = 3
  val SplitReps = 3

  /** A generated source: its catalog, the reference content per table and
    * the program's catalog source over it. */
  final case class Src(catalog: Catalog, url: String, expect: Map[String, Expect],
                       source: JdbcCatalogSource)
  val SplitIter = 1000000

  final case class It(i: Int, traced: Boolean, migrateS: Double, compareS: Double, cpuS: Double,
                      phases: Map[String, (Long, Long, Long)], cmpOk: Int, cmpRows: Int,
                      content: Seq[String], copy: (Long, Long, Long),
                      ddlgen: (Double, Long)) {
    def wallS: Double = migrateS + compareS
    def dataS: Double = phases("TableData")._3 / 1e3
    def ddlS: Double = Layers.Phases.filter(_ != "TableData").map(p => phases(p)._3).sum / 1e3
    private def attempted = phases.values.map(_._1).sum + cmpRows
    private def failed = phases.values.map(_._2).sum + (cmpRows - cmpOk) + content.size
    /** Objects the program reports failed plus tables failing the content
      * check, over objects attempted (catalog objects and compare rows). */
    def failedShare: Double = math.min(failed, attempted).toDouble / attempted
    /** What makes a run incorrect: data that did not arrive intact, a
      * compare row that is not OK, or a table the program could not create
      * or load. DDL failures of the later phases are Derby's (see README). */
    def problems: Seq[String] =
      content ++
        (if (cmpOk < cmpRows) Seq(s"compare: ${cmpRows - cmpOk} of $cmpRows tables not OK") else Nil) ++
        Seq("TableStructure", "TableData").filter(p => phases(p)._2 > 0)
          .map(p => s"$p: ${phases(p)._2} of ${phases(p)._1} failed")
  }
}
