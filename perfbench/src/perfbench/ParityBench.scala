package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The 19-query parity subset through `SparkEntry.queries`, over seeded
  * parquet tables, each query written to the `noop` sink, in an order the
  * seed permutes. The untimed warm-up pass writes every result as parquet
  * for the oracle comparison run.py makes with DuckDB afterwards. */
final class ParityBench(spark: SparkSession, o: Main.Opts, scale: Double = ParityBench.Scale)
    extends Bench {
  import ParityBench._

  private val dir = s"${o.work}/parity"
  private val queries = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql
  private val passes = mutable.ArrayBuffer[(Boolean, Map[String, Double])]()
  private val passCpu = mutable.ArrayBuffer[(Boolean, Double)]()
  private val tracer = new Tracer(spark.sparkContext)
  val errors = mutable.ArrayBuffer[String]()
  private val sizes = ParityData.sizes(scale)

  def setup(): Double = {
    val t0 = System.nanoTime()
    ParityData.generate(spark, dir, o.seed, scale)
    Layers.ParityNames.foreach { q =>
      try queries(q)(spark, dir).write.mode("overwrite").parquet(s"${o.work}/parity_out/$q")
      catch { case e: Exception => errors += s"$q: ${e.getMessage}" }
    }
    val json = Layers.ParityNames.map(q => s"  ${Json.quote(q)}: ${Json.quote(oracle(q))}")
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(s"${o.work}/parity_oracle.json"), json.getBytes(StandardCharsets.UTF_8))
    // A second untimed pass, as measured: without it the first measured pass
    // still carries much of the JIT's warm-up and spreads the most.
    Layers.ParityNames.foreach(q => queries(q)(spark, dir).write.format("noop").mode("overwrite").save())
    (System.nanoTime() - t0) / 1e9
  }

  def measure(): Unit =
    Loop.run(o.seconds, if (o.trace) 4 else Passes) { i =>
      val traced = o.trace && MigrationBench.Traced(i)
      val order = new scala.util.Random(o.seed * 7919 + i).shuffle(Layers.ParityNames)
      val c0 = Stats.cpuS
      if (traced) tracer.begin(i)
      val times = Tag(spark, if (traced) i else -1) {
        order.map { q =>
          def run(): Unit = queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
          val t0 = System.nanoTime()
          if (traced) tracer.span("operators", q)(run())() else run()
          q -> (System.nanoTime() - t0) / 1e9
        }
      }
      passes += traced -> times.toMap
      passCpu += traced -> (Stats.cpuS - c0)
    }

  def result(setupS: Double, listener: Option[JobListener]): Result = {
    val untraced = passes.filterNot(_._1).map(_._2.values.sum).toSeq
    val lines = mutable.ArrayBuffer[String]()
    lines += s"input: " + sizes.toSeq.sorted.map { case (t, n) => s"$t=$n" }.mkString(", ") +
      s" rows (scale $scale of the sf1 row counts), local[${o.cpus}]"
    lines += f"queries_s ${Stats.median(untraced)}%.3f s (median of ${untraced.size} passes over 19 queries; " +
      "walls " + untraced.map(w => f"$w%.2f").mkString(" ") + " s, CPU " +
      passCpu.filterNot(_._1).map(c => f"${c._2}%.2f").mkString(" ") + " s)"
    errors.foreach(e => lines += s"CHECK FAILED: $e")
    val e2e = Seq(
      M("setup_s", setupS, "s"),
      M("wall_s", Stats.mean(untraced), "s"),
      M("ok_share", 1.0 - errors.size / 19.0, "ratio"),
      M("peak_rss_mb", Stats.peakRssMb, "MB"))
    val layers = listener.map { l =>
      tracer.write(s"${o.work}/spans.jsonl")
      val sc = new SparkCounts(l)
      val traced = passes.zipWithIndex.filter(_._1._1)
      val m = mutable.Map[String, Double]()
      Layers.ParityNames.foreach(q =>
        m(s"operators.query_s.$q") = Stats.median(traced.map(_._1._2(q)).toSeq))
      m("operators.queries_s") = Stats.median(traced.map(_._1._2.values.sum).toSeq)
      val engine = traced.map { case (_, i) => sc.engine(i) }.toSeq
      engine.flatMap(_.keys).distinct.foreach(k => m(k) = Stats.median(engine.map(_(k))))
      m("trace.jobs_repeat") = if (engine.map(_("spark.jobs")).distinct.size == 1) 1.0 else 0.0
      m("trace.overhead_share") = m("operators.queries_s") / Stats.median(untraced) - 1
      lines += "absent (0): catalog.*, cli.*, transform.*, io.*, ddlgen.*, verify.* - " +
        "parity_queries runs no migration"
      m.toMap
    }.getOrElse(Map.empty)
    Result(errors.isEmpty, passes.size, 0, e2e, Layers.complete(layers), lines.toSeq)
  }
}

object ParityBench {
  /** 0.01 of the sf1 row counts: 60k lineitem rows, a tenth of the
    * project's sf0.1 testdata. A pass costs about eight seconds on four
    * cores either way, nearly all of it per-query planning and scheduling. */
  val Scale = 0.01
  /** Measured passes of an untraced run: three take longer than the run
    * length, so every run measures the same number. */
  val Passes = 3
}
