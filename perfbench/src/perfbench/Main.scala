package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of the migration benchmark (run through perfbench/run.py).
  *
  *   --workload bulk_copy|many_tables|parity_queries
  *   --seed N --seconds S --trace 0|1 --work DIR --out FILE [--cpus N]
  *   --selfcheck
  *
  * One process, one migration (or one query pass) at a time: a closed loop
  * that repeats the workload's operation a fixed number of times, and
  * longer if `--seconds` have not passed yet, and reports the mean wall
  * time of the measured operations and medians of the rest. The result
  * goes to `--out` as JSON. */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10,
                        trace: Boolean = false, work: String = "", out: String = "",
                        cpus: Int = 4, selfcheck: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--cpus" :: v :: t => parse(t, o.copy(cpus = v.toInt))
    case "--selfcheck" :: t => parse(t, o.copy(selfcheck = true))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(o.work.nonEmpty && o.out.nonEmpty, "--work and --out are required")
    val t0 = System.nanoTime()
    val spark = session(o)
    val sparkStartS = (System.nanoTime() - t0) / 1e9
    val listener = if (o.trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val bench: Bench =
      if (o.selfcheck) new SelfCheck(spark, o)
      else o.workload match {
        case "bulk_copy" => new MigrationBench(spark, o, Shapes.bulkCopy(1.0),
          Shapes.bulkCopyPageSize, derbyTarget = false, runs = 6)
        case "many_tables" => new MigrationBench(spark, o, Shapes.manyTables(), Shapes.manyTablesPageSize,
          derbyTarget = true, runs = 5)
        case "parity_queries" => new ParityBench(spark, o)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    val setupS = sparkStartS + bench.setup()
    val (steal0, total0) = Stats.cpuJiffies
    bench.measure()
    val (steal1, total1) = Stats.cpuJiffies
    spark.stop() // drains the listener bus: every job and task event is in
    val r = bench.result(setupS, listener)
    val res = r.copy(lines = r.lines :+ f"host steal during the measured runs: " +
      f"${100.0 * (steal1 - steal0) / math.max(1L, total1 - total0)}%.1f%% of CPU time")
    Files.write(Paths.get(o.out), res.toJson.getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case '\r' => "\\r"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** One metric with its unit. */
final case class M(name: String, value: Double, unit: String)

final case class Result(correct: Boolean, attempted: Int, failed: Int,
                        endToEnd: Seq[M], layers: Seq[M], lines: Seq[String]) {
  private def q(s: String) = Json.quote(s)
  private def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
  private def obj(ms: Seq[M]) = ms.map(m =>
    s"${q(m.name)}: {\"value\": ${num(m.value)}, \"unit\": ${q(m.unit)}}").mkString("{", ", ", "}")
  def toJson: String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""end_to_end": ${obj(endToEnd)}, "per_layer": ${obj(layers)}, """ +
      s""""lines": ${lines.map(q).mkString("[", ", ", "]")}}"""
}

trait Bench {
  /** Untimed preparation after the Spark session starts; returns seconds. */
  def setup(): Double
  /** The timed closed loop. */
  def measure(): Unit
  /** Metrics, after the session has stopped. */
  def result(setupS: Double, listener: Option[JobListener]): Result
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Linear-interpolated percentile; 0 for an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  /** CPU seconds this JVM has used, all threads. */
  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  /** (steal, total) jiffies of all CPUs: how much time the hypervisor
    * took from this machine, which says "box" rather than "code". */
  def cpuJiffies: (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.sum)
    } finally f.close()
  }
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Aggregates of the listener's records for a set of iterations. */
final class SparkCounts(l: JobListener) {
  private val byJob = l.tasksByJob
  private val jobs = l.jobs.asScala.toSeq

  def jobsOf(iter: Int, f: JobRec => Boolean = _ => true): Seq[JobRec] =
    jobs.filter(j => j.iter == iter && f(j))
  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = js.flatMap(j => byJob.getOrElse(j, Nil))

  /** Engine totals of one iteration. */
  def engine(iter: Int): Map[String, Double] = {
    val js = jobsOf(iter)
    val ts = tasksOf(js)
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.records_read" -> ts.map(_.recordsRead).sum.toDouble,
      "spark.task_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "spark.peak_exec_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / 1048576.0))
  }
}

/** Runs `body` with the listener's iteration tag set on this thread (and
  * so on the worker threads it creates). */
object Tag {
  def apply[A](spark: SparkSession, iter: Int)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.IterProp, iter.toString)
    try body finally sc.setLocalProperty(Trace.IterProp, null)
  }
}

object Loop {
  /** Closed loop: run `op(i)` back to back until `seconds` have passed and
    * at least `min` runs are done. The workloads choose `min` so that the
    * runs take longer than the benchmark's run length, which keeps the
    * number of measured runs, and so how far the JIT has warmed, the same
    * from run to run. */
  def run(seconds: Int, min: Int)(op: Int => Unit): Int = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (i < min || System.nanoTime() < deadline) { op(i); i += 1 }
    i
  }
}
