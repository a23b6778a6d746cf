package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame

import graft.cli.Migration
import graft.types.ColumnMeta

/** Outside-in tracing: spans recorded around the calls the benchmark makes
  * into the program's public interfaces, and the Spark jobs and tasks they
  * cause. Nothing is recorded inside the program. Spans are kept in memory
  * and written out when the run ends. */
final case class Span(id: Long, parent: Long, iter: Int, layer: String, name: String,
                      key: String, startNs: Long, endNs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

object Trace {
  /** Local properties that travel with each Spark job to the listener. The
    * iteration id is set on the driver thread before a migration starts;
    * the runner's worker threads inherit it. */
  val IterProp = "perfbench.iter"
  val LayerProp = "perfbench.layer"
  val PoolProp = "spark.scheduler.pool"
}

final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var iter: Int = -1
  @volatile var root: Long = 0L

  def begin(i: Int): Unit = { iter = i; root = ids.incrementAndGet() }

  /** Run `body` as a span of `layer.name`; jobs it starts carry the layer. */
  def span[A](layer: String, name: String, key: String = "")(body: => A)
             (ok: A => Boolean = (_: A) => true): A = {
    val prev = sc.getLocalProperty(Trace.LayerProp)
    sc.setLocalProperty(Trace.LayerProp, s"$layer.$name")
    val t0 = System.nanoTime()
    var success = false
    try {
      val r = body
      success = ok(r)
      r
    } finally {
      spans.add(Span(ids.incrementAndGet(), root, iter, layer, name, key, t0,
        System.nanoTime(), success))
      sc.setLocalProperty(Trace.LayerProp, prev)
    }
  }

  def of(iter: Int, layer: String, name: String): Seq[Span] =
    spans.asScala.filter(s => s.iter == iter && s.layer == layer && s.name == name).toSeq

  /** Write every span as one JSON line (times in ms from the first span). */
  def write(path: String): Unit = {
    val all = spans.asScala.toSeq.sortBy(_.startNs)
    val base = all.headOption.fold(0L)(_.startNs)
    val text = all.map { s =>
      f"""{"id": ${s.id}, "parent": ${s.parent}, "iter": ${s.iter}, "layer": ${Json.quote(s.layer)}, """ +
        f""""name": ${Json.quote(s.name)}, "key": ${Json.quote(s.key)}, """ +
        f""""start_ms": ${(s.startNs - base) / 1e6}%.3f, "end_ms": ${(s.endNs - base) / 1e6}%.3f, "ok": ${s.ok}}"""
    }.mkString("", "\n", "\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Timing decorator around the program's catalog source. */
final class TracedSource(inner: Migration.CatalogSource, tr: Tracer)
    extends Migration.CatalogSource {
  override def tableNames: Seq[String] = tr.span("catalog", "tableNames")(inner.tableNames)()
  override def columns(table: String): Seq[ColumnMeta] =
    tr.span("catalog", "columns", table)(inner.columns(table))()
  override def tableData(table: String): DataFrame =
    tr.span("catalog", "tableData", table)(inner.tableData(table))()
  override def tableData(table: String, customSqls: Seq[String]): DataFrame =
    tr.span("catalog", "probe", table)(inner.tableData(table, customSqls))()
  override def statistics: DataFrame = tr.span("catalog", "statistics")(inner.statistics)()
  override def foreignKeys: (DataFrame, DataFrame) =
    tr.span("catalog", "foreignKeys")(inner.foreignKeys)()
  override def autoIncrements: DataFrame =
    tr.span("catalog", "autoIncrements")(inner.autoIncrements)()
  override def views: DataFrame = tr.span("catalog", "views")(inner.views)()
  override def triggers: DataFrame = tr.span("catalog", "triggers")(inner.triggers)()
}

/** Timing decorator around the program's migration sink. */
final class TracedSink(inner: Migration.MigrationSink, tr: Tracer)
    extends Migration.MigrationSink {
  override def executeDdl(sql: String): Try[Unit] =
    tr.span("io", "ddl", sql)(inner.executeDdl(sql))(_.isSuccess)
  override def writeTable(table: String, df: DataFrame): Try[Long] =
    tr.span("io", "write", table)(inner.writeTable(table, df))(_.isSuccess)
  override def rowCount(table: String): Option[Long] =
    tr.span("verify", "rowCount", table)(inner.rowCount(table))(_.isDefined)
}

/** Spark jobs and tasks, tagged with the iteration, layer and scheduler
  * pool of the thread that started them. Raw records are kept; the
  * aggregation happens after the session stops, when the listener bus has
  * delivered every event. */
final case class JobRec(jobId: Int, iter: Int, layer: String, pool: String, stages: Seq[Int])
final case class TaskRec(stageId: Int, partition: Int, durationMs: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, recordsRead: Long, shuffleBytes: Long,
                         spillBytes: Long, peakMem: Long)

final class JobListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val iter = Try(prop(Trace.IterProp).toInt).getOrElse(-1)
    if (iter >= 0)
      jobs.add(JobRec(e.jobId, iter, prop(Trace.LayerProp), prop(Trace.PoolProp), e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.stageId, e.taskInfo.partitionId, e.taskInfo.duration,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
  }

  /** Tasks grouped by the job (and so the iteration and layer) that ran them. */
  def tasksByJob: Map[JobRec, Seq[TaskRec]] = {
    val stageJob = jobs.asScala.toSeq.sortBy(_.jobId)
      .flatMap(j => j.stages.map(_ -> j)).reverse.toMap // first job wins
    tasks.asScala.toSeq.flatMap(t => stageJob.get(t.stageId).map(_ -> t))
      .groupBy(_._1).map { case (j, ts) => j -> ts.map(_._2) }
  }
}
