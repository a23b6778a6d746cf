package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.util.Try

import org.apache.spark.sql.DataFrame

import graft.cli.Migration
import graft.io.{CopyTransport, CopyTransportFactory, PgCopyLoad}

/** What the counting transport received for one table, from committed
  * COPY transactions only. `hash` is the wrapping sum of the per-line
  * hashes, so it does not depend on the order partitions commit in. */
final class Tally {
  val rows, hash, bytes, flushes, transports = new AtomicLong
}

/** Process-wide tallies. The transport runs inside Spark tasks, which get
  * a deserialized copy of the factory, so its results cannot live in the
  * factory instance; they are keyed by sink id and table instead. */
object Tallies {
  private val byKey = new ConcurrentHashMap[String, Tally]()
  private val faultFired = new ConcurrentHashMap[String, AtomicBoolean]()

  def get(sinkId: String, table: String): Tally =
    byKey.computeIfAbsent(s"$sinkId/$table", _ => new Tally)
  def reset(sinkId: String, table: String): Unit = byKey.put(s"$sinkId/$table", new Tally)
  def fireOnce(sinkId: String): Boolean =
    faultFired.computeIfAbsent(sinkId, _ => new AtomicBoolean(false)).compareAndSet(false, true)
}

/** Faults the self-check injects into the transport to prove that the
  * content check catches them. */
object Fault {
  val None = "none"
  val DropRow = "drop_row"
  val CorruptValue = "corrupt_value"
}

/** A COPY transport that stands in for PostgreSQL: it splits the stream
  * into lines, hashes each line and commits the totals to its table's
  * `Tally`. A rolled-back transaction leaves no trace, like PG's. */
final class CountingTransport(sinkId: String, fault: String) extends CopyTransport {
  import SourceGen.{FnvOffset, FnvPrime, mix}

  private var table: String = _
  private var rows, hash, bytes, flushes = 0L
  private var h = FnvOffset
  private var partial = false
  private var dropNext = false

  override def begin(copySql: String): Unit = {
    val q = copySql.indexOf('"')
    table = copySql.substring(q + 1, copySql.indexOf('"', q + 1))
    dropNext = fault == Fault.DropRow && Tallies.fireOnce(sinkId)
  }

  private def endLine(): Unit = {
    if (dropNext) dropNext = false
    else { rows += 1; hash += mix(h) }
    h = FnvOffset
    partial = false
  }

  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    flushes += 1
    bytes += len
    val corruptAt =
      if (fault == Fault.CorruptValue && Tallies.fireOnce(sinkId)) off else -1
    var i = off
    val end = off + len
    while (i < end) {
      val c = if (i == corruptAt) b(i) ^ 1 else b(i)
      if (c == '\n') endLine()
      else { h = (h ^ (c & 0xff)) * FnvPrime; partial = true }
      i += 1
    }
  }

  override def commit(sideSqls: Seq[String]): Unit = {
    if (partial) { endLine(); bytes += 1 } // an unterminated last line still counts as a row
    val t = Tallies.get(sinkId, table)
    t.rows.addAndGet(rows)
    t.hash.addAndGet(hash)
    t.bytes.addAndGet(bytes)
    t.flushes.addAndGet(flushes)
    t.transports.incrementAndGet()
  }

  override def rollback(): Unit = { rows = 0; hash = 0; bytes = 0; flushes = 0 }

  override def close(): Unit = ()
}

final class CountingTransportFactory(sinkId: String, fault: String = Fault.None)
    extends CopyTransportFactory {
  override def open(): CopyTransport = new CountingTransport(sinkId, fault)
}

/** The COPY-path `MigrationSink` of the benchmark: data goes through the
  * program's `PgCopyLoad.copyInto` into counting transports; DDL is
  * accepted and counted, not executed, as there is no PostgreSQL here.
  * Like `Jdbc.writeTableCopy` it empties the table before the COPY, and
  * like a real target it refuses data for a table it never created. */
final class CopySink(val sinkId: String, fault: String = Fault.None)
    extends Migration.MigrationSink {
  private val created = ConcurrentHashMap.newKeySet[String]()
  val factory = new CountingTransportFactory(sinkId, fault)

  override def executeDdl(sql: String): Try[Unit] = Try {
    val CreateTable = """(?s)create table "([^"]+)".*""".r
    sql match {
      case CreateTable(t) => created.add(t)
      case _ => ()
    }
  }

  override def writeTable(table: String, df: DataFrame): Try[Long] = Try {
    require(created.contains(table), s"target table $table does not exist")
    Tallies.reset(sinkId, table)
    PgCopyLoad.copyInto(df, table, factory)
  }

  override def rowCount(table: String): Option[Long] =
    if (created.contains(table)) Some(Tallies.get(sinkId, table).rows.get) else None

  def tally(table: String): Tally = Tallies.get(sinkId, table)
}
