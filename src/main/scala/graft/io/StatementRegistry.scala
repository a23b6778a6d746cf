package graft.io

import java.sql.Statement

/** Driver-side JDBC statements in flight (DDL, page-boundary key scans):
  * registered while executing so a cancel (cli.Cancellation, the Ctrl-C
  * path — reference cmd/app.go:186-216) can reach statements that run
  * outside any Spark task. Executor-side page reads are covered
  * separately by task interruption (interruptOnCancel job groups). */
object StatementRegistry {

  private val statements =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Statement]()

  def register(st: Statement): Unit = statements.add(st)
  def deregister(st: Statement): Unit = statements.remove(st)
  def activeCount: Int = statements.size

  /** Cancel every registered statement; returns how many were signalled. */
  def cancelAll(): Int = {
    var n = 0
    statements.forEach { st =>
      try { st.cancel(); n += 1 } catch { case _: Throwable => () }
    }
    n
  }
}
