package graft.pipeline

import scala.util.control.NonFatal

/** Exponential-backoff retry — the reference's deadlock policy (T4,
  * snapshot_use_pyspark.py:298-340): up to `maxAttempts`, sleeping
  * `baseDelayMs * 2^attempt` between tries, retrying only errors the
  * predicate deems transient; anything else (or exhaustion) propagates so
  * Spark's task retry takes over (the reference leans on the same
  * escalation at T5).
  *
  * Fatal VM errors and interrupts (non-NonFatal) ALWAYS propagate,
  * regardless of the predicate — an OutOfMemoryError must never be
  * swallowed into a sleep loop.
  */
object Retry {

  def withBackoff[T](
      maxAttempts: Int,
      baseDelayMs: Long,
      isTransient: Throwable => Boolean,
      sleep: Long => Unit = Thread.sleep)(f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case NonFatal(e) if isTransient(e) && attempt < maxAttempts - 1 =>
          sleep(baseDelayMs * (1L << attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Transient SQL failures worth retrying: the JDBC-standard
    * SQLTransientException hierarchy, plus the MySQL errnos the
    * reference retries by message — 1213 deadlock, 1205 lock-wait
    * timeout (snapshot_use_pyspark.py:321-327).
    */
  def isSqlTransient(e: Throwable): Boolean = {
    val msg = Option(e.getMessage).getOrElse("")
    e.isInstanceOf[java.sql.SQLTransientException] ||
      msg.contains("Deadlock") || msg.contains("deadlock") ||
      msg.contains("Lock wait timeout")
  }
}
