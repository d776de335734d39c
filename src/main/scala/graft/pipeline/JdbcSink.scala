package graft.pipeline

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.DataType

/** Production sink binding: batched idempotent JDBC writes with WAL and
  * deadlock retry — the reference's K1/K2/T3/T4/T8 semantics
  * (snapshot_use_pyspark.py:293-340) as a foreachPartition writer.
  *
  * Contract per batch, inside ONE transaction (READ COMMITTED,
  * autocommit off — T8):
  *   1. WAL row (range_id, batch_id, 'STARTED')          — K2/T3
  *   2. idempotent insert of the batch rows              — K1 (dialect:
  *      MySQL INSERT IGNORE / Derby INSERT..WHERE NOT EXISTS; re-runs
  *      are no-ops on the key columns)
  *   3. WAL row update -> 'COMMITTED'
  *   4. commit; on transient failure (deadlock 1213 / lock-wait 1205):
  *      rollback + exponential backoff, up to `maxRetries` attempts,
  *      sleeping `retryBaseDelayMs * 2^n` before attempt n + 2 — T4;
  *      anything else propagates so the Spark task retries — T5's
  *      escalation.
  *
  * Batch ids are deterministic — (partitionId << 20) | batchIndex — unlike
  * the reference's collision-prone time-derived ids (SURVEY §7.4).
  *
  * The insert statement and both WAL statements are prepared ONCE per
  * connection and reused across all batches and retries.
  *
  * The execution path is exercised for real against embedded Derby in
  * JdbcSinkSpec (idempotent re-run, WAL transitions, injected transient
  * failures, rollback on fatal error).
  */
object JdbcSink {

  final case class JdbcConfig(
      url: String,
      user: String,
      password: String,
      table: String,
      columns: Seq[String],
      keyCols: Seq[String] = Seq.empty,
      dialect: SqlDialect = MySqlDialect,
      batchSize: Int = 5000,
      maxRetries: Int = 5,
      walTable: Option[String] = None,
      retryBaseDelayMs: Long = 500,
      // Test seam: invoked inside the batch transaction, before commit;
      // lets specs inject transient/fatal failures into the real path.
      onBatch: (Long, Long) => Unit = (_, _) => ())

  def deterministicBatchId(partitionId: Int, batchIndex: Int): Long =
    (partitionId.toLong << 20) | batchIndex.toLong

  /** Write a DataFrame whose columns include cfg.columns (plus a range_id
    * column used for WAL bookkeeping).
    */
  def write(df: DataFrame, cfg: JdbcConfig): Unit = {
    val cols = cfg.columns
    val types: Map[String, DataType] =
      df.schema.fields.map(f => f.name -> f.dataType).toMap
    val insertSql = cfg.dialect.insertIgnoreSql(cfg.table, cols, cfg.keyCols, types)
    val bindCols = cfg.dialect.insertBindCols(cols, cfg.keyCols)
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val conn = DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
        try {
          cfg.dialect.sessionInit(conn)
          val insert = conn.prepareStatement(insertSql)
          val wal = cfg.walTable.map(w => cfg.dialect.walDao(conn, w))
          try {
            val buf = new scala.collection.mutable.ArrayBuffer[Row](cfg.batchSize)
            var batchIndex = 0
            def flush(): Unit = if (buf.nonEmpty) {
              val batchId = deterministicBatchId(pid, batchIndex)
              val rangeId = buf.head.getAs[Any]("range_id") match {
                case l: Long => l; case i: Int => i.toLong; case _ => -1L
              }
              Retry.withBackoff(cfg.maxRetries, cfg.retryBaseDelayMs, Retry.isSqlTransient) {
                try {
                  wal.foreach(_.start(rangeId, batchId))
                  buf.foreach { r =>
                    bindCols.zipWithIndex.foreach { case (c, i) =>
                      insert.setObject(i + 1, r.getAs[Any](c) match {
                        // TIMESTAMP_NTZ: Derby's driver rejects java.time values
                        case t: java.time.LocalDateTime => java.sql.Timestamp.valueOf(t)
                        case v => v
                      })
                    }
                    insert.addBatch()
                  }
                  insert.executeBatch()
                  cfg.onBatch(rangeId, batchId)
                  wal.foreach(_.commit(rangeId, batchId))
                  conn.commit()
                } catch {
                  case e: Throwable =>
                    insert.clearBatch(); conn.rollback(); throw e
                }
              }
              buf.clear(); batchIndex += 1
            }
            rows.foreach { r => buf += r; if (buf.size >= cfg.batchSize) flush() }
            flush()
          } finally {
            try insert.close() finally wal.foreach(_.close())
          }
        } finally conn.close()
      }
    }
  }
}
