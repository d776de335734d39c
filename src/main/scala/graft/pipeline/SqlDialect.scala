package graft.pipeline

import java.sql.Connection

import org.apache.spark.sql.types._

/** Per-connection WAL accessor. Statements are prepared ONCE at
  * construction and reused across every batch/retry of the partition
  * (a fresh PreparedStatement per batch leaks handles and can hit
  * server prepared-statement limits on large partitions).
  */
trait WalDao extends AutoCloseable {
  /** Record (range_id, batch_id) as STARTED — upsert semantics. */
  def start(rangeId: Long, batchId: Long): Unit
  /** Transition (range_id, batch_id) to COMMITTED. */
  def commit(rangeId: Long, batchId: Long): Unit
  def close(): Unit
}

/** SQL dialect seam for the K1/K2/K5 sink semantics
  * (reference snapshot_use_pyspark.py:63-101, 293-340): the MySQL
  * binding is the production target; the Derby binding exists so the
  * test suite can drive the REAL execution path against an embedded
  * database (derby jars ship with Spark).
  *
  * All members are driver-and-executor safe: dialects are stateless
  * objects, so they serialize into the foreachPartition closure.
  */
trait SqlDialect extends Serializable {
  def quote(id: String): String

  /** SQL type used for DDL and (where needed) parameter casts. */
  def sqlType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case ShortType => "SMALLINT"
    case DoubleType => "DOUBLE"
    case FloatType => "REAL"
    case BooleanType => "BOOLEAN"
    case DateType => "DATE"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case BinaryType => "BLOB"
    case StringType => "VARCHAR(4000)"
    case other => sys.error(s"no JDBC mapping for $other")
  }

  /** Idempotent row insert: re-running the same rows must be a no-op
    * on the key columns (K1's effectively-once contract).
    */
  def insertIgnoreSql(
      table: String,
      columns: Seq[String],
      keyCols: Seq[String],
      types: Map[String, DataType]): String

  /** Column names, in bind order, for ONE row of insertIgnoreSql. */
  def insertBindCols(columns: Seq[String], keyCols: Seq[String]): Seq[String] =
    columns

  def walDao(conn: Connection, walTable: String): WalDao

  /** Session tuning (T8): autocommit off + READ COMMITTED, via the
    * portable JDBC API rather than engine-specific SET SESSION text.
    */
  def sessionInit(conn: Connection): Unit = {
    conn.setAutoCommit(false)
    conn.setTransactionIsolation(Connection.TRANSACTION_READ_COMMITTED)
  }

  // ---- K5 DDL -----------------------------------------------------------

  def tableExists(conn: Connection, table: String): Boolean = {
    // Unquoted identifiers fold differently per engine (Derby: upper).
    val md = conn.getMetaData
    Seq(table, table.toUpperCase, table.toLowerCase).exists { t =>
      val rs = md.getTables(null, null, t, Array("TABLE"))
      try rs.next() finally rs.close()
    }
  }

  def createSinkTableSql(table: String, schema: StructType, keyCols: Seq[String]): String = {
    val cols = schema.fields.map(f => s"${quote(f.name)} ${sqlType(f.dataType)}")
    val pk = s"PRIMARY KEY (${keyCols.map(quote).mkString(", ")})"
    s"CREATE TABLE ${quote(table)} (${(cols :+ pk).mkString(", ")})"
  }

  /** WAL table (K2/T3): one row per (range_id, batch_id) with status
    * STARTED|COMMITTED (reference ensure_mysql_tables).
    */
  def createWalTableSql(wal: String): String =
    s"CREATE TABLE ${quote(wal)} (" +
      s"${quote("range_id")} BIGINT NOT NULL, " +
      s"${quote("batch_id")} BIGINT NOT NULL, " +
      s"${quote("status")} VARCHAR(16) NOT NULL, " +
      s"${quote("updated_at")} TIMESTAMP NOT NULL, " +
      s"PRIMARY KEY (${quote("range_id")}, ${quote("batch_id")}))"

  /** Checkpoint table (T2): same three-column contract as the parquet
    * binding (reference seed_ranges_if_empty).
    */
  def createCheckpointTableSql(t: String): String =
    s"CREATE TABLE ${quote(t)} (" +
      s"${quote("range_id")} BIGINT NOT NULL, " +
      s"${quote("range_start")} BIGINT NOT NULL, " +
      s"${quote("range_end")} BIGINT NOT NULL, " +
      s"${quote("checkpoint")} BIGINT NOT NULL, " +
      s"PRIMARY KEY (${quote("range_id")}))"

  /** Validation table (K4/T6): the reference's migration_validation row. */
  def createValidationTableSql(t: String): String =
    s"CREATE TABLE ${quote(t)} (" +
      s"${quote("table_name")} VARCHAR(128) NOT NULL, " +
      s"${quote("src_count")} BIGINT NOT NULL, " +
      s"${quote("dst_count")} BIGINT NOT NULL, " +
      s"${quote("diff")} BIGINT NOT NULL, " +
      s"${quote("status")} VARCHAR(16) NOT NULL, " +
      s"PRIMARY KEY (${quote("table_name")}))"

  def truncateSql(table: String): String = s"TRUNCATE TABLE ${quote(table)}"
}

/** Production dialect — the reference's exact SQL surface:
  * INSERT IGNORE (K1, snapshot_use_pyspark.py:300-305) and
  * INSERT .. ON DUPLICATE KEY UPDATE for the WAL (K2).
  *
  * Execution coverage: this dialect's statement text is executed
  * end-to-end (bootstrap, idempotent re-run, WAL transitions, retry,
  * rollback, full migration) in MySqlDialectSpec via the recording
  * MySQL-over-Derby bridge (test-only `jdbc:mysqlemu:` driver) — no
  * MySQL-compatible engine ships in the build environment, so the three
  * MySQL-isms are bridged and everything else hits a live database
  * unmediated; the recorded SQL is asserted character-for-character.
  */
object MySqlDialect extends SqlDialect {
  def quote(id: String): String = s"`$id`"

  override def sqlType(dt: DataType): String = dt match {
    case StringType => "VARCHAR(1024)"
    case TimestampType => "TIMESTAMP(6)"
    case TimestampNTZType => "DATETIME(6)"
    case _ => super.sqlType(dt)
  }

  def insertIgnoreSql(
      table: String, columns: Seq[String], keyCols: Seq[String],
      types: Map[String, DataType]): String = {
    val cols = columns.map(quote).mkString(", ")
    val qs = Seq.fill(columns.size)("?").mkString(", ")
    s"INSERT IGNORE INTO ${quote(table)} ($cols) VALUES ($qs)"
  }

  def walStartSql(wal: String): String =
    s"INSERT INTO ${quote(wal)} (range_id, batch_id, status, updated_at) " +
      "VALUES (?, ?, 'STARTED', NOW()) " +
      "ON DUPLICATE KEY UPDATE status = 'STARTED', updated_at = NOW()"

  def walCommitSql(wal: String): String =
    s"UPDATE ${quote(wal)} SET status = 'COMMITTED', updated_at = NOW() " +
      "WHERE range_id = ? AND batch_id = ?"

  def walDao(conn: Connection, walTable: String): WalDao = new WalDao {
    private val startPs = conn.prepareStatement(walStartSql(walTable))
    private val commitPs = conn.prepareStatement(walCommitSql(walTable))
    def start(rangeId: Long, batchId: Long): Unit = {
      startPs.setLong(1, rangeId); startPs.setLong(2, batchId)
      startPs.executeUpdate(); ()
    }
    def commit(rangeId: Long, batchId: Long): Unit = {
      commitPs.setLong(1, rangeId); commitPs.setLong(2, batchId)
      commitPs.executeUpdate(); ()
    }
    def close(): Unit = { startPs.close(); commitPs.close() }
  }
}

/** Embedded test dialect. Derby has no INSERT IGNORE, so idempotency is
  * the portable `INSERT .. SELECT .. WHERE NOT EXISTS (key)` — same
  * contract, exercised for real by JdbcSinkSpec. Dynamic parameters in
  * a Derby SELECT list must be CAST to a concrete type.
  */
object DerbyDialect extends SqlDialect {
  def quote(id: String): String = "\"" + id + "\""

  def insertIgnoreSql(
      table: String, columns: Seq[String], keyCols: Seq[String],
      types: Map[String, DataType]): String = {
    val cols = columns.map(quote).mkString(", ")
    val casts = columns
      .map(c => s"CAST(? AS ${sqlType(types(c))})").mkString(", ")
    val keyPred = keyCols
      .map(k => s"${quote(table)}.${quote(k)} = CAST(? AS ${sqlType(types(k))})")
      .mkString(" AND ")
    s"INSERT INTO ${quote(table)} ($cols) " +
      s"SELECT $casts FROM SYSIBM.SYSDUMMY1 " +
      s"WHERE NOT EXISTS (SELECT 1 FROM ${quote(table)} WHERE $keyPred)"
  }

  override def insertBindCols(columns: Seq[String], keyCols: Seq[String]): Seq[String] =
    columns ++ keyCols

  def walDao(conn: Connection, walTable: String): WalDao = new WalDao {
    private val updPs = conn.prepareStatement(
      s"UPDATE ${quote(walTable)} SET ${quote("status")} = ?, " +
        s"${quote("updated_at")} = CURRENT_TIMESTAMP " +
        s"WHERE ${quote("range_id")} = ? AND ${quote("batch_id")} = ?")
    private val insPs = conn.prepareStatement(
      s"INSERT INTO ${quote(walTable)} " +
        s"(${quote("range_id")}, ${quote("batch_id")}, ${quote("status")}, ${quote("updated_at")}) " +
        "VALUES (?, ?, 'STARTED', CURRENT_TIMESTAMP)")
    private def upsert(status: String, rangeId: Long, batchId: Long): Int = {
      updPs.setString(1, status); updPs.setLong(2, rangeId); updPs.setLong(3, batchId)
      updPs.executeUpdate()
    }
    def start(rangeId: Long, batchId: Long): Unit =
      if (upsert("STARTED", rangeId, batchId) == 0) {
        insPs.setLong(1, rangeId); insPs.setLong(2, batchId)
        insPs.executeUpdate(); ()
      }
    def commit(rangeId: Long, batchId: Long): Unit = {
      upsert("COMMITTED", rangeId, batchId); ()
    }
    def close(): Unit = { updPs.close(); insPs.close() }
  }
}
