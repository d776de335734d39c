package graft.pipeline

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.SparkSession

/** A migration's JDBC target: the K5 bootstrap plus the sink and
  * checkpoint bindings on one URL and dialect, and the K4 validation row.
  * `MigrateMain` and the JDBC migration specs bind through [[bind]], so
  * the CLI runs the tested path. `jdbc:derby` URLs get `DerbyDialect`,
  * every other URL gets `MySqlDialect`.
  */
final case class JdbcTarget(
    url: String, user: String, password: String, table: String, keyCols: Seq[String]) {

  private val dialect: SqlDialect = if (url.startsWith("jdbc:derby")) DerbyDialect else MySqlDialect
  private val control = Ddl.ControlTables()

  private def withConn[T](f: Connection => T): T = {
    val conn = DriverManager.getConnection(url, user, password)
    try f(conn) finally conn.close()
  }

  /** Create the sink table (schema from `Migrate.sinkSchema`) and the
    * control tables iff absent, then bind `JdbcTableSink` with the WAL on
    * and `JdbcCheckpoints` to them. Reads the source's schema only.
    */
  def bind(spark: SparkSession, cfg: MigrateConfig): MigrateConfig = {
    val source = cfg.source.getOrElse(ParquetSource(cfg.srcPath))
    val schema = Migrate.sinkSchema(source.read(spark).schema, cfg.renames)
    withConn(Ddl.ensureTables(_, dialect, table, schema, keyCols, control))
    val sink = JdbcTableSink(JdbcSink.JdbcConfig(
      url, user, password, table, schema.fieldNames.toSeq, keyCols, dialect,
      walTable = Some(control.wal)))
    cfg.copy(
      sink = Some(sink),
      checkpoints = Some(new JdbcCheckpoints(url, user, password, control.checkpoints, dialect)))
  }

  /** Persist `v` as this sink table's K4 validation row, replacing the
    * row of an earlier run: DELETE plus INSERT in one transaction.
    */
  def recordValidation(v: ValidationRow): Unit = withConn { conn =>
    def q(id: String) = dialect.quote(id)
    val t = q(control.validation)
    val cols = Seq("table_name", "src_count", "dst_count", "diff", "status")
    conn.setAutoCommit(false)
    val del = conn.prepareStatement(s"DELETE FROM $t WHERE ${q("table_name")} = ?")
    val ins = conn.prepareStatement(
      s"INSERT INTO $t (${cols.map(q).mkString(", ")}) VALUES (?, ?, ?, ?, ?)")
    try {
      del.setString(1, table)
      del.executeUpdate()
      ins.setString(1, table)
      ins.setLong(2, v.src_count)
      ins.setLong(3, v.dst_count)
      ins.setLong(4, v.diff)
      ins.setString(5, v.status)
      ins.executeUpdate()
      conn.commit()
    } catch {
      case e: Throwable => conn.rollback(); throw e
    } finally {
      try del.close() finally ins.close()
    }
  }
}
