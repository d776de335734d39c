package graft.pipeline

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy => JProxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, Statement}
import java.util.Properties
import java.util.concurrent.CopyOnWriteArrayList

/** TEST-ONLY MySQL-protocol bridge over embedded Derby.
  *
  * Purpose: execute the PRODUCTION MySqlDialect SQL text (the reference's
  * exact surface — INSERT IGNORE, INSERT .. ON DUPLICATE KEY UPDATE for
  * the WAL, backtick-quoted DDL; snapshot_use_pyspark.py:63-101, 293-340)
  * through the UNMODIFIED JdbcSink / Ddl / JdbcCheckpoints machinery
  * against a live database. No MySQL-compatible engine ships in this
  * container (no H2, zero egress), so this driver registers under
  * `jdbc:mysqlemu:` and bridges exactly the three MySQL-isms the dialect
  * emits onto Derby:
  *
  *  1. lexical: backtick quoting is dropped (Derby folds unquoted
  *     identifiers to upper case consistently), NOW() becomes
  *     CURRENT_TIMESTAMP, TIMESTAMP(6) and DATETIME(6) become TIMESTAMP;
  *  2. `INSERT IGNORE` — duplicate-key rows are skipped, emulated with a
  *     key-existence probe inside the SAME transaction (the statement's
  *     documented semantics);
  *  3. `ON DUPLICATE KEY UPDATE` (only the WAL-start statement the
  *     dialect emits) — emulated as update-else-insert in-transaction.
  *
  * Every ORIGINAL (untranslated) SQL string is recorded so specs can
  * assert the production text — character for character — actually flowed
  * through the executed path. Everything else (transactions, batching,
  * prepared parameters, metadata, rollback) hits Derby unmediated.
  */
object MySqlEmu {
  val Prefix = "jdbc:mysqlemu:"

  /** Original production SQL text, in emission order. */
  val recorded = new CopyOnWriteArrayList[String]()

  /** Unique key per sink table — needed by the INSERT IGNORE emulation
    * (MySQL derives it from the table's PK; the bridge is told).
    */
  @volatile var keyColsByTable: Map[String, Seq[String]] = Map.empty

  def reset(keys: Map[String, Seq[String]]): Unit = {
    recorded.clear(); keyColsByTable = keys
  }

  /** MySQL-isms -> Derby, lexical only (no semantic rewriting here). */
  def translate(sql: String): String =
    sql.replace("`", "")
      .replaceAll("(?i)NOW\\(\\)", "CURRENT_TIMESTAMP")
      .replaceAll("(?i)(TIMESTAMP|DATETIME)\\(6\\)", "TIMESTAMP")

  /** Idempotent driver registration. */
  lazy val register: Unit = DriverManager.registerDriver(new EmuDriver)

  private def proxy[T](iface: Class[T], h: InvocationHandler): T =
    JProxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h)
      .asInstanceOf[T]

  /** Invoke, unwrapping InvocationTargetException so callers see the
    * SQLException the JDBC contract declares (Retry classifies on it).
    */
  private def call(m: Method, target: AnyRef, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  final class EmuDriver extends Driver {
    def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
    def connect(url: String, info: Properties): Connection =
      if (!acceptsURL(url)) null
      else {
        val real = DriverManager.getConnection("jdbc:derby:" + url.substring(Prefix.length), info)
        proxy(classOf[Connection], new ConnHandler(real))
      }
    def getMajorVersion: Int = 1
    def getMinorVersion: Int = 0
    def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
      Array.empty
    def jdbcCompliant(): Boolean = false
    def getParentLogger: java.util.logging.Logger =
      throw new java.sql.SQLFeatureNotSupportedException()
  }

  private final class ConnHandler(real: Connection) extends InvocationHandler {
    def invoke(p: Any, m: Method, argsRaw: Array[AnyRef]): AnyRef = {
      val args = if (argsRaw == null) Array.empty[AnyRef] else argsRaw
      m.getName match {
        case "prepareStatement" if args.nonEmpty && args(0).isInstanceOf[String] =>
          val sql = args(0).asInstanceOf[String]
          recorded.add(sql)
          if (sql.startsWith("INSERT IGNORE INTO ")) insertIgnorePs(real, sql)
          else if (sql.contains("ON DUPLICATE KEY UPDATE")) walUpsertPs(real, sql)
          else real.prepareStatement(translate(sql))
        case "createStatement" if args.isEmpty =>
          stmtProxy(real.createStatement())
        case _ => call(m, real, args)
      }
    }
  }

  /** Plain statements: record + lexically translate every SQL arg. */
  private def stmtProxy(real: Statement): Statement =
    proxy(classOf[Statement], (_, m, argsRaw) => {
      val args = if (argsRaw == null) Array.empty[AnyRef] else argsRaw
      if (m.getName.startsWith("execute") && args.nonEmpty && args(0).isInstanceOf[String]) {
        val sql = args(0).asInstanceOf[String]
        recorded.add(sql)
        call(m, real, (translate(sql) +: args.tail).toArray)
      } else call(m, real, args)
    })

  private val InsertIgnoreRe =
    """(?i)INSERT IGNORE INTO `?(\w+)`? \(([^)]*)\) VALUES""".r.unanchored

  /** INSERT IGNORE emulation: a PreparedStatement whose batch execution
    * probes key existence and inserts only absent rows — the statement's
    * documented duplicate-skip semantics, inside the caller's transaction.
    */
  private def insertIgnorePs(real: Connection, sql: String): PreparedStatement = {
    val mt = InsertIgnoreRe.findFirstMatchIn(sql)
      .getOrElse(sys.error(s"unparseable INSERT IGNORE: $sql"))
    val table = mt.group(1)
    val columns = mt.group(2).split(",").toSeq
      .map(_.trim.stripPrefix("`").stripSuffix("`"))
    val keys = keyColsByTable.getOrElse(table,
      sys.error(s"MySqlEmu: no key config for table $table — call MySqlEmu.reset"))
    val keyIdx = keys.map(columns.indexOf)
    require(keyIdx.forall(_ >= 0), s"keys $keys not all in $columns")
    val ins = real.prepareStatement(
      s"INSERT INTO $table (${columns.mkString(", ")}) " +
        s"VALUES (${columns.map(_ => "?").mkString(", ")})")
    val exists = real.prepareStatement(
      s"SELECT 1 FROM $table WHERE ${keys.map(k => s"$k = ?").mkString(" AND ")}")
    val params = new Array[AnyRef](columns.size)
    val batch = scala.collection.mutable.ArrayBuffer.empty[Array[AnyRef]]

    def rowAbsent(row: Array[AnyRef]): Boolean = {
      keyIdx.zipWithIndex.foreach { case (ci, i) => exists.setObject(i + 1, row(ci)) }
      val rs = exists.executeQuery()
      try !rs.next() finally rs.close()
    }
    def insertRow(row: Array[AnyRef]): Int =
      if (rowAbsent(row)) {
        row.zipWithIndex.foreach { case (v, i) => ins.setObject(i + 1, v) }
        ins.executeUpdate()
      } else 0

    proxy(classOf[PreparedStatement], (_, m, argsRaw) => {
      val args = if (argsRaw == null) Array.empty[AnyRef] else argsRaw
      m.getName match {
        case s if s.startsWith("set") && args.length >= 2 && args(0).isInstanceOf[Integer] =>
          params(args(0).asInstanceOf[Integer] - 1) = args(1); null
        case "addBatch" => batch += params.clone(); null
        case "clearBatch" => batch.clear(); null
        case "executeBatch" =>
          val res = batch.map(insertRow).toArray
          batch.clear(); res
        case "executeUpdate" => Int.box(insertRow(params.clone()))
        case "clearParameters" => java.util.Arrays.fill(params, null); null
        case "close" => ins.close(); exists.close(); null
        case "toString" => s"InsertIgnoreEmu($table)"
        case other => sys.error(s"unsupported on INSERT IGNORE emulation: $other")
      }
    })
  }

  private val OdkuTableRe = """(?i)INSERT INTO `?(\w+)`?""".r.unanchored

  /** WAL-start upsert emulation, scoped to the one ON DUPLICATE KEY
    * UPDATE statement MySqlDialect emits (walStartSql): update-else-insert
    * of (range_id, batch_id, 'STARTED') in the caller's transaction.
    */
  private def walUpsertPs(real: Connection, sql: String): PreparedStatement = {
    require(sql.contains("'STARTED'"),
      s"MySqlEmu only bridges the dialect's WAL-start upsert, got: $sql")
    val table = OdkuTableRe.findFirstMatchIn(sql).get.group(1)
    val upd = real.prepareStatement(
      s"UPDATE $table SET status = 'STARTED', updated_at = CURRENT_TIMESTAMP " +
        "WHERE range_id = ? AND batch_id = ?")
    val ins = real.prepareStatement(
      s"INSERT INTO $table (range_id, batch_id, status, updated_at) " +
        "VALUES (?, ?, 'STARTED', CURRENT_TIMESTAMP)")
    val params = new Array[AnyRef](2)
    proxy(classOf[PreparedStatement], (_, m, argsRaw) => {
      val args = if (argsRaw == null) Array.empty[AnyRef] else argsRaw
      m.getName match {
        case s if s.startsWith("set") && args.length >= 2 && args(0).isInstanceOf[Integer] =>
          params(args(0).asInstanceOf[Integer] - 1) = args(1); null
        case "executeUpdate" =>
          upd.setObject(1, params(0)); upd.setObject(2, params(1))
          if (upd.executeUpdate() == 0) {
            ins.setObject(1, params(0)); ins.setObject(2, params(1))
            ins.executeUpdate()
          }
          Int.box(1)
        case "close" => upd.close(); ins.close(); null
        case "toString" => s"WalUpsertEmu($table)"
        case other => sys.error(s"unsupported on WAL upsert emulation: $other")
      }
    })
  }
}
