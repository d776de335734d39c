package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy => JProxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, Statement}
import java.util.Properties

/** Tracing JDBC driver: `jdbc:perftrace:<rest>` opens `jdbc:<rest>` and
  * wraps the connection and its statements in dynamic proxies that time
  * and count every call into the database, sorted by statement kind:
  *
  *  - `insert`: INSERT into the sink table (the row batches);
  *  - `wal`: statements on the write-ahead-log table;
  *  - `commit`: Connection.commit;
  *  - `control`: everything else (checkpoint table, counts, DDL).
  *
  * For insert batches it also records how many rows were bound, how many
  * the database reports inserted, and which `range_id` values each batch
  * binds. Time goes to the `jdbc.<kind>` timer of [[Trace]]; counts to
  * `jdbc.*` counters. Write tasks run in the same JVM (local mode), so the
  * counters see every executor-side call.
  */
object TraceJdbc {
  val Prefix = "jdbc:perftrace:"

  lazy val register: Unit = DriverManager.registerDriver(new TracingDriver)

  private val InsertInto = """(?is)^\s*INSERT\s+(?:IGNORE\s+)?INTO\s+["`]?([A-Za-z0-9_]+)["`]?\s*\(([^)]*)\).*""".r
  private val UpdateOf = """(?is)^\s*UPDATE\s+["`]?([A-Za-z0-9_]+)["`]?.*""".r

  /** Statement kind plus the 1-based parameter index of `range_id` for
    * sink inserts (-1 when not bound).
    */
  def classify(sql: String): (String, Int) = sql match {
    case InsertInto(t, cols) if t.equalsIgnoreCase(MigrateWorkload.Sink) =>
      val names = cols.split(',').map(_.trim.stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("`").stripSuffix("`"))
      ("insert", names.indexWhere(_.equalsIgnoreCase("range_id")) match {
        case -1 => -1
        case i => i + 1
      })
    case InsertInto(t, _) if t.equalsIgnoreCase(MigrateWorkload.Wal) => ("wal", -1)
    case UpdateOf(t) if t.equalsIgnoreCase(MigrateWorkload.Wal) => ("wal", -1)
    case _ => ("control", -1)
  }

  private def proxy[T](iface: Class[T], h: InvocationHandler): T =
    JProxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface), h)
      .asInstanceOf[T]

  private def call(m: Method, target: AnyRef, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  final class TracingDriver extends Driver {
    def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
    def connect(url: String, info: Properties): Connection =
      if (!acceptsURL(url)) null
      else {
        val real = DriverManager.getConnection("jdbc:" + url.substring(Prefix.length), info)
        proxy(classOf[Connection], new ConnHandler(real))
      }
    def getMajorVersion: Int = 1
    def getMinorVersion: Int = 0
    def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] = Array.empty
    def jdbcCompliant(): Boolean = false
    def getParentLogger: java.util.logging.Logger =
      java.util.logging.Logger.getLogger("perfbench.jdbc")
  }

  private final class ConnHandler(real: Connection) extends InvocationHandler {
    def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case "prepareStatement" =>
        val (kind, rangeIdx) = classify(args(0).asInstanceOf[String])
        val ps = call(m, real, args).asInstanceOf[PreparedStatement]
        proxy(classOf[PreparedStatement], new StmtHandler(ps, Some(kind), rangeIdx))
      case "createStatement" =>
        val st = call(m, real, args).asInstanceOf[Statement]
        proxy(classOf[Statement], new StmtHandler(st, None, -1))
      case "commit" => Trace.span("jdbc.commit")(call(m, real, args))
      case "rollback" =>
        Trace.count("jdbc.rollbacks")
        Trace.span("jdbc.control")(call(m, real, args))
      case _ => call(m, real, args)
    }
  }

  /** `fixedKind` is the kind of a prepared statement; a plain Statement
    * is classified per executed SQL string.
    */
  private final class StmtHandler(real: Statement, fixedKind: Option[String], rangeIdx: Int)
      extends InvocationHandler {
    private var rowRange = Long.MinValue
    private val batchRanges = scala.collection.mutable.HashSet.empty[Long]
    private var batchRows = 0L

    private def bindRange(args: Array[AnyRef]): Unit =
      if (rangeIdx > 0 && args != null && args.length >= 2 &&
          args(0) == Int.box(rangeIdx)) {
        rowRange = args(1) match {
          case n: Number => n.longValue()
          case _ => Long.MinValue
        }
      }

    private def kindOf(args: Array[AnyRef]): String = fixedKind.getOrElse(
      if (args != null && args.nonEmpty && args(0).isInstanceOf[String])
        classify(args(0).asInstanceOf[String])._1
      else "control")

    def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
      case n if n.startsWith("set") && n != "setFetchSize" && n != "setMaxRows" &&
          n != "setQueryTimeout" =>
        bindRange(args); call(m, real, args)
      case "addBatch" =>
        batchRows += 1; batchRanges += rowRange; call(m, real, args)
      case "clearBatch" =>
        batchRows = 0; batchRanges.clear(); call(m, real, args)
      case "executeBatch" =>
        val kind = kindOf(args)
        val res = Trace.span(s"jdbc.$kind")(call(m, real, args))
        if (kind == "insert") {
          val counts = res.asInstanceOf[Array[Int]]
          Trace.count("jdbc.batches")
          Trace.count("jdbc.rows_attempted", batchRows)
          Trace.count("jdbc.rows_inserted", counts.iterator.map {
            case Statement.SUCCESS_NO_INFO => 1L
            case c if c > 0 => c.toLong
            case _ => 0L
          }.sum)
          if (batchRanges.size > 1) Trace.count("jdbc.batches_multi_range")
        }
        batchRows = 0; batchRanges.clear()
        res
      case "executeUpdate" | "executeQuery" | "execute" | "executeLargeUpdate" =>
        Trace.span(s"jdbc.${kindOf(args)}")(call(m, real, args))
      case _ => call(m, real, args)
    }
  }
}
