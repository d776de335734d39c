package graft.pipeline

import java.sql.{DriverManager, SQLTransientException}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Executes the PRODUCTION MySqlDialect SQL text for real: the exact
  * INSERT IGNORE / WAL ON DUPLICATE KEY UPDATE / backtick DDL strings the
  * reference runs against MySQL (snapshot_use_pyspark.py:63-101, 293-340,
  * mysql-init/init.sql) flow through the UNMODIFIED JdbcSink / Ddl /
  * JdbcCheckpoints / Migrate machinery against a live embedded database,
  * via the MySqlEmu bridge (`jdbc:mysqlemu:` — see MySqlEmu.scala for
  * exactly which three MySQL-isms are bridged and why).
  *
  * What this proves that the Derby specs could not: the dialect object the
  * production config defaults to (JdbcConfig.dialect = MySqlDialect) is
  * executed end-to-end — its statement text, bind order (n params, no
  * Derby key-cast tail), upsert WAL protocol, and DDL all work against a
  * database engine, not just as strings in a unit test.
  */
class MySqlDialectSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  System.setProperty("derby.stream.error.file", "/tmp/derby.log")
  Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
  MySqlEmu.register

  private def freshUrl(): String =
    s"${MySqlEmu.Prefix}memory:my_${java.util.UUID.randomUUID().toString.take(8)};create=true"

  private val sinkSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))

  private def testDf = {
    import spark.implicits._
    spark.range(100).select(
      $"id",
      concat(lit("n"), $"id").as("name"),
      ($"id" % 4).as("range_id"))
  }

  private def cfg(url: String) = JdbcSink.JdbcConfig(
    url = url, user = "", password = "",
    table = "files", columns = Seq("id", "name"), keyCols = Seq("id"),
    dialect = MySqlDialect, batchSize = 7,
    walTable = Some("migration_wal"), retryBaseDelayMs = 1)

  private def bootstrap(url: String): Unit = {
    MySqlEmu.reset(Map("files" -> Seq("id"), "migration_checkpoint" -> Seq("range_id")))
    val conn = DriverManager.getConnection(url)
    try {
      Ddl.ensureTables(conn, MySqlDialect, "files", sinkSchema, Seq("id"))
      Ddl.ensureTables(conn, MySqlDialect, "files", sinkSchema, Seq("id")) // idempotent
    } finally conn.close()
  }

  private def queryLong(url: String, sql: String): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  test("production DDL text (backticks, TIMESTAMP) bootstraps all four tables") {
    val url = freshUrl()
    bootstrap(url)
    // the recorded statements are the dialect's exact production text
    assert(MySqlEmu.recorded.contains(
      MySqlDialect.createWalTableSql("migration_wal")))
    assert(MySqlDialect.createWalTableSql("migration_wal").contains("`migration_wal`"))
    // the fixtures' TIMESTAMP_NTZ columns map to a zoneless DATETIME
    assert(MySqlDialect.createSinkTableSql("orders",
      StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_orderdate", TimestampNTZType), StructField("loaded_at", TimestampType))),
      Seq("o_orderkey")) ==
      "CREATE TABLE `orders` (`o_orderkey` BIGINT, `o_orderdate` DATETIME(6), " +
        "`loaded_at` TIMESTAMP(6), PRIMARY KEY (`o_orderkey`))")
    // and they actually created queryable tables
    assert(queryLong(url, "SELECT COUNT(*) FROM files") == 0L)
    assert(queryLong(url, "SELECT COUNT(*) FROM migration_wal") == 0L)
    assert(queryLong(url, "SELECT COUNT(*) FROM migration_checkpoint") == 0L)
    assert(queryLong(url, "SELECT COUNT(*) FROM migration_validation") == 0L)
  }

  test("INSERT IGNORE + WAL upsert: write lands rows, re-run is a no-op") {
    val url = freshUrl()
    bootstrap(url)
    JdbcSink.write(testDf, cfg(url))
    assert(queryLong(url, "SELECT COUNT(*) FROM files") == 100L)
    // idempotent re-run through the same production statement
    JdbcSink.write(testDf, cfg(url))
    assert(queryLong(url, "SELECT COUNT(*) FROM files") == 100L)
    val walTotal = queryLong(url, "SELECT COUNT(*) FROM migration_wal")
    val walCommitted = queryLong(url,
      "SELECT COUNT(*) FROM migration_wal WHERE status = 'COMMITTED'")
    assert(walTotal > 0 && walCommitted == walTotal)
    // the EXACT production SQL surface was what executed
    assert(MySqlEmu.recorded.contains(
      "INSERT IGNORE INTO `files` (`id`, `name`) VALUES (?, ?)"))
    assert(MySqlEmu.recorded.contains(MySqlDialect.walStartSql("migration_wal")))
    assert(MySqlEmu.recorded.contains(MySqlDialect.walCommitSql("migration_wal")))
  }

  test("transient failure retries and completes through the MySQL text") {
    val url = freshUrl()
    bootstrap(url)
    JdbcFailures.reset(3)
    val c = cfg(url).copy(onBatch = (_, _) => {
      JdbcFailures.calls.incrementAndGet()
      if (JdbcFailures.remaining.getAndDecrement() > 0)
        throw new SQLTransientException("induced deadlock")
    })
    JdbcSink.write(testDf, c)
    assert(queryLong(url, "SELECT COUNT(*) FROM files") == 100L)
  }

  test("fatal failure rolls back: no rows, no WAL entries survive") {
    val url = freshUrl()
    bootstrap(url)
    val c = cfg(url).copy(onBatch = (_, _) =>
      throw new IllegalStateException("not transient"))
    intercept[Exception] { JdbcSink.write(testDf, c) }
    assert(queryLong(url, "SELECT COUNT(*) FROM files") == 0L)
    assert(queryLong(url, "SELECT COUNT(*) FROM migration_wal") == 0L)
  }

  test("JdbcCheckpoints over MySqlDialect: seed (MySQL bind order), mark, fetch") {
    val url = freshUrl()
    bootstrap(url)
    val store = new JdbcCheckpoints(url, "", "", dialect = MySqlDialect)
    val ranges = graft.core.Tokens.split(8)
    store.seedIfEmpty(ranges)
    assert(store.all().size == 8)
    store.seedIfEmpty(ranges) // idempotent through INSERT IGNORE
    assert(store.all().size == 8)
    store.markComplete(Seq(1L, 3L))
    assert(store.fetchIncomplete().map(_.range_id) == Seq(0L, 2L, 4L, 5L, 6L, 7L))
    // the seed used the MySQL insert text (n binds, not Derby's n+keys)
    assert(MySqlEmu.recorded.asScala.exists(_.startsWith(
      "INSERT IGNORE INTO `migration_checkpoint`")))
  }

  test("full Migrate pipeline end-to-end through MySqlDialect") {
    val url = freshUrl()
    MySqlEmu.reset(Map(
      "orders_sink" -> Seq("file_id"), "migration_checkpoint" -> Seq("range_id")))
    val mcfg = JdbcTarget(url, "", "", "orders_sink", Seq("file_id"))
      .bind(spark, JdbcMigrateSpec.ordersConfig)
    val m = new Migrate(spark, mcfg)
    m.run()
    assert(!m.checkpointsIncomplete())
    val v = m.validate()
    assert(v.status == "OK" && v.diff == 0 && v.src_count == 1500)
    assert(queryLong(url, "SELECT COUNT(*) FROM orders_sink") == 1500L)
    assert(queryLong(url,
      "SELECT COUNT(*) FROM migration_wal WHERE status <> 'COMMITTED'") == 0L)
    // a second pass over two reset ranges: the verify statement has no
    // placeholder and its text repeats exactly
    def verifies = MySqlEmu.recorded.asScala
      .filter(_.startsWith("SELECT `range_id`, COUNT(*) FROM `orders_sink`"))
    assert(verifies.size == 1)
    val conn2 = DriverManager.getConnection(url)
    try conn2.createStatement().executeUpdate(
      "UPDATE migration_checkpoint SET checkpoint = range_start WHERE range_id IN (1, 3)")
    finally conn2.close()
    val m2 = new Migrate(spark, mcfg)
    m2.run()
    assert(!m2.checkpointsIncomplete())
    assert(queryLong(url, "SELECT COUNT(*) FROM orders_sink") == 1500L)
    assert(verifies.size == 2 && verifies.distinct.size == 1)
    assert(!verifies.head.contains("?"))
  }

  private implicit class JListOps(l: java.util.List[String]) {
    def asScala: Seq[String] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      l.forEach(s => buf += s)
      buf.toSeq
    }
  }
}
