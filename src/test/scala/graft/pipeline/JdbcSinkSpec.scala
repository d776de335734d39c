package graft.pipeline

import java.sql.{DriverManager, SQLTransientException}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Failure injector for the sink's onBatch test seam. Local-mode tests
  * share one JVM, so a static counter is visible to "executors".
  */
object JdbcFailures {
  val remaining = new AtomicInteger(0)
  val calls = new AtomicInteger(0)
  def reset(n: Int): Unit = { remaining.set(n); calls.set(0) }
}

/** Drives the REAL JdbcSink.write foreachPartition path, the only JDBC
  * batch writer, against embedded Derby (jars ship with Spark): K5 DDL
  * bootstrap, K1 idempotent insert (re-run is a no-op) of typed and NULL
  * columns, K2/T3 WAL STARTED->COMMITTED, T4 transient retry under the
  * configured policy, rollback on fatal error, control-table truncate.
  *
  * Reference semantics: snapshot_use_pyspark.py:63-101 (DDL), 293-340
  * (batched INSERT IGNORE + WAL + deadlock retry), 429-444 (truncate).
  */
class JdbcSinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  System.setProperty("derby.stream.error.file", "/tmp/derby.log")
  Class.forName("org.apache.derby.jdbc.EmbeddedDriver")

  private def freshUrl(): String =
    s"jdbc:derby:memory:graft_${java.util.UUID.randomUUID().toString.take(8)};create=true"

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
    dialect = DerbyDialect, batchSize = 7,
    walTable = Some("migration_wal"), retryBaseDelayMs = 1)

  private def bootstrap(url: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try {
      Ddl.ensureTables(conn, DerbyDialect, "files", sinkSchema, Seq("id"))
      // idempotent: second call is a no-op, not an error
      Ddl.ensureTables(conn, DerbyDialect, "files", sinkSchema, Seq("id"))
    } finally conn.close()
  }

  private def queryLong(url: String, sql: String): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  test("DDL bootstrap + write lands every row; WAL batches all COMMITTED") {
    val url = freshUrl()
    bootstrap(url)
    JdbcSink.write(testDf, cfg(url))
    assert(queryLong(url, "SELECT COUNT(*) FROM \"files\"") == 100L)
    val walTotal = queryLong(url, "SELECT COUNT(*) FROM \"migration_wal\"")
    val walCommitted = queryLong(url,
      "SELECT COUNT(*) FROM \"migration_wal\" WHERE \"status\" = 'COMMITTED'")
    assert(walTotal > 0 && walCommitted == walTotal)
  }

  test("re-running the same write is idempotent (effectively-once on the key)") {
    val url = freshUrl()
    bootstrap(url)
    JdbcSink.write(testDf, cfg(url))
    JdbcSink.write(testDf, cfg(url))
    assert(queryLong(url, "SELECT COUNT(*) FROM \"files\"") == 100L)
    assert(queryLong(url,
      "SELECT COUNT(*) FROM \"migration_wal\" WHERE \"status\" <> 'COMMITTED'") == 0L)
  }

  test("transient failures are retried with backoff and the write completes") {
    val url = freshUrl()
    bootstrap(url)
    JdbcFailures.reset(3)
    val c = cfg(url).copy(onBatch = (_, _) => {
      JdbcFailures.calls.incrementAndGet()
      if (JdbcFailures.remaining.getAndDecrement() > 0)
        throw new SQLTransientException("induced deadlock")
    })
    JdbcSink.write(testDf, c)
    assert(queryLong(url, "SELECT COUNT(*) FROM \"files\"") == 100L)
    // every injected failure forced a retry of that batch
    val batches = queryLong(url, "SELECT COUNT(*) FROM \"migration_wal\"")
    assert(JdbcFailures.calls.get() >= batches + 3)
  }

  test("fatal (non-transient) failure rolls back the batch and propagates") {
    val url = freshUrl()
    bootstrap(url)
    val c = cfg(url).copy(onBatch = (_, _) =>
      throw new IllegalStateException("not transient"))
    intercept[Exception] { JdbcSink.write(testDf, c) }
    // every partition failed its FIRST batch inside the txn -> rollback
    // means neither rows nor WAL entries survive
    assert(queryLong(url, "SELECT COUNT(*) FROM \"files\"") == 0L)
    assert(queryLong(url, "SELECT COUNT(*) FROM \"migration_wal\"") == 0L)
  }

  test("batch boundaries: batchSize=1 and row count an exact batch multiple") {
    // batchSize 1 stresses per-batch WAL/commit overhead paths; an exact
    // multiple of batchSize exercises the no-trailing-partial-flush path.
    val url1 = freshUrl()
    bootstrap(url1)
    JdbcSink.write(testDf, cfg(url1).copy(batchSize = 1))
    assert(queryLong(url1, "SELECT COUNT(*) FROM \"files\"") == 100L)
    val url2 = freshUrl()
    bootstrap(url2)
    JdbcSink.write(testDf.repartition(4), cfg(url2).copy(batchSize = 25))
    assert(queryLong(url2, "SELECT COUNT(*) FROM \"files\"") == 100L)
    assert(queryLong(url2,
      "SELECT COUNT(*) FROM \"migration_wal\" WHERE \"status\" <> 'COMMITTED'") == 0L)
  }

  test("truncateControlTables resets WAL/checkpoints but keeps sink rows") {
    val url = freshUrl()
    bootstrap(url)
    JdbcSink.write(testDf, cfg(url))
    val conn = DriverManager.getConnection(url)
    try Ddl.truncateControlTables(conn, DerbyDialect) finally conn.close()
    assert(queryLong(url, "SELECT COUNT(*) FROM \"files\"") == 100L)
    assert(queryLong(url, "SELECT COUNT(*) FROM \"migration_wal\"") == 0L)
  }

  test("production (MySQL) SQL text is the reference's surface") {
    assert(MySqlDialect.insertIgnoreSql("files", Seq("id", "name"), Seq("id"), Map.empty) ==
      "INSERT IGNORE INTO `files` (`id`, `name`) VALUES (?, ?)")
    assert(MySqlDialect.walStartSql("wal").contains("ON DUPLICATE KEY UPDATE"))
    assert(MySqlDialect.walCommitSql("wal").startsWith("UPDATE `wal` SET status = 'COMMITTED'"))
  }

  test("null columns land as SQL NULL, not zero/false/NPE") {
    val url = freshUrl()
    bootstrap(url)
    val df = testDf.withColumn("name",
      when(col("id") % 3 === 0, lit(null: String)).otherwise(concat(lit("n"), col("id"))))
    JdbcSink.write(df, cfg(url))
    assert(queryLong(url, "SELECT COUNT(*) FROM \"files\"") == 100L)
    // 0,3,6,...,99 -> 34 nulls; they must be NULL, not the string "null"/"0"
    assert(queryLong(url, "SELECT COUNT(*) FROM \"files\" WHERE \"name\" IS NULL") == 34L)
    assert(queryLong(url,
      "SELECT COUNT(*) FROM \"files\" WHERE \"name\" IS NOT NULL AND \"name\" LIKE 'n%'") == 66L)
  }

  test("typed columns (timestamp, date, decimal, binary, boolean) with nulls read back equal") {
    val url = freshUrl()
    val df = spark.range(40).select(
      col("id"),
      when(col("id") % 6 === 0, lit(null))
        .otherwise(expr("timestamp_micros(1700000000123456 + id * 3600000001)")).as("ts"),
      when(col("id") % 6 === 1, lit(null))
        .otherwise(expr("date_add(DATE'2024-02-27', CAST(id AS INT))")).as("dt"),
      when(col("id") % 6 === 2, lit(null))
        .otherwise(expr("CAST(id * 1234.57 - 5000 AS DECIMAL(18,2))")).as("amount"),
      when(col("id") % 6 === 3, lit(null))
        .otherwise(expr("unhex(concat('00FF', lpad(hex(id), 4, '0')))")).as("payload"),
      when(col("id") % 6 === 4, lit(null)).otherwise(col("id") % 2 === 0).as("flag"),
      // the fixtures' orders/lineitem/events carry TIMESTAMP_NTZ columns
      when(col("id") % 6 === 5, lit(null))
        .otherwise(expr("TIMESTAMP_NTZ'2024-01-15 10:20:30.123456' + make_dt_interval(0, CAST(id AS INT), 0, 0)"))
        .as("ntz"),
      (col("id") % 4).as("range_id"))
    val columns = Seq("id", "ts", "dt", "amount", "payload", "flag", "ntz")
    val conn = DriverManager.getConnection(url)
    try Ddl.ensureTables(conn, DerbyDialect, "typed",
      StructType(df.schema.filter(f => columns.contains(f.name))), Seq("id"))
    finally conn.close()
    JdbcSink.write(df, cfg(url).copy(table = "typed", columns = columns))

    def comparable(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case d: java.sql.Date => d.toLocalDate
      case other => other
    }
    val expected = df.collect().map(r => r.getLong(0) -> (1 to 6).map(i => comparable(r.get(i)))).toMap
    val read = DriverManager.getConnection(url)
    val actual = try {
      val rs = read.createStatement().executeQuery(
        "SELECT \"id\", \"ts\", \"dt\", \"amount\", \"payload\", \"flag\", \"ntz\" FROM \"typed\"")
      val out = Map.newBuilder[Long, Seq[Any]]
      while (rs.next()) {
        def orNull[T](v: T): Any = if (rs.wasNull()) null else v
        out += rs.getLong(1) -> Seq(
          orNull(rs.getTimestamp(2)), orNull(rs.getDate(3)), orNull(rs.getBigDecimal(4)),
          orNull(rs.getBytes(5)), orNull(rs.getBoolean(6)),
          Option(rs.getTimestamp(7)).map(_.toLocalDateTime).orNull).map(comparable)
      }
      out.result()
    } finally read.close()
    assert(actual == expected)
    assert(expected.values.forall(_.count(_ == null) == 1), "every row carries one NULL column")
  }

  test("the configured retry policy (maxRetries, retryBaseDelayMs) is the one applied") {
    // one partition; the first batch fails with a transient error `n` times
    def failFirstBatch(n: Int)(c: JdbcSink.JdbcConfig): JdbcSink.JdbcConfig = {
      JdbcFailures.reset(n)
      c.copy(onBatch = (_, _) => {
        JdbcFailures.calls.incrementAndGet()
        if (JdbcFailures.remaining.getAndDecrement() > 0)
          throw new SQLTransientException("induced deadlock")
      })
    }
    val one = testDf.coalesce(1)

    val url1 = freshUrl()
    bootstrap(url1)
    intercept[Exception] {
      JdbcSink.write(one, failFirstBatch(3)(cfg(url1).copy(maxRetries = 2)))
    }
    assert(JdbcFailures.calls.get() == 2, "maxRetries = 2 means two attempts")
    assert(queryLong(url1, "SELECT COUNT(*) FROM \"files\"") == 0L)

    val url2 = freshUrl()
    bootstrap(url2)
    JdbcSink.write(one, failFirstBatch(3)(cfg(url2).copy(maxRetries = 4)))
    assert(queryLong(url2, "SELECT COUNT(*) FROM \"files\"") == 100L)

    // backoff is retryBaseDelayMs * 2^n: 200 + 400 ms before the third attempt
    val url3 = freshUrl()
    bootstrap(url3)
    val t0 = System.nanoTime()
    JdbcSink.write(one, failFirstBatch(2)(cfg(url3).copy(retryBaseDelayMs = 200)))
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(elapsedMs >= 600, s"two retries at base 200 ms took only $elapsedMs ms")
    assert(queryLong(url3, "SELECT COUNT(*) FROM \"files\"") == 100L)
  }

  test("user/password options reach the connection (authenticated target)") {
    // Derby with BUILTIN auth: create the db, require authentication at
    // the database level, reboot it, then prove the sink can only
    // connect when JdbcConfig.user/password are forwarded.
    val name = s"auth_${java.util.UUID.randomUUID().toString.take(8)}"
    val url = s"jdbc:derby:memory:$name"
    bootstrap(s"$url;create=true")
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY(" +
        "'derby.user.app', 'secret')")
      st.executeUpdate("CALL SYSCS_UTIL.SYSCS_SET_DATABASE_PROPERTY(" +
        "'derby.connection.requireAuthentication', 'true')")
      st.close()
    } finally conn.close()
    // reboot so the static auth property takes effect
    intercept[java.sql.SQLException] {
      DriverManager.getConnection(s"$url;shutdown=true")
    }
    // unauthenticated connects are now refused...
    intercept[java.sql.SQLException] { DriverManager.getConnection(url) }
    // ...and the write succeeds only because the credentials are forwarded
    JdbcSink.write(testDf, cfg(url).copy(user = "app", password = "secret"))
    val check = DriverManager.getConnection(url, "app", "secret")
    try {
      val rs = check.createStatement().executeQuery("SELECT COUNT(*) FROM \"files\"")
      rs.next(); assert(rs.getLong(1) == 100L)
    } finally check.close()
  }

  test("failed write job resubmitted: committed partial batches are absorbed") {
    val url = freshUrl()
    bootstrap(url)
    // one partition commits two batches, then its third batch fails
    // fatally: the job fails with partial sink state. The resubmitted job
    // re-writes everything; the key-idempotent insert absorbs the overlap
    // and the WAL rows of the committed batches are reused, not duplicated.
    val one = testDf.coalesce(1)
    JdbcFailures.reset(0)
    val failing = cfg(url).copy(onBatch = (_, _) =>
      if (JdbcFailures.calls.incrementAndGet() == 3)
        throw new IllegalStateException("induced task failure after two committed batches"))
    intercept[Exception] { JdbcSink.write(one, failing) }
    assert(queryLong(url, "SELECT COUNT(*) FROM \"files\"") == 14L)
    assert(queryLong(url, "SELECT COUNT(*) FROM \"migration_wal\"") == 2L)
    JdbcSink.write(one, cfg(url)) // the resubmission
    assert(queryLong(url, "SELECT COUNT(*) FROM \"files\"") == 100L)
    assert(queryLong(url, "SELECT COUNT(DISTINCT \"id\") FROM \"files\"") == 100L)
    assert(queryLong(url, "SELECT COUNT(*) FROM \"migration_wal\"") == 15L)
    assert(queryLong(url,
      "SELECT COUNT(*) FROM \"migration_wal\" WHERE \"status\" <> 'COMMITTED'") == 0L)
  }
}
