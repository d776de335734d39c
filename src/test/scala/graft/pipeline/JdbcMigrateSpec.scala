package graft.pipeline

import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** The FULL production shape, end-to-end against embedded Derby:
  * parquet source -> token split -> JDBC idempotent batched sink
  * (JdbcTableSink / K1+K2) -> JDBC checkpoint table (JdbcCheckpoints /
  * T2+K3) -> observe()-verified ranges (T5) -> JDBC-counted global
  * validation (T6). Crash-resume and re-run idempotency included —
  * the reference's whole main() contract with a real database in the
  * loop (snapshot_use_pyspark.py:404-468).
  */
class JdbcMigrateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  System.setProperty("derby.stream.error.file", "/tmp/derby.log")
  Class.forName("org.apache.derby.jdbc.EmbeddedDriver")

  private val sinkSchema = StructType(Seq(
    StructField("file_id", LongType),
    StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType),
    StructField("range_id", LongType)))

  private def freshBinding(): (String, MigrateConfig) = {
    val url = s"jdbc:derby:memory:mig_${java.util.UUID.randomUUID().toString.take(8)};create=true"
    val conn = DriverManager.getConnection(url)
    try Ddl.ensureTables(conn, DerbyDialect, "orders_sink", sinkSchema, Seq("file_id"))
    finally conn.close()
    val jdbcCfg = JdbcSink.JdbcConfig(
      url = url, user = "", password = "",
      table = "orders_sink",
      columns = Seq("file_id", "o_custkey", "o_totalprice", "range_id"),
      keyCols = Seq("file_id"),
      dialect = DerbyDialect, batchSize = 200,
      walTable = Some("migration_wal"), retryBaseDelayMs = 1)
    val cfg = MigrateConfig(
      srcPath = s"${SparkTestBase.Sf0001}/orders.parquet",
      keyCol = "o_orderkey",
      numRanges = 4,
      sinkPath = "", checkpointPath = "",
      renames = Map("o_orderkey" -> "file_id"),
      source = Some(new MigrateSource {
        def read(s: org.apache.spark.sql.SparkSession) =
          s.read.parquet(s"${SparkTestBase.Sf0001}/orders.parquet")
            .select("o_orderkey", "o_custkey", "o_totalprice")
      }),
      sink = Some(JdbcTableSink(jdbcCfg)),
      checkpoints = Some(new JdbcCheckpoints(url, "", "", dialect = DerbyDialect)))
    (url, cfg)
  }

  private def queryLong(url: String, sql: String): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  private def execute(url: String, sql: String): Unit = {
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().executeUpdate(sql) finally conn.close()
  }

  /** A sink row whose key no order carries (o_orderkey > 0). */
  private def straySinkRow(url: String, fileId: Long, rangeId: String): Unit =
    execute(url, "INSERT INTO \"orders_sink\" (\"file_id\", \"o_custkey\", " +
      s"\"o_totalprice\", \"range_id\") VALUES ($fileId, 0, 0.0, $rangeId)")

  private val IncompleteSql =
    "SELECT COUNT(*) FROM \"migration_checkpoint\" WHERE \"checkpoint\" < \"range_end\""

  test("migrates every order into Derby exactly once; checkpoints + WAL + validation agree") {
    val (url, cfg) = freshBinding()
    val m = new Migrate(spark, cfg)
    m.run()
    assert(!m.checkpointsIncomplete())
    val v = m.validate()
    assert(v.status == "OK" && v.diff == 0 && v.src_count == 1500)
    assert(queryLong(url, "SELECT COUNT(*) FROM \"orders_sink\"") == 1500L)
    assert(queryLong(url,
      "SELECT COUNT(*) FROM \"migration_checkpoint\" WHERE \"checkpoint\" < \"range_end\"") == 0L)
    assert(queryLong(url,
      "SELECT COUNT(*) FROM \"migration_wal\" WHERE \"status\" <> 'COMMITTED'") == 0L)
  }

  test("crash-resume: induced failure leaves checkpoints incomplete; resume completes to OK") {
    val (url, cfg) = freshBinding()
    val failing = cfg.copy(sink = cfg.sink.map(FailingSink(_, Set(2L))))
    intercept[RuntimeException] { new Migrate(spark, failing).runOnce() }
    assert(queryLong(url,
      "SELECT COUNT(*) FROM \"migration_checkpoint\" WHERE \"checkpoint\" < \"range_end\"") == 4L)
    val m2 = new Migrate(spark, cfg)
    m2.run()
    assert(!m2.checkpointsIncomplete())
    assert(m2.validate().status == "OK")
  }

  test("forced full re-run over an already-loaded sink does not duplicate rows") {
    val (url, cfg) = freshBinding()
    new Migrate(spark, cfg).run()
    // wipe control tables (reference truncate_control_tables) and re-run
    val conn = DriverManager.getConnection(url)
    try Ddl.truncateControlTables(conn, DerbyDialect) finally conn.close()
    val m2 = new Migrate(spark, cfg)
    m2.run()
    assert(!m2.checkpointsIncomplete())
    assert(queryLong(url, "SELECT COUNT(*) FROM \"orders_sink\"") == 1500L)
    assert(m2.validate().status == "OK")
  }

  test("partial checkpoint seed (crash mid-batch) is repaired, not skipped") {
    val (url, cfg) = freshBinding()
    // simulate a seeding crash: only 2 of 4 ranges made it into the table
    // before the process died (the old count>0 guard would never reseed
    // the missing two, silently skipping their data forever)
    val store = new JdbcCheckpoints(url, "", "", dialect = DerbyDialect)
    val ranges = graft.core.Tokens.split(4)
    val conn = DriverManager.getConnection(url)
    try {
      val ps = conn.prepareStatement(
        "INSERT INTO \"migration_checkpoint\" VALUES (?, ?, ?, ?)")
      ranges.take(2).foreach { r =>
        ps.setLong(1, r.rangeId.toLong); ps.setLong(2, r.start)
        ps.setLong(3, r.end); ps.setLong(4, r.start); ps.addBatch()
      }
      ps.executeBatch(); ps.close()
    } finally conn.close()
    store.seedIfEmpty(ranges)
    assert(store.all().size == 4, "missing ranges must be re-seeded")
    val m = new Migrate(spark, cfg)
    m.run()
    assert(!m.checkpointsIncomplete())
    assert(m.validate().status == "OK")
  }

  test("T5: a stray sink row in a pending range fails the pass; no checkpoint completes") {
    val (url, cfg) = freshBinding()
    straySinkRow(url, -1L, "2")
    val e = intercept[RuntimeException] { new Migrate(spark, cfg).runOnce() }
    assert(e.getMessage == "range verification failed: 2")
    assert(queryLong(url, IncompleteSql) == 4L)
  }

  test("T5: sink rows outside the pass and rows with NULL range_id do not fail verification") {
    val (url, cfg) = freshBinding()
    val sink = cfg.sink.get
    straySinkRow(url, -1L, "NULL")
    // a NULL range_id belongs to no range; in particular not to range 0
    assert(sink.countsByRange(spark, Seq(0L)) == Map.empty)
    new Migrate(spark, cfg).run()
    // resume ranges 0 and 2 while completed range 1 holds a stray row
    execute(url, "UPDATE \"migration_checkpoint\" SET \"checkpoint\" = \"range_start\" " +
      "WHERE \"range_id\" IN (0, 2)")
    straySinkRow(url, -2L, "1")
    assert(new Migrate(spark, cfg).runOnce() == Seq(0L, 2L))
    assert(queryLong(url, IncompleteSql) == 0L)
    assert(sink.countsByRange(spark, Seq(0L, 2L)).keySet == Set(0L, 2L))
  }

  test("a single-pass run() seeds once: seed, fetch, mark, re-fetch") {
    val (_, cfg) = freshBinding()
    val inner = cfg.checkpoints.get
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    val counted = new CheckpointStore {
      def seedIfEmpty(ranges: Seq[graft.core.Tokens.TokenRange]): Unit = {
        calls += "seed"; inner.seedIfEmpty(ranges)
      }
      def all(): Seq[CheckpointRange] = { calls += "all"; inner.all() }
      override def fetchIncomplete(): Seq[CheckpointRange] = {
        calls += "fetch"; inner.fetchIncomplete()
      }
      def markComplete(rangeIds: Seq[Long]): Unit = {
        calls += "mark"; inner.markComplete(rangeIds)
      }
    }
    new Migrate(spark, cfg.copy(checkpoints = Some(counted))).run()
    assert(calls == Seq("seed", "fetch", "mark", "fetch"))
  }
}
