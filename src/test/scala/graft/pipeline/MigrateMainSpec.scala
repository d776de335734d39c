package graft.pipeline

import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The CLI path: `MigrateMain.run` with the conformance scripts' flags
  * (tools/mysql_conformance.sh) against in-memory Derby and against the
  * MySqlDialect text over `jdbc:mysqlemu:`. Checks the sink, the WAL
  * the CLI always writes, the K4 validation row, and that a re-run
  * changes nothing.
  */
class MigrateMainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  System.setProperty("derby.stream.error.file", "/tmp/derby.log")
  Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
  MySqlEmu.register

  private def flags(url: String): Array[String] = Array(
    "--src", s"${SparkTestBase.Sf0001}/orders.parquet", "--key", "o_orderkey",
    "--ranges", "16", "--rename", "o_orderkey=file_id",
    "--jdbc-url", url, "--jdbc-user", "user", "--jdbc-password", "password",
    "--jdbc-table", "orders_sink", "--jdbc-key-cols", "file_id")

  /** `q` names an identifier as the dialect's DDL created it: quoted on
    * Derby, bare over the bridge (which drops MySQL's backticks).
    */
  private def checkCli(url: String, q: String => String): Unit = {
    def count(sql: String): Long = {
      val conn = DriverManager.getConnection(url, "user", "password")
      try {
        val rs = conn.createStatement().executeQuery(sql)
        rs.next(); rs.getLong(1)
      } finally conn.close()
    }
    val sinkRows = s"SELECT COUNT(*) FROM ${q("orders_sink")}"
    val validationRows = s"SELECT COUNT(*) FROM ${q("migration_validation")}"

    val v = MigrateMain.run(spark, flags(url))
    assert(v.status == "OK" && v.diff == 0 && v.src_count == 1500)
    assert(count(sinkRows) == 1500L)
    assert(count(s"SELECT COUNT(*) FROM ${q("migration_wal")}") > 0L)
    assert(count(s"SELECT COUNT(*) FROM ${q("migration_wal")} " +
      s"WHERE ${q("status")} <> 'COMMITTED'") == 0L)
    assert(count(validationRows) == 1L)
    assert(count(s"SELECT COUNT(*) FROM ${q("migration_validation")} " +
      s"WHERE ${q("table_name")} = 'orders_sink' AND ${q("diff")} = 0 " +
      s"AND ${q("src_count")} = 1500 AND ${q("status")} = 'OK'") == 1L)

    assert(MigrateMain.run(spark, flags(url)).status == "OK")
    assert(count(sinkRows) == 1500L)
    assert(count(validationRows) == 1L)
  }

  private def memoryDb(prefix: String): String =
    s"${prefix}memory:cli_${java.util.UUID.randomUUID().toString.take(8)};create=true"

  test("CLI on Derby: sink, WAL and one validation row; a re-run changes nothing") {
    checkCli(memoryDb("jdbc:derby:"), id => "\"" + id + "\"")
  }

  test("CLI on the MySqlDialect text (jdbc:mysqlemu:): same checks") {
    MySqlEmu.reset(Map(
      "orders_sink" -> Seq("file_id"), "migration_checkpoint" -> Seq("range_id")))
    checkCli(memoryDb(MySqlEmu.Prefix), identity)
  }

  test("an unknown flag or a flag without a value fails before any table is created") {
    val url = memoryDb("jdbc:derby:")
    val typo = intercept[IllegalArgumentException] {
      MigrateMain.run(spark, flags(url) ++ Array("--jdbc-wal", "migration_wal"))
    }
    assert(typo.getMessage.contains("--jdbc-wal"))
    val dangling = intercept[IllegalArgumentException] {
      MigrateMain.run(spark, flags(url) :+ "--passes")
    }
    assert(dangling.getMessage.contains("--passes"))
    val conn = DriverManager.getConnection(url, "user", "password")
    try assert(!DerbyDialect.tableExists(conn, "orders_sink")) finally conn.close()
  }
}
