package graft.pipeline

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions
import graft.core.Tokens
import graft.functions.CassandraToken

/** CLI driver for the migration pipeline — the reference's
  * SnapshotConfig + main() surface (snapshot_use_pyspark.py:26-46,
  * 404-468) as arguments:
  *
  *   runMain graft.pipeline.MigrateMain \
  *     --src /path/src.parquet --key o_orderkey --ranges 64 \
  *     --sink /path/sink --checkpoints /path/cp \
  *     [--rename o_orderkey=file_id[,a=b...]] [--passes 3] \
  *     [--jdbc-url jdbc:... --jdbc-user u --jdbc-password p \
  *      --jdbc-table t --jdbc-key-cols id]
  *
  * With --jdbc-url, `JdbcTarget.bind` bootstraps the sink and control
  * tables (K5) and binds the sink, with its WAL always on, and the
  * checkpoint store to the database; the validation row is then
  * recorded there (K4). Otherwise the parquet bindings are used. A flag
  * the CLI does not read, or a flag without a value, fails before any
  * table or Spark job is created. Exit code 0 iff validation says OK.
  *
  * With --cassandra-keyspace/--cassandra-table (and optionally
  *  --cassandra-host, default 127.0.0.1) the SOURCE binds to the
  * jar-gated Spark Cassandra connector instead of --src, and the token
  * function switches to the exact Murmur3 `cassandra_token` over the
  * full signed-64 ring, so checkpoint ranges align with the server's
  * Murmur3Partitioner — the reference's Cassandra->MySQL shape end to
  * end (tools/cassandra_conformance.sh is the deploy gate).
  */
object MigrateMain {

  private val Flags = Set(
    "master", "shuffle-partitions", "src", "key", "ranges", "sink", "checkpoints",
    "rename", "passes", "cassandra-keyspace", "cassandra-table", "cassandra-host",
    "jdbc-url", "jdbc-user", "jdbc-password", "jdbc-table", "jdbc-key-cols")

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") && Flags(k.drop(2)) => k.drop(2) -> v
      case Array(k, _) => throw new IllegalArgumentException(s"unknown flag $k")
      case Array(k) => throw new IllegalArgumentException(s"flag $k has no value")
    }.toMap

  /** Parse, bind, run and validate; the JDBC binding also records the
    * validation row under the --jdbc-table name.
    */
  def run(spark: SparkSession, args: Array[String]): ValidationRow = {
    val a = parseArgs(args)
    def req(k: String): String =
      a.getOrElse(k, sys.error(s"missing required --$k"))

    val cassandra = a.get("cassandra-keyspace").map { ks =>
      CassandraSource(ks, req("cassandra-table"),
        Map("spark.cassandra.connection.host" ->
          a.getOrElse("cassandra-host", "127.0.0.1")))
    }
    val jdbc = a.get("jdbc-url").map { url =>
      JdbcTarget(url, a.getOrElse("jdbc-user", ""), a.getOrElse("jdbc-password", ""),
        req("jdbc-table"), req("jdbc-key-cols").split(',').toSeq)
    }
    val cfg = MigrateConfig(
      srcPath = if (cassandra.isDefined) a.getOrElse("src", "") else req("src"),
      keyCol = req("key"),
      numRanges = a.getOrElse("ranges", "64").toInt,
      sinkPath = a.getOrElse("sink", ""),
      checkpointPath = a.getOrElse("checkpoints", ""),
      renames = a.get("rename").map(_.split(',').map { kv =>
        val Array(f, t) = kv.split('='); f -> t
      }.toMap).getOrElse(Map.empty),
      tokenFn = if (cassandra.isDefined) CassandraToken.cassandra_token
                else Tokens.tokenOracle,
      ringMin = if (cassandra.isDefined) Tokens.RingMin else Tokens.OracleRingMin,
      ringMax = if (cassandra.isDefined) Tokens.RingMax else Tokens.OracleRingMax,
      source = cassandra)
    val passes = a.getOrElse("passes", "3").toInt

    val m = new Migrate(spark, jdbc.fold(cfg)(_.bind(spark, cfg)))
    m.run(passes)
    val v = m.validate()
    jdbc.foreach(_.recordValidation(v))
    v
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val spark = SparkSession.builder()
      .master(a.getOrElse("master", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"))
      .appName("graft-migrate")
      .config("spark.sql.shuffle.partitions", a.getOrElse("shuffle-partitions", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions)
      .getOrCreate()

    val v = try run(spark, args) finally spark.stop()
    // one parseable result line, like the reference's final log
    println(s"""{"table":"${v.table_name}","src":${v.src_count},"dst":${v.dst_count},"diff":${v.diff},"status":"${v.status}"}""")
    if (v.status != "OK") sys.exit(2)
  }
}
