package graft.pipeline

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration.DurationInt

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.{Sanitize, Tokens}
import graft.core.Tokens.TokenRange
import graft.functions.CountByKey

/** Pluggable source seam: parquet for fixtures; the production binding
  * is the Cassandra connector (token ranges = native input splits) —
  * same trait, drop-in (BASELINE.json spark_approach).
  */
trait MigrateSource extends Serializable {
  def read(spark: SparkSession): DataFrame
}

final case class ParquetSource(path: String) extends MigrateSource {
  def read(spark: SparkSession): DataFrame = spark.read.parquet(path)
}

/** Pluggable sink seam. Contract: `write` must be idempotent per range —
  * re-running a range must not duplicate rows (K1's effectively-once).
  */
trait MigrateSink extends Serializable {
  def write(df: DataFrame, rangeIds: Seq[Long]): Unit
  /** Rows currently in the sink per range (T5 verify). Counts only the
    * given `rangeIds`; rows whose `range_id` is NULL are not counted; at
    * most one entry per range, so the result is control-sized.
    */
  def countsByRange(spark: SparkSession, rangeIds: Seq[Long]): Map[Long, Long]
  /** Total sink rows (T6 global validation); 0 if the sink is absent. */
  def totalCount(spark: SparkSession): Long
}

/** Parquet binding: dynamic partition overwrite keyed by range_id —
  * re-running a range atomically replaces exactly its partitions, the
  * same effectively-once contract as INSERT IGNORE on a unique key.
  * The overwrite mode is scoped to THIS writer (option), not the session.
  */
final case class ParquetSink(path: String) extends MigrateSink {
  def write(df: DataFrame, rangeIds: Seq[Long]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("range_id")
      .parquet(path)

  /** A dynamic-overwrite write of an EMPTY frame leaves the sink path
    * with a _SUCCESS marker but no partition directories; schema
    * inference then throws UNABLE_TO_INFER_SCHEMA. That condition means
    * "zero data files", so the verify/validate reads treat it as an
    * empty sink instead of crashing (EmptyInputSpec), as they treat a
    * sink path that was never written (PATH_NOT_FOUND).
    */
  private def readSink(spark: SparkSession): Option[DataFrame] =
    try Some(spark.read.parquet(path)) catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).exists(Set("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND")) => None
    }

  def countsByRange(spark: SparkSession, rangeIds: Seq[Long]): Map[Long, Long] =
    readSink(spark).map {
      // driver-sized: one aggregated row per token range
      _.where(col("range_id").isin(rangeIds: _*))
        .groupBy("range_id").agg(count(lit(1)).as("a"))
        .collect()
        .map(r => r.getAs[Number]("range_id").longValue() -> r.getAs[Long]("a"))
        .toMap
    }.getOrElse(Map.empty)

  def totalCount(spark: SparkSession): Long = readSink(spark).map(_.count()).getOrElse(0L)
}

/** JDBC binding: the batched idempotent INSERT IGNORE sink (K1/K2); the
  * sink table carries range_id. Verify runs one parameter-free GROUP BY
  * (one plan per table, no placeholder cap on numRanges) and filters the
  * ids here; range_id has no index, so an IN-list scans the table too.
  */
final case class JdbcTableSink(cfg: JdbcSink.JdbcConfig) extends MigrateSink {
  private def q(id: String) = cfg.dialect.quote(id)

  private def withConn[T](f: java.sql.Connection => T): T = {
    val conn = java.sql.DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    try f(conn) finally conn.close()
  }

  private def query[T](conn: java.sql.Connection, sql: String)(f: java.sql.ResultSet => T): T = {
    val st = conn.createStatement()
    try f(st.executeQuery(sql)) finally st.close()
  }

  def write(df: DataFrame, rangeIds: Seq[Long]): Unit = JdbcSink.write(df, cfg)

  def countsByRange(spark: SparkSession, rangeIds: Seq[Long]): Map[Long, Long] = withConn { conn =>
    val wanted = rangeIds.toSet
    val rid = q("range_id")
    query(conn, s"SELECT $rid, COUNT(*) FROM ${q(cfg.table)} GROUP BY $rid") { rs =>
      val buf = Map.newBuilder[Long, Long]
      while (rs.next()) {
        val id = rs.getLong(1)
        if (!rs.wasNull() && wanted(id)) buf += id -> rs.getLong(2)
      }
      buf.result()
    }
  }

  def totalCount(spark: SparkSession): Long = withConn { conn =>
    if (!cfg.dialect.tableExists(conn, cfg.table)) 0L
    else query(conn, s"SELECT COUNT(*) FROM ${q(cfg.table)}") { rs => rs.next(); rs.getLong(1) }
  }
}

/** The end-to-end migration pipeline — the reference's main() re-expressed
  * Spark-first (SURVEY.md §3.1):
  *
  *   split ring (T1) -> seed checkpoints (T2) -> loop:
  *     scan incomplete ranges (S1/P4) -> sanitize (P7) -> project/rename
  *     (P1/P3) -> idempotent range-partitioned sink (K1) -> verify counts
  *     per range (T5) -> mark checkpoints (K3)
  *   -> global validation row (T6/K4).
  *
  * Differences from the reference, deliberate and Spark-idiomatic:
  *  - one Spark job processes ALL incomplete ranges (partition pruning by
  *    range predicate), not a Python loop over per-range connections;
  *  - per-range verification counts come from the WRITE JOB ITSELF via
  *    observe() — no second source scan (the reference re-counts the
  *    source per range: 2x read amplification at 100 TB);
  *  - batch ids are deterministic ((partitionId << 20) | batchIndex), not
  *    time-derived — fixing the reference's collision-prone
  *    time.time()*1000+i (SURVEY §7.4).
  *
  * Source, sink, and checkpoint store are pluggable traits; parquet
  * bindings serve fixtures, JDBC bindings (JdbcTableSink/JdbcCheckpoints)
  * are the production shape, exercised end-to-end in JdbcMigrateSpec.
  */
final case class MigrateConfig(
    srcPath: String,
    keyCol: String,
    numRanges: Int,
    sinkPath: String,
    checkpointPath: String,
    policy: Sanitize.NullPolicy = Sanitize.NullPolicy(),
    renames: Map[String, String] = Map.empty,
    // Token function + ring are pluggable (SURVEY §7.4): the oracle-ring
    // multiplicative hash by default (DuckDB-checkable), full signed-64
    // ring with xxhash64 or cassandra_token for production parity.
    tokenFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column = Tokens.tokenOracle,
    ringMin: Long = Tokens.OracleRingMin,
    ringMax: Long = Tokens.OracleRingMax,
    // binding overrides; defaults derive parquet bindings from the paths
    source: Option[MigrateSource] = None,
    sink: Option[MigrateSink] = None,
    checkpoints: Option[CheckpointStore] = None)

final case class ValidationRow(
    table_name: String, src_count: Long, dst_count: Long, diff: Long, status: String)

class Migrate(spark: SparkSession, cfg: MigrateConfig) {

  private val ranges: Seq[TokenRange] =
    Tokens.split(cfg.numRanges, cfg.ringMin, cfg.ringMax)
  private val bounds: Map[Long, (Long, Long)] =
    ranges.map(r => r.rangeId.toLong -> (r.start, r.end)).toMap
  private val source: MigrateSource = cfg.source.getOrElse(ParquetSource(cfg.srcPath))
  private val sink: MigrateSink = cfg.sink.getOrElse(ParquetSink(cfg.sinkPath))
  private val checkpoints: CheckpointStore =
    cfg.checkpoints.getOrElse(new Checkpoints(spark, cfg.checkpointPath))

  private def tokenized(): DataFrame =
    source.read(spark)
      .withColumn("token_key", cfg.tokenFn(col(cfg.keyCol)))
      .withColumn("range_id", Tokens.rangeId(col("token_key"), cfg.numRanges, cfg.ringMin, cfg.ringMax))

  /** One driver iteration: process every incomplete range in a single
    * distributed job; returns the ranges completed this pass.
    */
  def runOnce(): Seq[Long] = {
    checkpoints.seedIfEmpty(ranges)
    migrate(checkpoints.fetchIncomplete())
  }

  /** A checkpoint table seeded by a different split would have its
    * foreign ranges filtered to nothing by the range predicate and then
    * marked complete with no row written, so refuse it before any write.
    */
  private def requireOwnSplit(todo: Seq[CheckpointRange]): Unit =
    todo.find(r => !bounds.get(r.range_id).contains((r.range_start, r.range_end))).foreach { r =>
      throw new IllegalStateException(
        s"checkpoint range ${r.range_id} (${r.range_start}, ${r.range_end}] is not a range " +
          s"of this ${cfg.numRanges}-range split; the checkpoint table was seeded by another " +
          "split. Reset it (Ddl.truncateControlTables, or delete the parquet checkpoint path) " +
          "to start over with this split.")
    }

  private def migrate(todo: Seq[CheckpointRange]): Seq[Long] = {
    if (todo.isEmpty) return Seq.empty
    requireOwnSplit(todo)
    val todoIds = todo.map(_.range_id)

    // Migrate.sinkSchema derives the JDBC sink's columns from this projection
    val renamed = cfg.renames.foldLeft(
      Sanitize.sanitize(tokenized(), cfg.policy)) { case (df, (from, to)) =>
      df.withColumnRenamed(from, to)
    }

    // observe(): the write job itself reports rows written per range, so
    // verification needs no second source scan.
    val obs = Observation()
    val out = renamed
      .where(col("range_id").isin(todoIds: _*))
      .observe(obs, CountByKey.countByKey(col("range_id")).as("written"))
    sink.write(out, todoIds)

    // Per-range verification (T5): written (observed) vs sink counts,
    // compared over the UNION of keys so orphan sink-only ranges are
    // caught too (full-outer semantics).
    val written = observedCounts(obs).getOrElse {
      // listener never fired (defensive): fall back to a source re-scan
      // driver-sized: one aggregated row per token range
      tokenized().where(col("range_id").isin(todoIds: _*))
        .groupBy("range_id").agg(count(lit(1)).as("e"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val actual = sink.countsByRange(spark, todoIds)
    val mismatched = (written.keySet ++ actual.keySet).toSeq.sorted
      .filter(id => written.getOrElse(id, 0L) != actual.getOrElse(id, 0L))
    if (mismatched.nonEmpty)
      throw new RuntimeException(s"range verification failed: ${mismatched.mkString(",")}")

    checkpoints.markComplete(todoIds)
    todoIds
  }

  /** Wait briefly for the observation; None if the metric never arrived
    * (obs.get blocks forever, so bound it — correctness then falls back
    * to a source re-scan rather than hanging the driver).
    */
  private def observedCounts(obs: Observation): Option[Map[Long, Long]] =
    try Some(Await.result(obs.future, 30.seconds).getAs[Any]("written") match {
      case null => Map.empty[Long, Long]
      case mm: scala.collection.Map[_, _] =>
        mm.map { case (k, v) => k.asInstanceOf[Number].longValue() -> v.asInstanceOf[Number].longValue() }.toMap
      case other => sys.error(s"unexpected metric type: ${other.getClass}")
    })
    catch { case _: TimeoutException => None }

  /** Drive to completion (reference main loop), bounded passes; seeds once. */
  def run(maxPasses: Int = 3): Unit = {
    checkpoints.seedIfEmpty(ranges)
    var todo = checkpoints.fetchIncomplete()
    for (pass <- 1 to maxPasses if todo.nonEmpty) {
      migrate(todo)
      if (pass < maxPasses) todo = checkpoints.fetchIncomplete()
    }
  }

  def checkpointsIncomplete(): Boolean = {
    checkpoints.seedIfEmpty(ranges)
    checkpoints.fetchIncomplete().nonEmpty
  }

  /** Global validation (T6): source count vs sink count. The row is not
    * persisted here; `MigrateMain` records it through
    * `JdbcTarget.recordValidation` (K4).
    */
  def validate(): ValidationRow = {
    val srcCount = source.read(spark).count()
    val dstCount = sink.totalCount(spark)
    val diff = math.abs(srcCount - dstCount)
    ValidationRow("migrated", srcCount, dstCount, diff,
      if (diff == 0) "OK" else "MISMATCH")
  }
}

object Migrate {

  /** The columns `migrate` writes to a JDBC sink: the source's, renamed
    * by `renames`, plus `range_id` (`token_key` is not written).
    */
  def sinkSchema(source: StructType, renames: Map[String, String]): StructType =
    StructType(source.fields.map(f => f.copy(name = renames.getOrElse(f.name, f.name))) :+
      StructField("range_id", LongType))
}
