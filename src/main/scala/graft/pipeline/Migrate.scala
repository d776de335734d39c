package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

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
  /** Rows currently in the sink per range (T5 verify); control-sized. */
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
    * empty sink instead of crashing (EmptyInputSpec).
    */
  private def readSink(spark: SparkSession): Option[DataFrame] =
    try Some(spark.read.parquet(path)) catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition).contains("UNABLE_TO_INFER_SCHEMA") => None
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

  def totalCount(spark: SparkSession): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(path)))
      readSink(spark).map(_.count()).getOrElse(0L)
    else 0L
  }
}

/** JDBC binding: the batched idempotent INSERT IGNORE sink (K1/K2).
  * Requires the sink table to carry the range_id column so per-range
  * verification stays a single control-sized query.
  */
final case class JdbcTableSink(cfg: JdbcSink.JdbcConfig) extends MigrateSink {
  private def q(id: String) = cfg.dialect.quote(id)

  private def withConn[T](f: java.sql.Connection => T): T = {
    val conn = java.sql.DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
    try f(conn) finally conn.close()
  }

  def write(df: DataFrame, rangeIds: Seq[Long]): Unit = JdbcSink.write(df, cfg)

  def countsByRange(spark: SparkSession, rangeIds: Seq[Long]): Map[Long, Long] =
    if (rangeIds.isEmpty) Map.empty else withConn { conn =>
    // Bound parameters, never interpolated values (control-sized list).
    val qs = Seq.fill(rangeIds.size)("?").mkString(", ")
    val ps = conn.prepareStatement(
      s"SELECT ${q("range_id")}, COUNT(*) FROM ${q(cfg.table)} " +
        s"WHERE ${q("range_id")} IN ($qs) GROUP BY ${q("range_id")}")
    try {
      rangeIds.zipWithIndex.foreach { case (id, i) => ps.setLong(i + 1, id) }
      val rs = ps.executeQuery()
      val buf = scala.collection.mutable.Map.empty[Long, Long]
      while (rs.next()) buf += rs.getLong(1) -> rs.getLong(2)
      buf.toMap
    } finally ps.close()
  }

  def totalCount(spark: SparkSession): Long = withConn { conn =>
    if (!cfg.dialect.tableExists(conn, cfg.table)) 0L
    else {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM ${q(cfg.table)}")
        rs.next(); rs.getLong(1)
      } finally st.close()
    }
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
    // test hook: ranges whose processing throws (simulates executor death)
    failRanges: Set[Long] = Set.empty,
    // binding overrides; defaults derive parquet bindings from the paths
    source: Option[MigrateSource] = None,
    sink: Option[MigrateSink] = None,
    checkpoints: Option[CheckpointStore] = None)

final case class ValidationRow(
    table_name: String, src_count: Long, dst_count: Long, diff: Long, status: String)

class Migrate(spark: SparkSession, cfg: MigrateConfig) {

  private val ranges: Seq[TokenRange] =
    Tokens.split(cfg.numRanges, cfg.ringMin, cfg.ringMax)
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
    val todo = checkpoints.fetchIncomplete()
    if (todo.isEmpty) return Seq.empty
    val todoIds = todo.map(_.range_id)

    if (cfg.failRanges.intersect(todoIds.toSet).nonEmpty)
      throw new RuntimeException(s"induced failure for ranges ${cfg.failRanges}")

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
    * to a source re-scan rather than hanging the driver). The wait runs
    * on a dedicated DAEMON thread, not the global ExecutionContext: a
    * timed-out get would otherwise pin a shared pool thread forever,
    * starving the default ForkJoin pool in a long-lived driver.
    */
  private def observedCounts(obs: Observation): Option[Map[Long, Long]] = {
    val pending = new java.util.concurrent.CompletableFuture[Map[String, Any]]()
    val waiter = new Thread(() =>
      try pending.complete(obs.get)
      catch { case e: Throwable => pending.completeExceptionally(e) },
      "graft-observation-wait")
    waiter.setDaemon(true)
    waiter.start()
    val m =
      try pending.get(30, java.util.concurrent.TimeUnit.SECONDS)
      catch { case _: java.util.concurrent.TimeoutException => Map.empty[String, Any] }
    m.get("written").map {
      case null => Map.empty[Long, Long]
      case mm: scala.collection.Map[_, _] =>
        mm.map { case (k, v) => k.asInstanceOf[Number].longValue() -> v.asInstanceOf[Number].longValue() }.toMap
      case other => sys.error(s"unexpected metric type: ${other.getClass}")
    }
  }

  /** Drive to completion (reference main loop), bounded passes. */
  def run(maxPasses: Int = 3): Unit = {
    var pass = 0
    while (checkpointsIncomplete() && pass < maxPasses) {
      runOnce()
      pass += 1
    }
  }

  def checkpointsIncomplete(): Boolean = {
    checkpoints.seedIfEmpty(ranges)
    checkpoints.fetchIncomplete().nonEmpty
  }

  /** Global validation (T6): source count vs sink count, persisted row. */
  def validate(): ValidationRow = {
    val srcCount = source.read(spark).count()
    val dstCount = sink.totalCount(spark)
    val diff = math.abs(srcCount - dstCount)
    ValidationRow("migrated", srcCount, dstCount, diff,
      if (diff == 0) "OK" else "MISMATCH")
  }
}
