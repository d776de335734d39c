package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loaders. The driver fixtures (TESTDATA.md) are one parquet
  * file per table under an sf directory; at production scale the same names
  * bind to whatever DataSource holds the data (Cassandra connector, etc. —
  * see reference snapshot_use_pyspark.py:218 for the source-table addressing
  * this generalizes).
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, table: String): DataFrame =
    spark.read.parquet(s"$sfDir/$table.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
  /** events.ts has shipped in two physical forms across fixture
    * generations: parquet TIMESTAMP(NANOS) — which Spark's vectorized
    * reader rejects, so it is read as raw long nanos (legacy conf) and
    * floor-divided to microsecond timestamps, the same truncation DuckDB
    * applies — and, in newer fixtures, native TIMESTAMP(MICROS), which
    * needs no conversion. Dispatch on the READ schema, not the fixture
    * generation, so both forms load identically.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // Session-level contract, documented: nanosAsLong must be true at
    // PLAN time for any query over events (graft.Mains.session and the
    // test session set it at construction; this set makes ad-hoc
    // sessions work too). It only affects files carrying
    // TIMESTAMP(NANOS) columns; on micros fixtures it is a no-op.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(spark, sfDir, "events"))
  }

  /** `events` (batch or stream) with `ts` as TimestampType, whichever of
    * the physical forms above it was read in.
    */
  def normalizeEventTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case TimestampNTZType =>
        // parquet TIMESTAMP(MICROS) without timezone reads as TIMESTAMP_NTZ;
        // cast to TimestampType (exact under the UTC session TZ every entry
        // point pins) so unix_micros & friends resolve.
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts has unexpected type $other (expected long nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
