package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** TEST-ONLY sink decorator: `write` throws, before the wrapped sink sees
  * any row, whenever the pass includes one of `failRanges` (a writer that
  * dies before its first batch). Reads pass through unchanged.
  */
final case class FailingSink(inner: MigrateSink, failRanges: Set[Long]) extends MigrateSink {
  def write(df: DataFrame, rangeIds: Seq[Long]): Unit =
    if (rangeIds.exists(failRanges)) throw new RuntimeException(s"induced failure for ranges $failRanges")
    else inner.write(df, rangeIds)

  def countsByRange(spark: SparkSession, rangeIds: Seq[Long]): Map[Long, Long] =
    inner.countsByRange(spark, rangeIds)

  def totalCount(spark: SparkSession): Long = inner.totalCount(spark)
}
