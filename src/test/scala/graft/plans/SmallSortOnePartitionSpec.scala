package graft.plans

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** With AQE on, a global sort over an aggregate that a materialized stage
  * proves small shuffles into one partition: no range-sample job, same
  * order. Above `minPartitionSize`, or over input stages measured above
  * `advisoryPartitionSizeInBytes`, the range exchange stays.
  */
class SmallSortOnePartitionSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestBase.spark
  private val MinSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
  private val AdvisorySize = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** 40k rows, 25 keys (one NULL), sums with ties across keys. */
  private def small(): DataFrame = {
    val rows = (0 until 40000).map { i =>
      val k = i % 25
      Row(if (k == 0) null else Integer.valueOf(k), if (k % 5 == 1) 0 else i % 3)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      org.apache.spark.sql.types.StructType.fromDDL("k INT, v INT"))
      .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
  }

  private def run(df: DataFrame): (Array[Row], Int, Seq[Partitioning]) = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val rows = df.collect()
      GraftAccess.drainListenerBus(spark.sparkContext)
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case s: SortExec if s.global => s }.size == 1)
      (rows, jobs.get, collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning })
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def withConf[T](key: String, v: String)(f: => T): T = {
    val old = spark.conf.get(key)
    spark.conf.set(key, v)
    try f finally spark.conf.set(key, old)
  }

  test("a small sorted aggregate sorts in one partition and runs one job fewer") {
    val (rows, jobs, parts) = run(small().orderBy("k"))
    assert(parts.contains(SinglePartition))
    assert(!parts.exists(_.isInstanceOf[RangePartitioning]))
    val (ranged, rangedJobs, rangedParts) = withConf(MinSize, "1")(run(small().orderBy("k")))
    assert(rangedParts.exists(_.isInstanceOf[RangePartitioning]),
      "a child above minPartitionSize keeps the range exchange")
    assert(!rangedParts.contains(SinglePartition))
    assert(jobs == rangedJobs - 1, s"one partition: $jobs jobs, ranges: $rangedJobs")
    assert(rows.toSeq == ranged.toSeq)
  }

  test("input stages measured above advisoryPartitionSizeInBytes keep the range exchange") {
    // 25 output rows estimate far under minPartitionSize, but the partial
    // aggregate's stage (about a hundred rows) measures more than 64 bytes
    val (rows, _, parts) = withConf(AdvisorySize, "64")(run(small().orderBy("k")))
    assert(parts.exists(_.isInstanceOf[RangePartitioning]))
    assert(!parts.contains(SinglePartition))
    assert(rows.toSeq == run(small().orderBy("k"))._1.toSeq)
  }

  test("one-partition order equals the expected order: ASC/DESC, NULLS FIRST/LAST, ties") {
    val expected = small().collect().toSeq
    def key(r: Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.get(i).asInstanceOf[Number].longValue)
    val cases: Seq[(Seq[Column], Ordering[Row])] = Seq(
      (Seq(col("k").asc_nulls_first),
        Ordering.by[Row, Option[Long]](key(_, 0))),
      (Seq(col("k").asc_nulls_last),
        Ordering.by[Row, (Boolean, Option[Long])](r => (r.isNullAt(0), key(r, 0)))),
      (Seq(col("k").desc_nulls_first),
        Ordering.by[Row, (Boolean, Long)](r => (!r.isNullAt(0), -key(r, 0).getOrElse(0L)))),
      (Seq(col("s").desc, col("k").asc_nulls_last),
        Ordering.by[Row, (Long, Boolean, Option[Long])](r =>
          (-key(r, 1).get, r.isNullAt(0), key(r, 0)))))
    cases.foreach { case (order, ord) =>
      val (rows, _, parts) = run(small().orderBy(order: _*))
      assert(parts.contains(SinglePartition), order.mkString(", "))
      assert(rows.toSeq == expected.sorted(ord), order.mkString(", "))
    }
    // ties: only the sort key decides, so compare the key sequence and the multiset
    val (tied, _, parts) = run(small().orderBy(col("s").asc))
    assert(parts.contains(SinglePartition))
    assert(tied.map(_.getLong(1)).toSeq == expected.map(_.getLong(1)).sorted)
    assert(tied.toSeq.sortBy(_.toString) == expected.sortBy(_.toString))
  }
}
