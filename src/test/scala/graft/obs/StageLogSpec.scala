package graft.obs

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Pins the one stage-metrics listener that Bench's cpu_s and
  * ProfileQuery's per-stage lines read: a window drained after its jobs
  * holds their stages, named by their operators, and executor CPU, and
  * an idle window holds none.
  */
class StageLogSpec extends AnyFunSuite {

  test("stage log: a drained aggregate records executor CPU and its stages; an idle window records 0") {
    val spark = SparkTestBase.spark
    val log = StageLog.attach(spark)
    try {
      log.clear()
      spark.range(0, 2000000, 1, 4).groupBy((col("id") % 97).as("k"))
        .agg(sum("id")).collect()
      val rows = log.drain(spark)
      assert(rows.nonEmpty, "the aggregate's stages must be in once the bus is drained")
      assert(rows.map(_.tasks).sum >= 4)
      assert(StageLog.cpuSeconds(rows) > 0.0)
      // named by the operators that ran, not by the AQE callsite
      assert(rows.forall(r => !r.name.contains("CompletableFuture") && !r.name.contains(".java:")),
        rows.map(_.name).mkString("; "))
      assert(rows.exists(_.name.contains("Exchange")), rows.map(_.name).mkString("; "))
      assert(rows.exists(_.name.contains("AQEShuffleRead")), rows.map(_.name).mkString("; "))

      log.clear()
      val idle = log.drain(spark)
      assert(idle.isEmpty && StageLog.cpuSeconds(idle) === 0.0)
    } finally spark.sparkContext.removeSparkListener(log)
  }
}
