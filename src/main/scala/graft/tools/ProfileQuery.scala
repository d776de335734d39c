package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-STAGE profiler for any registered query: runs the query verbatim
  * and prints one line per completed stage — executor run time, GC,
  * shuffle read/write bytes and records, input records, task count, and
  * the stage's callsite name. It attributes cost inside the EXACT plan
  * the benchmark runs, never a phase-by-phase replay (a replay re-derives
  * each phase and can diverge from the registered plan under AQE: in the
  * r15 a26 profile the replayed baskets phase alone cost 1,080 CPU-s
  * while the whole registered query cost 1,146).
  *
  * Each rep runs the full physical plan (`queryExecution.toRdd.count()`,
  * the boundary perfbench's digest fold measures), not `Dataset.count()`:
  * Catalyst prunes a count down to a count-only plan, which for a18-class
  * queries skips the very aggregates the full output pays for.
  *
  *   sbt "runMain graft.tools.ProfileQuery a26_market_basket /tmp/sf10 [reps]"
  */
object ProfileQuery {

  private final case class StageRow(id: Int, name: String, wallMs: Long,
    runMs: Long, gcMs: Long, tasks: Int, inRec: Long,
    shufRead: Long, shufReadRec: Long, shufWrite: Long, shufWriteRec: Long,
    spillMem: Long, spillDisk: Long)

  private final class StageLog extends SparkListener {
    val rows = mutable.ArrayBuffer.empty[StageRow]
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      if (m != null) rows.synchronized {
        rows += StageRow(si.stageId, si.name,
          (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L),
          m.executorRunTime, m.jvmGCTime, si.numTasks,
          m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          m.memoryBytesSpilled, m.diskBytesSpilled)
      }
    }
  }

  /** Drain the async listener bus so stage-completed events land in the
    * rep that ran them, not the next one. `listenerBus` is
    * private[spark], so reach it reflectively; if the internals move in
    * a future Spark, fall back to a fixed sleep.
    */
  private def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get.invoke(sc)
      val m = bus.getClass.getMethods
        .filter(m => m.getName == "waitUntilEmpty" && m.getParameterCount <= 1)
        .minBy(_.getParameterCount)
      if (m.getParameterCount == 0) m.invoke(bus)
      else m.invoke(bus, java.lang.Long.valueOf(30000L))
    } catch { case _: Throwable => Thread.sleep(500) }

  def main(args: Array[String]): Unit = {
    val qname = args.headOption.getOrElse(
      sys.error("usage: ProfileQuery <query-name> [sfDir] [reps]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.Mains.session("graft-profile-query")
    val q = graft.SparkEntry.queries.getOrElse(qname,
      sys.error(s"unknown query $qname"))
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)

    for (rep <- 1 to reps) {
      log.rows.synchronized(log.rows.clear())
      val t0 = System.nanoTime()
      val n = q(spark, sfDir).queryExecution.toRdd.count()
      val wall = (System.nanoTime() - t0) / 1e9
      graft.ops.PipelineCache.release()
      drainListenerBus(spark)
      val rows = log.rows.synchronized(log.rows.toVector).sortBy(-_.runMs)
      println(f"== $qname rep $rep: wall=$wall%.1fs rows=$n " +
        f"cpuTotal=${rows.map(_.runMs).sum / 1000.0}%.1fs " +
        f"shufTotal=${rows.map(_.shufWrite).sum / 1e9}%.2fGB ==")
      rows.foreach { r =>
        println(f"STAGE ${r.id}%4d run=${r.runMs / 1000.0}%8.1fs wall=${r.wallMs / 1000.0}%6.1fs " +
          f"gc=${r.gcMs / 1000.0}%5.1fs tasks=${r.tasks}%4d in=${r.inRec}%-11d " +
          f"sR=${r.shufRead / 1e9}%5.2fGB/${r.shufReadRec}%-11d sW=${r.shufWrite / 1e9}%5.2fGB/${r.shufWriteRec}%-11d " +
          f"spill=${(r.spillMem + r.spillDisk) / 1e9}%5.2fGB  ${r.name.take(120)}")
      }
    }
    spark.stop()
  }
}
