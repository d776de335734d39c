package graft.obs

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** One completed stage's task metrics, summed over its tasks.
  * `runMs` is task wall time (it inflates when tasks wait for a core);
  * `cpuNs` is executor CPU time, which does not.
  */
final case class StageRow(id: Int, name: String, wallMs: Long,
  runMs: Long, cpuNs: Long, gcMs: Long, tasks: Int, inRec: Long,
  shufRead: Long, shufReadRec: Long, shufWrite: Long, shufWriteRec: Long,
  spillMem: Long, spillDisk: Long)

/** The one stage-metrics listener: records a [[StageRow]] per completed
  * stage. Callers bracket a unit of work with [[clear]] and [[drain]];
  * skipped stages never complete, so only stages that ran are recorded.
  */
final class StageLog extends SparkListener {
  private val rows = mutable.ArrayBuffer.empty[StageRow]

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val m = si.taskMetrics
    if (m != null) rows.synchronized {
      rows += StageRow(si.stageId, si.name,
        (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, si.numTasks,
        m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled, m.diskBytesSpilled)
    }
  }

  def clear(): Unit = rows.synchronized(rows.clear())

  /** Every stage completed since the last [[clear]], after draining the
    * listener bus so the stages of jobs that already returned are in.
    */
  def drain(spark: SparkSession): Vector[StageRow] = {
    StageLog.drainListenerBus(spark)
    rows.synchronized(rows.toVector)
  }
}

object StageLog {
  def attach(spark: SparkSession): StageLog = {
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    log
  }

  /** Summed executor CPU seconds of `rows`. */
  def cpuSeconds(rows: Seq[StageRow]): Double = rows.map(_.cpuNs).sum / 1e9

  /** Block until the async listener bus is empty, so stage-completed
    * events land in the window that ran them, not the next one.
    * `listenerBus` is private[spark], so reach it reflectively; if the
    * internals move in a future Spark, fall back to a fixed sleep.
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
}
