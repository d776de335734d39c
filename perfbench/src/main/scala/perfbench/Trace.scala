package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory tracing for the traced run: spans (name, start, end, parent)
  * plus named counters. Nothing here is touched by an untraced run.
  *
  * A span's parent is the innermost open span on the same thread; on a
  * thread with no open span (a Spark task thread) it is the innermost span
  * open on the driver thread, so JDBC calls made by write tasks hang under
  * the `sink.write` span that launched them.
  */
object Trace {
  final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
      thread: String)

  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  @volatile private var driverTop: Long = 0L
  private val driverThread = Thread.currentThread()

  private val times = new ConcurrentHashMap[String, DoubleAdder]()
  private val counts = new ConcurrentHashMap[String, AtomicLong]()

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(driverTop)
      val onDriver = Thread.currentThread() eq driverThread
      stack.set(id :: outer)
      if (onDriver) driverTop = id
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        if (onDriver) driverTop = outer.headOption.getOrElse(0L)
        spans.add(Span(id, parent, name, t0, t1, Thread.currentThread().getName))
        addTime(name, (t1 - t0) / 1e9)
      }
    }

  def addTime(name: String, secs: Double): Unit =
    times.computeIfAbsent(name, _ => new DoubleAdder).add(secs)
  def count(name: String, n: Long = 1L): Unit =
    counts.computeIfAbsent(name, _ => new AtomicLong).addAndGet(n)

  /** Snapshot of all timers (seconds) and counters. */
  def snapshot(): Map[String, Double] =
    times.asScala.map { case (k, v) => k -> v.sum() }.toMap ++
      counts.asScala.map { case (k, v) => k -> v.get().toDouble }.toMap

  /** Differences between two snapshots (for per-phase attribution). */
  def delta(before: Map[String, Double], after: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }.withDefaultValue(0.0)

  /** One JSON object per span, in start order. */
  def writeSpans(path: java.nio.file.Path): Int = {
    val all = spans.asScala.toSeq.sortBy(_.startNs)
    val base = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}",""" +
        s""""start_us":${(s.startNs - base) / 1000},"end_us":${(s.endNs - base) / 1000},""" +
        s""""thread":"${Json.esc(s.thread)}"}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
    lines.size
  }
}

/** Task metrics rolled up per Spark job group. Groups are set with
  * `setJobGroup` around each traced call; a job's group is read from its
  * start-event properties, and stage/task events map back through it.
  */
final class GroupListener extends SparkListener {
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var peakExecMem = 0L; var inputRecords = 0L
    val runTimesMs = mutable.ArrayBuffer.empty[Long]
  }

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val aggs = mutable.Map.empty[String, Agg]

  private def agg(g: String): Agg = aggs.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    agg(g).jobs += 1
    e.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    // skipped stages never complete, so this counts the stages that ran
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(g => agg(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("(none)")
    val a = agg(g)
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      a.inputRecords += m.inputMetrics.recordsRead
      a.runTimesMs += m.executorRunTime
    }
  }

  /** Merge of every group accepted by `p`. */
  def rollup(p: String => Boolean): Agg = synchronized {
    val out = new Agg
    aggs.foreach { case (g, a) if p(g) =>
      out.jobs += a.jobs; out.stages += a.stages; out.tasks += a.tasks
      out.cpuNs += a.cpuNs; out.gcMs += a.gcMs
      out.shuffleWrite += a.shuffleWrite; out.shuffleRead += a.shuffleRead
      out.spill += a.spill; out.peakExecMem = math.max(out.peakExecMem, a.peakExecMem)
      out.inputRecords += a.inputRecords; out.runTimesMs ++= a.runTimesMs
    case _ => ()
    }
    out
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** A finite number as JSON, with all its digits. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
