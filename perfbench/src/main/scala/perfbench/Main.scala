package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Benchmark process: one workload, one seed, one run.
  *
  *   --mode run   --workload migrate_files|queries --seed N --seconds S
  *                --trace 0|1 --data <sf0.1 dir>
  *                --work <scratch dir> --pins <pins.tsv> --result <json out>
  *                [--spans <jsonl out>]
  *   --mode pin   --data <dir> --result <tsv out>
  *
  * The result file holds every metric this run measured, the human-facing
  * summary and the errors; `run.py` turns it into the one-line result.
  */
object Main {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (2 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  final class Outcome {
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val summary = mutable.LinkedHashMap.empty[String, (Double, String)]
    def record(errs: Seq[String]): Unit = {
      attempted += 1
      if (errs.nonEmpty) { failed += 1; errors ++= errs }
    }
  }

  def main(args: Array[String]): Unit = {
    Trace.enabled = false // initializes Trace on the driver thread
    val a = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = a("work")
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val spark = session(work)
    log("session ready")
    try a.getOrElse("mode", "run") match {
      case "pin" => Pin.run(spark, a("data"), a("result"))
      case "run" =>
        val out = new Outcome
        val traced = a("trace") == "1"
        val seed = a("seed").toLong
        val seconds = a("seconds").toDouble
        a("workload") match {
          case "migrate_files" =>
            runMigrate(spark, a, seed, seconds, traced, out)
          case "queries" =>
            runQueries(spark, a, seed, seconds, traced, out)
          case other => sys.error(s"unknown workload $other")
        }
        if (traced) {
          out.metrics ++= FunctionTimings.run(spark, a("data"))
          a.get("spans").foreach(p => Trace.writeSpans(java.nio.file.Paths.get(p)))
        }
        out.metrics("peak_rss_mb") = peakRssMb()
        writeOutcome(a("result"), out)
    } finally spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def sinceMs(t0Ms: Long): Double = (System.currentTimeMillis() - t0Ms) / 1e3

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${sinceMs(jvmStartMs)}%7.2f] $msg")

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  // ---- query workloads --------------------------------------------------

  def runQueries(spark: SparkSession, a: Map[String, String], seed: Long,
      seconds: Double, traced: Boolean, out: Outcome): Unit = {
    val data = a("data")
    val pins = QueryWorkload.loadPins(a("pins"))
    val order = new scala.util.Random(seed).shuffle(QueryWorkload.subset)

    // Set-up: the session (above) and one untimed pass over the same
    // queries. The first pass in a JVM runs 60-100% slower (class loading,
    // JIT, code generation) and its excess varies from run to run.
    order.foreach(q => QueryWorkload.run(spark, data, q, traced = false))
    val setup = sinceMs(jvmStartMs)
    log("warm-up done")

    // Closed loop: whole passes, another one while the time is not up, so
    // every query has the same number of runs. Each query's time is the
    // median of its runs.
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val ops = mutable.ArrayBuffer.empty[QueryWorkload.Op]
    while (ops.isEmpty || System.nanoTime() < deadline) {
      order.foreach { q =>
        val op = QueryWorkload.run(spark, data, q, traced = false)
        out.record(QueryWorkload.verify(op, pins).toSeq)
        log(f"$q%-30s construct ${op.construct}%.3f plan ${op.plan}%.3f exec ${op.exec}%.3f")
        ops += op
      }
    }
    val byQuery = ops.groupBy(_.name)
    val passS = order.map(q => median(byQuery(q).map(_.total).toSeq)).sum
    out.metrics("setup_s") = setup
    out.metrics("pass_s") = passS
    out.summary("setup_s") = (setup, "s")
    out.summary("queries_s") = (passS, "s")
    out.summary("runs_per_query") = (ops.size.toDouble / order.size, "count")

    if (traced) {
      val listener = new GroupListener
      spark.sparkContext.addSparkListener(listener)
      Trace.enabled = true
      val tops = order.map { q =>
        val op = QueryWorkload.run(spark, data, q, traced = true)
        out.record(QueryWorkload.verify(op, pins).toSeq)
        op
      }
      Trace.enabled = false
      Metrics.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
      val all = listener.rollup(_ => true)
      val construct = listener.rollup(_.startsWith("construct:"))
      val exec = listener.rollup(_.startsWith("exec:"))
      out.metrics ++= Seq(
        "ops.construct_s" -> tops.map(_.construct).sum,
        "ops.construct_jobs" -> construct.jobs.toDouble,
        "ops.cache_builds" -> Trace.snapshot().getOrElse("ops.cache_builds", 0.0),
        "ops.plan_s" -> tops.map(_.plan).sum,
        "ops.exec_s" -> tops.map(_.exec).sum,
        "ops.exec_jobs" -> exec.jobs.toDouble) ++
        Metrics.sparkTotals(all) ++
        Seq(
          "spark.shuffle_write_bytes" -> all.shuffleWrite.toDouble,
          "spark.shuffle_read_bytes" -> all.shuffleRead.toDouble,
          "spark.spill_bytes" -> all.spill.toDouble,
          "spark.peak_exec_mem_bytes" -> all.peakExecMem.toDouble,
          "trace.overhead" -> tops.map(_.total).sum / passS)
      tops.foreach { op =>
        out.metrics(s"q.${op.name}.construct_s") = op.construct
        out.metrics(s"q.${op.name}.exec_s") = op.exec
      }
    }
  }

  // ---- migrate workload -------------------------------------------------

  def runMigrate(spark: SparkSession, a: Map[String, String], seed: Long, seconds: Double,
      traced: Boolean, out: Outcome): Unit = {
    val rows = MigrateWorkload.Rows
    val wl = new MigrateWorkload(spark, a("work"))

    // Set-up: the session (above), the table generated and written, and
    // one warm-up cycle (checked, not timed) on a quarter-size table of
    // another seed. A full-size warm-up cycle costs about 8 s more set-up;
    // after the smaller one the first timed cycle can still run slow, and
    // the median over at least three cycles drops it.
    val table = wl.prepare(seed, rows, "files")
    log("table written")
    val warm = wl.cycle(wl.prepare(seed ^ 0x5eedL, rows / 4, "files_warm"), traced = false, None)
    out.record(warm.fresh.errors)
    out.record(warm.resume.errors)
    val setup = sinceMs(jvmStartMs)
    log("warm-up done")

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val cycles = mutable.ArrayBuffer.empty[MigrateWorkload.Cycle]
    // at least three cycles, so the median is one of them
    while (cycles.size < 3 || System.nanoTime() < deadline) {
      val c = wl.cycle(table, traced = false, None)
      log(f"cycle fresh ${c.fresh.secs}%.3f resume ${c.resume.secs}%.3f")
      out.record(c.fresh.errors)
      out.record(c.resume.errors)
      cycles += c
    }
    val fresh = median(cycles.map(_.fresh.secs).toSeq)
    val resume = median(cycles.map(_.resume.secs).toSeq)
    out.metrics("setup_s") = setup
    out.metrics("pass_s") = fresh + resume
    out.summary("setup_s") = (setup, "s")
    out.summary("migrate_rows_per_s") = (rows / fresh, "rows/s")
    out.summary("resume_s") = (resume, "s")
    out.summary("cycles") = (cycles.size.toDouble, "count")
    out.summary("files_rows") = (rows.toDouble, "rows")
    out.summary("files_parquet_bytes") = (table.bytes.toDouble, "bytes")

    if (traced) {
      val listener = new GroupListener
      spark.sparkContext.addSparkListener(listener)
      TraceJdbc.register
      Trace.enabled = true
      val c = wl.cycle(table, traced = true, Some(listener))
      Trace.enabled = false
      spark.sparkContext.removeSparkListener(listener)
      // tracing must not change what lands in the sink
      val same = Seq(c.fresh -> cycles.head.fresh, c.resume -> cycles.head.resume).collect {
        case (t, u) if t.sink != u.sink => s"traced sink ${t.sink} != untraced ${u.sink}"
      }
      out.record(c.fresh.errors ++ same)
      out.record(c.resume.errors)
      out.metrics ++= c.fresh.layer ++ c.resume.layer
      out.metrics("trace.overhead") = c.fresh.secs / fresh
    }
  }

  // ---- result file ------------------------------------------------------

  def writeOutcome(path: String, out: Outcome): Unit = {
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => "\"" + Json.esc(k) + "\":" + v }.mkString("{", ",", "}")
    val json = obj(Seq(
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "errors" -> out.errors.map(e => "\"" + Json.esc(e) + "\"").mkString("[", ",", "]"),
      "metrics" -> obj(out.metrics.map { case (k, v) => k -> Json.num(v) }),
      "summary" -> obj(out.summary.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> Json.num(v), "unit" -> ("\"" + Json.esc(u) + "\""))) })))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Metrics {
  def drainListenerBus(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)

  def sparkTotals(a: GroupListener#Agg): Seq[(String, Double)] = Seq(
    "spark.executor_cpu_s" -> a.cpuNs / 1e9,
    "spark.gc_s" -> a.gcMs / 1e3,
    "spark.tasks" -> a.tasks.toDouble,
    "spark.stages" -> a.stages.toDouble,
    "spark.jobs" -> a.jobs.toDouble)
}

/** Pin mode: every analytics and dedup query, twice each, on one
  * fixture directory; one TSV line per run with rows, digest and the
  * construct/plan/exec seconds.
  */
object Pin {
  def run(spark: SparkSession, data: String, result: String): Unit = {
    val lines = for {
      q <- QueryWorkload.modules
      _ <- 1 to 2
    } yield {
      val op = QueryWorkload.run(spark, data, q, traced = false)
      val r = op.result
      val line = Seq(q, r.map(_.rows.toString).getOrElse("-"), r.map(_.hex).getOrElse("-"),
        f"${op.construct}%.3f", f"${op.plan}%.3f", f"${op.exec}%.3f",
        op.error.getOrElse("")).mkString("\t")
      System.err.println(s"[pin] $line")
      line
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(result),
      (lines.mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
