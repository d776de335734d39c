package graft.tools

import graft.obs.StageLog

/** Per-STAGE profiler for any registered query: runs the query verbatim
  * and prints one line per completed stage — executor run time and CPU
  * time, GC, shuffle read/write bytes and records, input records, task
  * count, and the stage's callsite name. It attributes cost inside the
  * EXACT plan the benchmark runs, never a phase-by-phase replay (a replay
  * re-derives each phase and can diverge from the registered plan under
  * AQE: in the r15 a26 profile the replayed baskets phase alone cost
  * 1,080 CPU-s while the whole registered query cost 1,146).
  *
  * Each rep runs the full physical plan (`queryExecution.toRdd.count()`,
  * the boundary perfbench's digest fold measures), not `Dataset.count()`:
  * Catalyst prunes a count down to a count-only plan, which for a18-class
  * queries skips the very aggregates the full output pays for.
  *
  * `cpuTotal` sums executor CPU time; `run=` is task wall time, which
  * also counts time a task waited for a core.
  *
  *   sbt "runMain graft.tools.ProfileQuery a26_market_basket /tmp/sf10 [reps]"
  */
object ProfileQuery {

  def main(args: Array[String]): Unit = {
    val qname = args.headOption.getOrElse(
      sys.error("usage: ProfileQuery <query-name> [sfDir] [reps]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.Mains.session("graft-profile-query")
    val q = graft.SparkEntry.queries.getOrElse(qname,
      sys.error(s"unknown query $qname"))
    val log = StageLog.attach(spark)

    for (rep <- 1 to reps) {
      log.clear()
      val t0 = System.nanoTime()
      val n = q(spark, sfDir).queryExecution.toRdd.count()
      val wall = (System.nanoTime() - t0) / 1e9
      graft.ops.PipelineCache.release()
      val rows = log.drain(spark).sortBy(-_.runMs)
      println(f"== $qname rep $rep: wall=$wall%.1fs rows=$n " +
        f"cpuTotal=${StageLog.cpuSeconds(rows)}%.1fs " +
        f"shufTotal=${rows.map(_.shufWrite).sum / 1e9}%.2fGB ==")
      rows.foreach { r =>
        println(f"STAGE ${r.id}%4d run=${r.runMs / 1000.0}%8.1fs cpu=${r.cpuNs / 1e9}%8.1fs " +
          f"wall=${r.wallMs / 1000.0}%6.1fs " +
          f"gc=${r.gcMs / 1000.0}%5.1fs tasks=${r.tasks}%4d in=${r.inRec}%-11d " +
          f"sR=${r.shufRead / 1e9}%5.2fGB/${r.shufReadRec}%-11d sW=${r.shufWrite / 1e9}%5.2fGB/${r.shufWriteRec}%-11d " +
          f"spill=${(r.spillMem + r.spillDisk) / 1e9}%5.2fGB  ${r.name.take(120)}")
      }
    }
    spark.stop()
  }
}
