package graft.tools

/** Plan auditor: prints the formatted physical plan (and optionally times)
  * for named queries — the `.explain("formatted")` loop the build plan
  * calls for after each operator goes green. `--time` runs the printed
  * plan in full (`queryExecution.toRdd.count()`); `Dataset.count()`
  * would time a count-pruned plan instead. After the timed run it prints
  * the plan again: under AQE that is the final adaptive plan
  * (`isFinalPlan=true`), the one that ran, with runtime re-planning such
  * as a single-partition sort exchange visible.
  *
  * usage: runMain graft.tools.Explain <sfDir> <query1> [query2 ...] [--time]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val time = args.contains("--time")
    val names = args.tail.filterNot(_ == "--time")
    val spark = graft.Mains.session("graft-explain")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      if (time) {
        val t0 = System.nanoTime()
        val n = df.queryExecution.toRdd.count()
        println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
        println(s"---------- $name: final plan ----------")
        df.explain("formatted")
      }
    }
    spark.stop()
  }
}
