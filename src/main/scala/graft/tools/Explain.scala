package graft.tools

/** Plan auditor: prints the formatted physical plan (and optionally times)
  * for named queries — the `.explain("formatted")` loop the build plan
  * calls for after each operator goes green. `--time` runs the printed
  * plan in full (`queryExecution.toRdd.count()`); `Dataset.count()`
  * would time a count-pruned plan instead.
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
      }
    }
    spark.stop()
  }
}
