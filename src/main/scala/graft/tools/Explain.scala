package graft.tools

import org.apache.spark.sql.SparkSession

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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (2 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
