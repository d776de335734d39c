package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-row cost of the engine's Catalyst expressions: each function is
  * projected over a fixed sf0.1 column that is cached in memory first
  * (small tables are repeated to reach about 100k rows), and the projected
  * rows are fully produced. Reports the median of three timings.
  */
object FunctionTimings {
  private final case class Fn(name: String, input: (SparkSession, String) => DataFrame,
      apply: Column => Column)

  private def fixture(spark: SparkSession, sfDir: String, table: String, x: Column,
      repeat: Int): DataFrame = {
    val base = spark.read.parquet(s"$sfDir/$table.parquet").select(x.as("x"))
    if (repeat == 1) base else base.crossJoin(spark.range(repeat).select()).select("x")
  }

  private val fns = Seq(
    Fn("minhash_sig",
      (s, d) => fixture(s, d, "documents", call_function("portable_word_hashes", col("text")), 20),
      x => call_function("minhash_sig", x)),
    Fn("shingle_hashes",
      (s, d) => fixture(s, d, "documents", col("text"), 20),
      x => call_function("shingle_hashes", x)),
    Fn("hyperplane_bucket",
      (s, d) => fixture(s, d, "embeddings", col("embedding"), 50),
      x => call_function("hyperplane_bucket", x)),
    Fn("qcosine",
      (s, d) => fixture(s, d, "embeddings", col("embedding"), 50),
      x => call_function("qcosine", x, x)),
    // a 32-hex string key like the `files` ids, so the timing covers the
    // string path of the token function that migrate_files keys on
    Fn("cassandra_token",
      (s, d) => fixture(s, d, "lineitem",
        format_string("%016x%016x", xxhash64(col("l_orderkey")), col("l_orderkey")), 1),
      x => call_function("cassandra_token", x)))

  /** `functions.<fn>.ns_per_row` and `functions.<fn>.rows` for every function. */
  def run(spark: SparkSession, sfDir: String): Map[String, Double] = fns.flatMap { f =>
    val input = f.input(spark, sfDir).cache()
    try {
      val rows = input.count()
      val secs = (1 to 3).map { _ =>
        val out = input.select(f.apply(col("x")).as("y"))
        val t0 = System.nanoTime()
        Trace.span(s"function:${f.name}")(out.queryExecution.toRdd.foreach(_ => ()))
        (System.nanoTime() - t0) / 1e9
      }.sorted
      Seq(s"functions.${f.name}.ns_per_row" -> secs(1) * 1e9 / rows,
        s"functions.${f.name}.rows" -> rows.toDouble)
    } finally input.unpersist()
  }.toMap

  val metricNames: Seq[String] =
    fns.flatMap(f => Seq(s"functions.${f.name}.ns_per_row", s"functions.${f.name}.rows"))
}
