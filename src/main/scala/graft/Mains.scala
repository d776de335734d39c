package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every local main shares: one session recipe, one
  * `SPARK_GRAFT_ONLY` subset contract, one JSON string escaper. A tool
  * that profiles, audits or gates "the plan Bench runs" only does so if
  * it builds its session here. `MigrateMain` (deploy flags) and the test
  * suite's `SparkTestBase` (suite pins measured under it) keep their own.
  */
object Mains {

  /** `local[$SPARK_GRAFT_CPUS]` (default 4) with Bench's settings: one
    * shuffle partition per core, AQE with coalescing, 2 MB scan splits,
    * UTC, legacy nanos-as-long parquet reads, no UI, the graft
    * expressions and planner rules; log level WARN.
    */
  def session(app: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .appName(app)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (2 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The registered queries a `SPARK_GRAFT_ONLY` value selects: `None`
    * is the full surface; otherwise comma-separated exact names, trimmed.
    * A value naming no query, or naming one not in the registry, throws —
    * a gate that silently runs zero queries reads as green.
    */
  def selectQueries(only: Option[String])
      : Map[String, (SparkSession, String) => DataFrame] = only match {
    case None => SparkEntry.queries
    case Some(value) =>
      val names = value.split(",").map(_.trim).filter(_.nonEmpty).toSet
      require(names.nonEmpty,
        "SPARK_GRAFT_ONLY is set but names no queries (empty/whitespace value) — " +
          "unset it to run the full surface or pass comma-separated query names")
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
      SparkEntry.queries.view.filterKeys(names).toMap
  }

  /** `s` as a quoted JSON string: backslash, quote and every control
    * character (< 0x20) escaped. A tab or CR left raw makes the reader's
    * `json.loads` fail on the whole line.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
