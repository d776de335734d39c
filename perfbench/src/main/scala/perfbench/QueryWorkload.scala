package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.PipelineCache

/** The `queries` workload: each operation constructs one registered query
  * through the public `SparkEntry.queries` contract, plans it, and
  * materializes its full output (a digest folded over every row, see
  * [[Digest]]).
  */
object QueryWorkload {

  /** The fixed subset the workload times: one execution-heavy query
    * (a18, an aggregate `count()` hid: 0.26 s counted, 5 s in full) and one
    * construction-heavy query (d44: 35 Spark jobs run while its DataFrame
    * is built). A full pass over the analytics and dedup modules (about 105 s
    * warm on 4 cores) does not fit a run, and neither does a warm pass over
    * the nine queries ROADMAP names (32 s) after the cold pass that must
    * precede it. These two take about 10 s a warm pass.
    */
  val subset: Seq[String] = Seq("a18_approx_percentile_drift", "d44_leakage_safe_split")

  /** Every query of the two modules the subset is drawn from (pinned). */
  def modules: Seq[String] =
    (graft.ops.Analytics.queries.keys ++ graft.ops.Dedup.queries.keys).toSeq.sorted

  final case class Op(name: String, construct: Double, plan: Double, exec: Double,
      result: Option[Digest.Result], error: Option[String]) {
    def total: Double = construct + plan + exec
  }

  /** One operation. With `traced`, each step runs under its own Spark job
    * group (`construct:<q>`, `plan:<q>`, `exec:<q>`) and the number of
    * construction-time cached frames is counted.
    */
  def run(spark: SparkSession, sfDir: String, name: String, traced: Boolean): Op = {
    val sc = spark.sparkContext
    def group(step: String): Unit = if (traced) sc.setJobGroup(s"$step:$name", step)
    val t0 = System.nanoTime()
    var t1, t2 = t0
    try Trace.span(s"query:$name") {
      group("construct")
      val df = Trace.span(s"construct:$name")(SparkEntry.queries(name)(spark, sfDir))
      t1 = System.nanoTime()
      if (traced) Trace.count("ops.cache_builds", PipelineCache.heldCount.toLong)
      group("plan")
      Trace.span(s"plan:$name")(df.queryExecution.executedPlan)
      t2 = System.nanoTime()
      group("exec")
      val d = Trace.span(s"exec:$name")(Digest.of(df))
      val t3 = System.nanoTime()
      Op(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, Some(d), None)
    } catch {
      case e: Exception =>
        val t3 = System.nanoTime()
        Op(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, None,
          Some(e.toString.linesIterator.nextOption().getOrElse("").take(300)))
    } finally {
      if (traced) sc.clearJobGroup()
      // the same per-query cache hygiene graft.Verify applies
      PipelineCache.release()
      spark.sharedState.cacheManager.clearCache()
    }
  }

  /** Pinned full-output results: rows always, the digest unless the query
    * is listed as unstable between two runs of the same code.
    */
  final case class Pin(rows: Long, digest: String, checkDigest: Boolean)

  def loadPins(path: String): Map[String, Pin] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
      val Array(name, rows, digest, mode) = l.split("\t")
      name -> Pin(rows.toLong, digest, mode == "digest")
    }.toMap
    finally src.close()
  }

  def verify(op: Op, pins: Map[String, Pin]): Option[String] = op.error.orElse {
    val r = op.result.get
    pins.get(op.name) match {
      case None => Some(s"${op.name}: no pin")
      case Some(p) if p.rows != r.rows => Some(s"${op.name}: ${r.rows} rows, pinned ${p.rows}")
      case Some(p) if p.checkDigest && p.digest != r.hex =>
        Some(s"${op.name}: digest ${r.hex}, pinned ${p.digest}")
      case _ => None
    }
  }
}
