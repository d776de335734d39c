package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/check_oracle.py`).
  * `SPARK_GRAFT_ONLY=a,b` dumps a subset (see [[Mains.selectQueries]]);
  * `tools/check_oracle.py` compares only the result directories present.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val selected = Mains.selectQueries(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = Mains.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // Cache hygiene: each query's construction already released the
        // previous one's persists (Q.run), but the gate additionally
        // drops THIS query's cache + any stray entries before the next,
        // so the 180-query sweep never accumulates memory pressure.
        graft.ops.PipelineCache.release()
        spark.sharedState.cacheManager.clearCache()
      }
    }
    if (!spark.sharedState.cacheManager.isEmpty)
      System.err.println("[verify] WARNING: cache entries leaked past the per-query clearCache")
    // Oracle SQL may carry tabs or CRs; an unescaped one would make the
    // reader's json.load fail and silently zero the correctness gate.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Mains.jsonString(k)}: ${Mains.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
