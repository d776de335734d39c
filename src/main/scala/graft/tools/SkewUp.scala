package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a HOT-KEY-SKEWED copy of a fixture — the
  * companion of ScaleUp for the other axis that kills plans at 100 TB.
  * ScaleUp answers "does the plan survive more data"; SkewUp answers
  * "does it survive the same data concentrated on one key":
  *
  *   - events: `hotPct`% of rows remapped to user_id = 1 — one user
  *     (a bot, a service account) owning half the stream. Single-level
  *     per-user windows serialize that user into ONE task; the engine's
  *     two-level shapes (w5, e10-e13) must keep the work distributed
  *     across time buckets.
  *   - documents: 90% of rows remapped to lang = 'xx' — one dominant
  *     language (the real shape of web corpora). Per-language windows
  *     (d38's sorted neighborhood, d17's strata) must stay two-level.
  *
  * Only the skew keys change — all content, ids and timestamps are
  * untouched, so per-query costs are comparable against the unskewed
  * fixture run on the same harness.
  *
  *   runMain graft.tools.SkewUp /root/testdata/sf0.1 /tmp/sf0.1skew 50
  */
object SkewUp {

  def run(spark: SparkSession, src: String, dst: String, hotPct: Int): Unit = {
    EmptyInputProbe.Tables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val out = t match {
        case "events" =>
          df.withColumn("user_id",
            when(pmod(col("event_id"), lit(100)) < hotPct, lit(1L))
              .otherwise(col("user_id")))
        case "documents" =>
          df.withColumn("lang",
            when(pmod(col("doc_id"), lit(100)) < 90, lit("xx"))
              .otherwise(col("lang")))
        case _ => df
      }
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[skewup] $t written")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(src, dst) = args.take(2)
    val hotPct = args.lift(2).map(_.toInt).getOrElse(50)
    val spark = graft.Mains.session("graft-skew-up")
    run(spark, src, dst, hotPct)
    spark.stop()
  }
}
