package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: synthesize a larger scale factor from an existing fixture by
  * unioning K key-shifted copies of each fact table (referential
  * integrity preserved: both sides of every FK shift by the same offset,
  * so join fan-outs and key distributions scale linearly instead of
  * collapsing under duplicate keys). Dimension tables (region, nation)
  * are copied once, as a real TPC-H scale-up would.
  *
  * Purpose: the two-point scaling probe — run Bench at sf0.1 and at the
  * synthesized 10x and compare per-query ratios. A query whose time
  * scales ~linearly (or better, for bounded-output shapes) survives the
  * scale-up; super-linear growth flags a plan that would not.
  *
  *   runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/sf1 10
  */
object ScaleUp {

  /** Columns sharing one key space, grouped by domain: every column in a
    * domain shifts by the SAME offset (the domain-wide max + 1), so FK
    * pairs whose observed maxes differ — e.g. embeddings.vec_id covers
    * only a prefix of documents.doc_id — still line up in every copy.
    */
  val keyDomains: Seq[Seq[(String, String)]] = Seq(
    Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey"),
    Seq("orders" -> "o_custkey", "customer" -> "c_custkey"),
    Seq("lineitem" -> "l_partkey", "part" -> "p_partkey"),
    Seq("lineitem" -> "l_suppkey", "supplier" -> "s_suppkey"),
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id"),
    Seq("events" -> "event_id"),
    Seq("events" -> "user_id"))

  /** Key columns to shift per table, derived from the domains; dimension
    * tables (no shifted keys) are copied once.
    */
  val shiftCols: Map[String, Seq[String]] = {
    val shifted = keyDomains.flatten.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    shifted ++ Map("region" -> Seq.empty, "nation" -> Seq.empty)
  }

  /** Core loop, shared with ScaleUpSpec. */
  def run(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    val dfs = shiftCols.keys.map { t =>
      t -> spark.read.parquet(s"$src/$t.parquet")
    }.toMap

    // one offset per key DOMAIN, not per (table, column)
    val colOffset: Map[(String, String), Long] = keyDomains.flatMap { dom =>
      val off = dom.map { case (t, c) =>
        dfs(t).agg(max(col(c))).head.getAs[Number](0).longValue()
      }.max + 1L
      dom.map(tc => tc -> off)
    }.toMap

    shiftCols.foreach { case (table, keys) =>
      val df = dfs(table)
      val out =
        if (keys.isEmpty) df
        else
          (0 until k).map { i =>
            keys.foldLeft(df) { (d, c) =>
              // copy i shifts every key by i * domainOffset, in the key's
              // own type so the written schema matches the source fixture
              d.withColumn(c,
                (col(c) + lit(i * colOffset((table, c))).cast(df.schema(c).dataType))
                  .cast(df.schema(c).dataType))
            }
          }.reduce(_ union _)
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[scaleup] $table: ${if (keys.isEmpty) "1x dim" else s"${k}x"} written")
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(src, dst, kStr) = args.take(3)
    val spark = graft.Mains.session("graft-scale-up")
    run(spark, src, dst, kStr.toInt)
    spark.stop()
  }
}
