package graft.tools

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables

/** Computes the per-table content checksums FixtureDriftSpec pins: row
  * count plus an order-independent SUM(xxhash64(<all columns, sorted by
  * name>)) in DECIMAL(38,0) (exact — no long overflow, no float drift).
  * The events table is checksummed THROUGH Tables.events, so a pure
  * physical-type drift (nanos vs micros, the round-7 incident) keeps the
  * same checksum and only a CONTENT regeneration trips the pin.
  *
  * When the driver regenerates the fixtures, FixtureDriftSpec fails by
  * name; rerun this main and update the pinned map:
  *
  *   sbt "runMain graft.tools.FixturePin /root/testdata/sf0.001"
  */
object FixturePin {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** (table, rowCount, sumOfRowHashes as exact decimal string) */
  def checksums(spark: SparkSession, sfDir: String): Seq[(String, Long, String)] =
    tables.map { t =>
      val df =
        if (t == "events") Tables.events(spark, sfDir)
        else Tables.load(spark, sfDir, t)
      val cols = df.columns.sorted.map(col)
      val r: Row = df.agg(
        count(lit(1)).as("n"),
        sum(xxhash64(cols: _*).cast(DecimalType(38, 0))).as("h")).collect()(0)
      (t, r.getLong(0), r.getDecimal(1).toBigInteger.toString)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Mains.session("graft-fixture-pin")
    checksums(spark, sfDir).foreach { case (t, n, h) =>
      println(s"""      "$t" -> (${n}L, "$h"),""")
    }
    spark.stop()
  }
}
