package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Small-file compaction — the maintenance job every long-lived 100 TB
  * table needs: streaming ingest and per-range writes accumulate files far
  * smaller than a scan-efficient target, and the fix is a rewrite that
  * (a) sizes output files from the INPUT BYTES, not a guessed partition
  * count, and (b) re-sorts by the pruning key so each output file carries
  * tight min/max ranges (the same layout contract WriterShapeSpec proves
  * for first writes).
  *
  * usage: runMain graft.tools.Compact <inDir> <outDir> <sortCol> [targetMB]
  */
object Compact {

  /** Rewrite `inDir` into `outDir` as ~targetBytes range-sorted files.
    * Returns (filesBefore, filesAfter, bytesBefore).
    */
  def run(spark: SparkSession, inDir: String, outDir: String,
          sortCol: String, targetBytes: Long = 128L * 1024 * 1024): (Int, Int, Long) = {
    val fs = new Path(inDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(inDir))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val bytes = parts.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir)
      .repartitionByRange(nOut, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(outDir)
    val outFiles = fs.listStatus(new Path(outDir))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    (parts.length, outFiles, bytes)
  }

  def main(args: Array[String]): Unit = {
    val inDir = args(0); val outDir = args(1); val sortCol = args(2)
    val targetMb = if (args.length > 3) args(3).toLong else 128L
    val spark = graft.Mains.session("graft-compact")
    val (before, after, bytes) = run(spark, inDir, outDir, sortCol, targetMb * 1024 * 1024)
    println(s"[compact] $before files (${bytes / 1024} KiB) -> $after files")
    spark.stop()
  }
}
