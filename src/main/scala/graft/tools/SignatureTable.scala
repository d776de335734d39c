package graft.tools

/** Standalone build step for the materialized MinHash signature table
  * (VERDICT r6 #5): writes the portable (doc_id, hpos, sig) table to
  * parquet once, then times a consumer pass (the d6b/d6c band join +
  * exact verify) reading the STORED table — separating the one-time
  * signature build cost from the per-query consume cost that the
  * cache-hygiene bench now honestly re-pays on every MinHash-family
  * query. At cluster scale this is the pipeline: signatures land in
  * storage once per corpus snapshot; every dedup/cluster/audit query
  * reads ~100 longs/doc of parquet instead of re-hashing the text.
  *
  * Usage: runMain graft.tools.SignatureTable <sfDir> [outPath]
  * (SPARK_GRAFT_CPUS controls local[N].)
  */
object SignatureTable {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out =
      if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft_sigtable").toString
    val spark = graft.Mains.session("graft-signature-table")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val (_, buildSecs) = timed(graft.ops.Dedup.writeSigTable(spark, sfDir, out))
    val (nSigs, countSecs) = timed(spark.read.parquet(out).count())
    // Consumer pass from the STORED table (no cache anywhere): the same
    // band join + exact verify the judged d6c runs.
    val (nPairs, consumeSecs) = timed(
      graft.ops.Dedup.nearDupsFromStored(spark, out, 0.5).count())
    // Reference point: the cached-recompute path d6b pays per query.
    val (nPairsCached, recomputeSecs) = timed(
      graft.ops.Dedup.minhashPortable(spark, sfDir, 0.5).count())
    graft.ops.PipelineCache.release()
    println(
      s"""{"sf":"$sfDir","out":"$out","build_secs":$buildSecs,"n_sigs":$nSigs,
         |"count_secs":$countSecs,"consume_pairs":$nPairs,"consume_secs":$consumeSecs,
         |"recompute_pairs":$nPairsCached,"recompute_secs":$recomputeSecs}"""
        .stripMargin.linesIterator.mkString(""))
    spark.stop()
    require(nPairs == nPairsCached,
      s"stored-table consume and cached recompute disagree: $nPairs vs $nPairsCached")
  }
}
