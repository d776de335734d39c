package graft.pipeline

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.Sanitize

/** End-to-end migration pipeline semantics on parquet fixtures:
  * completion, global validation, crash-resume, and idempotency —
  * the reference's T2/T5/T6 contract (SURVEY.md §5 test strategy).
  */
class MigrateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def freshCfg(): MigrateConfig = {
    val dir = Files.createTempDirectory("graft_migrate").toString
    MigrateConfig(
      srcPath = s"${SparkTestBase.Sf0001}/lineitem.parquet",
      keyCol = "l_orderkey",
      numRanges = 8,
      sinkPath = s"$dir/sink",
      checkpointPath = s"$dir/checkpoints",
      renames = Map("l_orderkey" -> "file_id"))
  }

  test("full run migrates every row exactly once and validates OK") {
    val cfg = freshCfg()
    val m = new Migrate(spark, cfg)
    m.run()
    assert(!m.checkpointsIncomplete())
    val v = m.validate()
    assert(v.status == "OK" && v.diff == 0)
    assert(v.src_count == v.dst_count)
    // rename applied, token/range columns present for partition layout
    val sink = spark.read.parquet(cfg.sinkPath)
    assert(sink.columns.contains("file_id") && !sink.columns.contains("l_orderkey"))
  }

  test("crash before any range completes leaves all checkpoints incomplete; re-run resumes to OK") {
    val cfg = freshCfg()
    val m = new Migrate(spark, cfg.copy(sink = Some(FailingSink(ParquetSink(cfg.sinkPath), Set(3L)))))
    intercept[RuntimeException] { m.runOnce() }
    assert(m.validate().dst_count == 0L) // a never-written sink reads as empty
    val cps = new Checkpoints(spark, cfg.checkpointPath)
    assert(cps.fetchIncomplete().size == cfg.numRanges) // nothing marked complete
    // resume without the induced failure
    val m2 = new Migrate(spark, cfg)
    m2.run()
    assert(!m2.checkpointsIncomplete())
    assert(m2.validate().status == "OK")
  }

  test("a checkpoint table seeded by another split fails before any write") {
    val cfg = freshCfg()
    val cps = new Checkpoints(spark, cfg.checkpointPath)
    cps.seedIfEmpty(graft.core.Tokens.split(16, cfg.ringMin, cfg.ringMax))
    cps.markComplete(0L until 8L)
    val e = intercept[IllegalStateException] { new Migrate(spark, cfg).run() }
    assert(e.getMessage.contains("Ddl.truncateControlTables"))
    assert(!Files.exists(java.nio.file.Paths.get(cfg.sinkPath)))
    assert(cps.fetchIncomplete().map(_.range_id) == (8L until 16L))
  }

  test("re-running a completed migration is idempotent (effectively-once)") {
    val cfg = freshCfg()
    val m = new Migrate(spark, cfg)
    m.run()
    val before = spark.read.parquet(cfg.sinkPath).count()
    // force a full re-process: reset checkpoints and run again over the
    // same sink — dynamic partition overwrite must not duplicate rows
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(cfg.checkpointPath), true)
    val m2 = new Migrate(spark, cfg)
    m2.run()
    val after = spark.read.parquet(cfg.sinkPath).count()
    assert(before == after)
    // range-level idempotency: every range partition holds exactly the
    // source rows of that range (no duplication from the re-run)
    val src = spark.read.parquet(cfg.srcPath)
      .withColumn("range_id", graft.core.Tokens.oracleRangeId(
        graft.core.Tokens.tokenOracle(col("l_orderkey")), cfg.numRanges))
      .groupBy("range_id").agg(count(lit(1)).as("e"))
    val snk = spark.read.parquet(cfg.sinkPath)
      .groupBy("range_id").agg(count(lit(1)).as("a"))
    val bad = src.join(snk, Seq("range_id"), "full")
      .where(col("e").isNull || col("a").isNull || col("e") =!= col("a")).count()
    assert(bad == 0)
  }

  test("full-ring 64-bit token binding (xxhash64) migrates to OK too") {
    val dir = Files.createTempDirectory("graft_fullring").toString
    val cfg = MigrateConfig(
      srcPath = s"${SparkTestBase.Sf0001}/lineitem.parquet",
      keyCol = "l_orderkey", numRanges = 16,
      sinkPath = s"$dir/sink", checkpointPath = s"$dir/cp",
      tokenFn = graft.core.Tokens.tokenXx,
      ringMin = graft.core.Tokens.RingMin,
      ringMax = graft.core.Tokens.RingMax)
    val m = new Migrate(spark, cfg)
    m.run()
    assert(!m.checkpointsIncomplete())
    assert(m.validate().status == "OK")
    // every row landed in a valid range bucket
    // partition-dir column comes back as int; normalize
    val ids = spark.read.parquet(s"$dir/sink")
      .select(col("range_id").cast("long")).distinct().collect().map(_.getLong(0)).sorted
    assert(ids.forall(i => i >= 0 && i < 16))
  }

  test("range-id bucketing matches the split ranges on the full ring") {
    import graft.core.Tokens
    // boundary tokens of every range must floor into their own bucket
    val rs = Tokens.split(16)
    import spark.implicits._
    val toks = rs.flatMap(r => Seq(r.rangeId.toLong -> (r.start + 1), r.rangeId.toLong -> r.end))
      .toDF("expect", "tok")
    val bad = toks.withColumn("got", Tokens.rangeId(col("tok"), 16))
      .where(col("got") =!= col("expect")).count()
    assert(bad == 0)
  }

  test("sanitize policy applies during migration") {
    val dir = Files.createTempDirectory("graft_sanitize").toString
    import spark.implicits._
    Seq((1L, null.asInstanceOf[String], 5), (2L, "x", 6))
      .toDF("id", "name", "v")
      .write.parquet(s"$dir/src")
    val cfg = MigrateConfig(
      srcPath = s"$dir/src", keyCol = "id", numRanges = 2,
      sinkPath = s"$dir/sink", checkpointPath = s"$dir/cp",
      policy = Sanitize.NullPolicy(emptyStringCols = Seq("name")))
    new Migrate(spark, cfg).run()
    val out = spark.read.parquet(s"$dir/sink")
    assert(out.where(col("name").isNull).count() == 0)
    assert(out.where(col("name") === "").count() == 1)
  }
}
