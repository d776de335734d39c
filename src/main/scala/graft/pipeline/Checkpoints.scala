package graft.pipeline

import java.sql.DriverManager

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.core.Tokens.TokenRange

/** Checkpoint state table — the reference's resumability spine (T2):
  * one row per token range, `checkpoint = range_end` iff the range is
  * fully migrated; progress is only ever recorded at whole-range
  * completion, so a resume re-runs whole ranges and relies on the
  * idempotent sink (snapshot_use_pyspark.py:143-177, 284-286).
  *
  * Two bindings of one trait: parquet (test/fixture) and JDBC
  * (production control table — same three columns, same semantics).
  */
final case class CheckpointRange(range_id: Long, range_start: Long, range_end: Long, checkpoint: Long) {
  def complete: Boolean = checkpoint == range_end
}

trait CheckpointStore {
  /** Seed the state table iff empty/absent (reference seed_ranges_if_empty). */
  def seedIfEmpty(ranges: Seq[TokenRange]): Unit
  def all(): Seq[CheckpointRange]
  /** Ranges still to migrate: checkpoint < range_end (reference S6/P5). */
  def fetchIncomplete(): Seq[CheckpointRange] = all().filter(r => !r.complete)
  /** Mark ranges complete (whole-range granularity, like the reference). */
  def markComplete(rangeIds: Seq[Long]): Unit
}

/** Parquet binding. `markComplete` is crash-atomic: the current state is
  * renamed aside before the new state renames into place, so at least
  * one complete copy exists at every instant; readers transparently
  * recover from the backup if a crash hit the swap window.
  */
class Checkpoints(spark: SparkSession, path: String) extends CheckpointStore {
  import spark.implicits._

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
  private val dst = new Path(path)
  private val bak = new Path(path + ".bak")
  private val tmp = new Path(path + ".tmp")

  /** A state dir only counts as present if its write COMPLETED: Spark's
    * committer renames data files in from `_temporary` and writes
    * `_SUCCESS` last, so `_SUCCESS` is the only reliable completion
    * witness — a dir holding part- files without it is precisely the
    * signature of a crash mid job-commit and must read as absent
    * (seedIfEmpty then reseeds instead of accepting torn state). The
    * part- fallback applies only when success markers are disabled in
    * the Hadoop conf. Checked by listing (no read-probe: a probe's
    * exception stack in stderr is noise).
    */
  private def readable(p: Path): Boolean =
    fs.exists(p) && {
      val names = fs.listStatus(p).map(_.getPath.getName)
      val successMarkers = spark.sparkContext.hadoopConfiguration
        .getBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
      if (successMarkers) names.contains("_SUCCESS")
      else names.exists(_.startsWith("part-"))
    }

  /** If a crash landed between the two renames of markComplete, the
    * last complete state lives at `.bak` — restore it. (The `.tmp`
    * next-state may be newer, but restoring the OLDER complete state is
    * always safe: the sink is idempotent, so its ranges just re-run.)
    * A partial/unreadable dst is cleared first so the backup can land.
    */
  private def recover(): Unit =
    if (!readable(dst) && fs.exists(bak)) {
      fs.delete(dst, true); fs.rename(bak, dst); ()
    }

  def seedIfEmpty(ranges: Seq[TokenRange]): Unit =
    if (!exists) {
      ranges.map(r => CheckpointRange(r.rangeId.toLong, r.start, r.end, r.start))
        .toDF().write.mode(SaveMode.Overwrite).parquet(path)
    }

  def exists: Boolean = { recover(); readable(dst) }

  def all(): Seq[CheckpointRange] = {
    recover()
    // driver-sized: the checkpoint table holds one row per token range
    spark.read.parquet(path).as[CheckpointRange].collect().toSeq.sortBy(_.range_id)
  }

  def markComplete(rangeIds: Seq[Long]): Unit = {
    val ids = rangeIds.toSet
    val updated = all().map { r =>
      if (ids.contains(r.range_id)) r.copy(checkpoint = r.range_end) else r
    }
    // parquet has no in-place update: write the new state aside, rotate
    // the old state to .bak, swing the new one in, then drop the backup.
    fs.delete(tmp, true)
    updated.toDF().coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(bak, true)
    if (fs.exists(dst)) fs.rename(dst, bak)
    fs.rename(tmp, dst)
    fs.delete(bak, true)
    ()
  }

  def stateDf(): DataFrame = { recover(); spark.read.parquet(path) }
}

/** JDBC binding — the production control table (reference
  * seed_ranges_if_empty / fetch_incomplete_ranges / update_checkpoint,
  * snapshot_use_pyspark.py:143-199). All statements run driver-side:
  * the table is control-sized (one row per range).
  */
class JdbcCheckpoints(
    url: String, user: String, password: String,
    table: String = "migration_checkpoint",
    dialect: SqlDialect = MySqlDialect) extends CheckpointStore {

  private def q(id: String) = dialect.quote(id)
  private def withConn[T](f: java.sql.Connection => T): T = {
    val conn = DriverManager.getConnection(url, user, password)
    try f(conn) finally conn.close()
  }

  /** Seed any missing ranges into the table `Ddl.ensureTables` created
    * (K5 runs first; this store creates no table). The seed is (a)
    * per-range idempotent — the dialect's insert-if-absent
    * keyed on range_id, so a partial seed from an earlier crash is
    * REPAIRED rather than silently skipped (a plain count==0 guard would
    * leave the unseeded ranges unmigrated forever) — and (b) wrapped in
    * one transaction so a crash mid-batch leaves no partial state at all.
    */
  def seedIfEmpty(ranges: Seq[TokenRange]): Unit = withConn { conn =>
    val n = {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT COUNT(*) FROM ${q(table)}")
        rs.next(); rs.getLong(1)
      } finally st.close()
    }
    if (n < ranges.size) {
      val cols = Seq("range_id", "range_start", "range_end", "checkpoint")
      val types: Map[String, org.apache.spark.sql.types.DataType] =
        cols.map(_ -> org.apache.spark.sql.types.LongType).toMap
      val sql = dialect.insertIgnoreSql(table, cols, Seq("range_id"), types)
      val bindCols = dialect.insertBindCols(cols, Seq("range_id"))
      conn.setAutoCommit(false)
      val ps = conn.prepareStatement(sql)
      try {
        ranges.foreach { r =>
          val vals: Map[String, Long] = Map(
            "range_id" -> r.rangeId.toLong, "range_start" -> r.start,
            "range_end" -> r.end, "checkpoint" -> r.start)
          bindCols.zipWithIndex.foreach { case (c, i) => ps.setLong(i + 1, vals(c)) }
          ps.addBatch()
        }
        ps.executeBatch()
        conn.commit()
      } catch {
        case e: Throwable => conn.rollback(); throw e
      } finally ps.close()
    }
  }

  def all(): Seq[CheckpointRange] = withConn { conn =>
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(
        s"SELECT ${q("range_id")}, ${q("range_start")}, ${q("range_end")}, " +
          s"${q("checkpoint")} FROM ${q(table)} ORDER BY ${q("range_id")}")
      val buf = scala.collection.mutable.ArrayBuffer.empty[CheckpointRange]
      while (rs.next())
        buf += CheckpointRange(rs.getLong(1), rs.getLong(2), rs.getLong(3), rs.getLong(4))
      buf.toSeq
    } finally st.close()
  }

  def markComplete(rangeIds: Seq[Long]): Unit = if (rangeIds.nonEmpty) withConn { conn =>
    val ps = conn.prepareStatement(
      s"UPDATE ${q(table)} SET ${q("checkpoint")} = ${q("range_end")} " +
        s"WHERE ${q("range_id")} = ?")
    try {
      rangeIds.foreach { id => ps.setLong(1, id); ps.addBatch() }
      ps.executeBatch()
    } finally ps.close()
  }
}
