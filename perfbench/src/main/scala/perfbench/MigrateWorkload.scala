package perfbench

import java.sql.{Connection, DriverManager, SQLException, Timestamp}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.{Sanitize, Tokens}
import graft.core.Tokens.TokenRange
import graft.functions.CassandraToken
import graft.pipeline._

/** The reference's `files` table (FIXTURES.md §A.1): string `id`, 13
  * payload columns, nullable columns at fixed NULL shares. Rows come from
  * the seed alone, so the same seed gives the same table.
  */
object FilesTable {
  val payload: Seq[(String, DataType, Double)] = Seq(
    ("client_name", StringType, 0.05),
    ("client_zone", StringType, 0.05),
    ("cluster", StringType, 0.20),
    ("duration", IntegerType, 0.30),
    ("ext", StringType, 0.10),
    ("fid", StringType, 0.05),
    ("name", StringType, 0.05),
    ("mime", StringType, 0.10),
    ("size", IntegerType, 0.10),
    ("type", StringType, 0.20),
    ("height", IntegerType, 0.40),
    ("width", IntegerType, 0.40),
    ("modified", TimestampType, 0.05))

  val schema: StructType = StructType(StructField("id", StringType, nullable = false) +:
    payload.map { case (n, t, _) => StructField(n, t) })

  /** The sink table: `id` renamed to `file_id`, plus the range column. */
  val sinkSchema: StructType = StructType(
    StructField("file_id", StringType, nullable = false) +:
      payload.map { case (n, t, _) => StructField(n, t) } :+
      StructField("range_id", LongType))

  /** Columns the policy makes NOT NULL, and their replacement values. */
  val notNullDefaults: Map[String, Any] = Map(
    "client_name" -> "", "client_zone" -> "", "fid" -> "", "name" -> "",
    // 2025-01-01 00:00:00 UTC, the pinned default of the sanitize policy
    "modified" -> new Timestamp(1735689600000L))

  private val zones = Array("vn-hn", "vn-hcm", "sg", "us-east", "eu-west", "jp")
  private val exts = Array("jpg", "png", "mp4", "pdf", "docx", "zip", "txt", "webm")
  private val mimes = Map("jpg" -> "image/jpeg", "png" -> "image/png", "mp4" -> "video/mp4",
    "pdf" -> "application/pdf", "docx" -> "application/msword", "zip" -> "application/zip",
    "txt" -> "text/plain", "webm" -> "video/webm")
  private val types = Array("image", "video", "document", "archive", "text")
  private val alnum = "abcdefghijklmnopqrstuvwxyz0123456789_-"

  def generate(seed: Long, n: Int): Array[Row] = {
    val rnd = new java.util.SplittableRandom(seed)
    def hex(): String = f"${rnd.nextLong()}%016x"
    val t0 = 1577836800000L // 2020-01-01 UTC
    Array.tabulate(n) { i =>
      val ext = exts(rnd.nextInt(exts.length))
      val nameLen = 8 + rnd.nextInt(33)
      val sb = new StringBuilder("file_")
      (0 until nameLen).foreach(_ => sb += alnum.charAt(rnd.nextInt(alnum.length)))
      val values: Seq[Any] = Seq(
        f"client-${rnd.nextInt(500)}%03d",
        zones(rnd.nextInt(zones.length)),
        f"c${rnd.nextInt(24)}%02d",
        Int.box(rnd.nextInt(7200)),
        ext,
        hex() + hex(),
        sb.append('.').append(ext).toString,
        mimes(ext),
        Int.box(rnd.nextInt(Int.MaxValue)),
        types(rnd.nextInt(types.length)),
        Int.box(rnd.nextInt(4097)),
        Int.box(rnd.nextInt(4097)),
        new Timestamp(t0 + rnd.nextLong(5L * 365 * 86400) * 1000L + rnd.nextInt(1000)))
      // NULLs are drawn after the values so the NULL pattern and the
      // values are independent streams of the same generator
      val withNulls = values.zip(payload).map { case (v, (_, _, share)) =>
        if (rnd.nextDouble() < share) null else v
      }
      // the row index makes every id unique; the prefix spreads tokens
      Row.fromSeq((hex() + f"$i%016x") +: withNulls)
    }
  }

  /** Hash of one sink-shaped row (file_id + payload), JDBC-level values. */
  def rowHash(values: Seq[Any]): Long =
    values.foldLeft(1L) { (h, v) =>
      val vh = v match {
        case null => 0x5bd1e995L
        case s: String => Digest.str(s)
        case i: java.lang.Integer => Digest.mix(i.longValue())
        case t: Timestamp => Digest.mix(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
        case other => Digest.str(other.toString)
      }
      Digest.mix(h * 31 + vh)
    }

  /** Expected sink digest: the source rows with the files policy applied
    * here, independently of `Sanitize`.
    */
  def expectedDigest(rows: Array[Row]): (Long, Long) = {
    val names = payload.map(_._1)
    var s = 0L
    rows.foreach { r =>
      val vals = r.getString(0) +: names.zipWithIndex.map { case (c, i) =>
        val v = r.get(i + 1)
        if (v == null) notNullDefaults.getOrElse(c, null) else v
      }
      s += rowHash(vals)
    }
    (rows.length.toLong, s)
  }
}

/** Decorators over the three MigrateConfig seams. They time and count
  * each call into [[Trace]] and tag the sink's write job with a Spark job
  * group, so the listener can attribute the write stage.
  */
final class TracedSource(inner: MigrateSource) extends MigrateSource {
  def read(spark: SparkSession): DataFrame = Trace.span("pipeline.source_read") {
    Trace.count("pipeline.source_reads"); inner.read(spark)
  }
}

final class TracedSink(inner: MigrateSink, phase: () => String) extends MigrateSink {
  def write(df: DataFrame, rangeIds: Seq[Long]): Unit = Trace.span("pipeline.write") {
    Trace.count("pipeline.sink_writes")
    val sc = df.sparkSession.sparkContext
    sc.setJobGroup(phase() + ".write", "sink write")
    try inner.write(df, rangeIds) finally sc.setJobGroup(phase(), "migrate phase")
  }
  def countsByRange(spark: SparkSession, rangeIds: Seq[Long]): Map[Long, Long] =
    Trace.span("pipeline.verify")(inner.countsByRange(spark, rangeIds))
  def totalCount(spark: SparkSession): Long =
    Trace.span("pipeline.total_count")(inner.totalCount(spark))
}

final class TracedCheckpoints(inner: CheckpointStore) extends CheckpointStore {
  private def traced[T](f: => T): T = Trace.span("pipeline.checkpoint") {
    Trace.count("pipeline.checkpoint_calls"); f
  }
  def seedIfEmpty(ranges: Seq[TokenRange]): Unit = traced(inner.seedIfEmpty(ranges))
  def all(): Seq[CheckpointRange] = traced(inner.all())
  override def fetchIncomplete(): Seq[CheckpointRange] = traced(inner.fetchIncomplete())
  def markComplete(rangeIds: Seq[Long]): Unit = traced(inner.markComplete(rangeIds))
}

/** One migrate cycle = phase `fresh` (empty Derby to validate() OK) then
  * phase `resume` (the 128 even ranges' checkpoints reset with their rows
  * left in the sink, then run() and validate() again).
  */
object MigrateWorkload {
  /** Rows of the `files` table. Per-row costs at 100k are within 8% of
    * those at 200k; the sizing is in NOTES.md.
    */
  val Rows = 100000
  val NumRanges = 256
  val Sink = "files"
  val Wal = "migration_wal"
  val CheckpointTable = "migration_checkpoint"

  final case class Table(path: String, rows: Int, expected: (Long, Long), bytes: Long)
  /** `sink` is the (rows, digest) of the sink table after the phase. */
  final case class Phase(secs: Double, errors: Seq[String], sink: (Long, Long),
      layer: Map[String, Double])
  final case class Cycle(fresh: Phase, resume: Phase)
}

final class MigrateWorkload(spark: SparkSession, work: String) {
  import MigrateWorkload._
  private val sinkCols = FilesTable.sinkSchema.fieldNames.toSeq
  private val q = DerbyDialect.quote _

  /** Generate the table from the seed and write it as parquet. */
  def prepare(seed: Long, rows: Int, name: String): Table = {
    val data = FilesTable.generate(seed, rows)
    val path = s"$work/$name.parquet"
    spark.createDataFrame(spark.sparkContext.parallelize(data.toSeq, 4), FilesTable.schema)
      .write.mode("overwrite").parquet(path)
    val bytes = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length()).sum
    Table(path, rows, FilesTable.expectedDigest(data), bytes)
  }

  @volatile private var phaseName = "fresh"
  private var dbCounter = 0

  private def withConn[T](url: String)(f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def queryLong(c: Connection, sql: String): Long = {
    val st = c.createStatement()
    try { val rs = st.executeQuery(sql); rs.next(); rs.getLong(1) } finally st.close()
  }

  /** A fresh in-memory Derby database with the sink and control tables. */
  def bootstrap(): String = {
    dbCounter += 1
    val base = s"derby:memory:perfbench$dbCounter"
    withConn(s"jdbc:$base;create=true") { c =>
      Ddl.ensureTables(c, DerbyDialect, Sink, FilesTable.sinkSchema, Seq("file_id"))
    }
    base
  }

  def drop(base: String): Unit =
    try DriverManager.getConnection(s"jdbc:$base;drop=true").close()
    catch { case _: SQLException => () } // Derby signals a completed drop this way

  private def config(table: Table, base: String, traced: Boolean): MigrateConfig = {
    val url = (if (traced) TraceJdbc.Prefix else "jdbc:") + base
    val jdbc = JdbcSink.JdbcConfig(
      url = url, user = "", password = "", table = Sink, columns = sinkCols,
      keyCols = Seq("file_id"), dialect = DerbyDialect, batchSize = 5000,
      walTable = Some(Wal))
    val source: MigrateSource = ParquetSource(table.path)
    val sink: MigrateSink = JdbcTableSink(jdbc)
    val store: CheckpointStore = new JdbcCheckpoints(url, "", "", CheckpointTable, DerbyDialect)
    MigrateConfig(
      srcPath = table.path, keyCol = "id", numRanges = NumRanges,
      sinkPath = "", checkpointPath = "",
      policy = Sanitize.filesPolicy,
      renames = Map("id" -> "file_id"),
      tokenFn = CassandraToken.cassandra_token,
      ringMin = Tokens.RingMin, ringMax = Tokens.RingMax,
      source = Some(if (traced) new TracedSource(source) else source),
      sink = Some(if (traced) new TracedSink(sink, () => phaseName) else sink),
      checkpoints = Some(if (traced) new TracedCheckpoints(store) else store))
  }

  /** The benchmark's own post-phase check, against the database directly.
    * Returns the errors found and the sink's (rows, digest).
    */
  def check(table: Table, base: String): (Seq[String], (Long, Long)) = withConn(s"jdbc:$base") { c =>
    val errs = mutable.ArrayBuffer.empty[String]
    val st = c.createStatement()
    val sink = try {
      val rs = st.executeQuery(s"SELECT ${sinkCols.filter(_ != "range_id").map(q).mkString(", ")} FROM ${q(Sink)}")
      val ncol = sinkCols.size - 1
      var n = 0L
      var s = 0L
      while (rs.next()) {
        val vals = (1 to ncol).map { i =>
          val v = rs.getObject(i)
          if (rs.wasNull()) null else v
        }
        s += FilesTable.rowHash(vals)
        n += 1
      }
      if ((n, s) != table.expected)
        errs += f"sink digest ($n, ${s}%016x) != source with policy (${table.expected._1}, ${table.expected._2}%016x)"
      (n, s)
    } finally st.close()
    val walRows = queryLong(c, s"SELECT COUNT(*) FROM ${q(Wal)}")
    val walOpen = queryLong(c, s"SELECT COUNT(*) FROM ${q(Wal)} WHERE ${q("status")} <> 'COMMITTED'")
    if (walRows == 0 || walOpen != 0) errs += s"WAL: $walOpen of $walRows rows not COMMITTED"
    val cps = queryLong(c, s"SELECT COUNT(*) FROM ${q(CheckpointTable)}")
    val open = queryLong(c,
      s"SELECT COUNT(*) FROM ${q(CheckpointTable)} WHERE ${q("checkpoint")} <> ${q("range_end")}")
    if (cps != NumRanges || open != 0) errs += s"checkpoints: $open of $cps incomplete"
    val nullPred = FilesTable.notNullDefaults.keys.toSeq.sorted.map(col => s"${q(col)} IS NULL")
    val nulls = queryLong(c, s"SELECT COUNT(*) FROM ${q(Sink)} WHERE ${nullPred.mkString(" OR ")}")
    if (nulls != 0) errs += s"$nulls rows hold NULL in a NOT NULL column"
    (errs.toSeq, sink)
  }

  /** The crash-after-write case: checkpoints of the even ranges reset,
    * their rows left in the sink. Returns the rows in those ranges.
    */
  def resetEvenRanges(base: String): Long = withConn(s"jdbc:$base") { c =>
    val st = c.createStatement()
    val n = try st.executeUpdate(
      s"UPDATE ${q(CheckpointTable)} SET ${q("checkpoint")} = ${q("range_start")} " +
        s"WHERE MOD(${q("range_id")}, 2) = 0")
    finally st.close()
    require(n == NumRanges / 2, s"reset $n checkpoints, expected ${NumRanges / 2}")
    queryLong(c, s"SELECT COUNT(*) FROM ${q(Sink)} WHERE MOD(${q("range_id")}, 2) = 0")
  }

  private def runPhase(name: String, table: Table, base: String, traced: Boolean,
      listener: Option[GroupListener], toMigrate: Long): Phase = {
    phaseName = name
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(name, "migrate phase")
    val before = Trace.snapshot()
    val cfg = config(table, base, traced)
    val t0 = System.nanoTime()
    val (status, err) =
      try Trace.span(s"phase:$name") {
        val m = new Migrate(spark, cfg)
        m.run()
        val v = Trace.span("pipeline.validate")(m.validate())
        (v.status, None)
      } catch { case e: Exception => ("ERROR", Some(s"$name: ${e.toString.take(300)}")) }
    val secs = (System.nanoTime() - t0) / 1e9
    if (traced) sc.clearJobGroup()
    val (checkErrs, sink) = check(table, base)
    val errs = err.toSeq ++
      (if (err.isEmpty && status != "OK") Seq(s"$name: validate() = $status") else Nil) ++
      checkErrs.map(e => s"$name: $e")
    val layer = listener.map { l =>
      Metrics.drainListenerBus(spark)
      phaseLayer(Trace.delta(before, Trace.snapshot()), l, name, toMigrate)
    }.getOrElse(Map.empty)
    Phase(secs, errs, sink, layer)
  }

  private def phaseLayer(d: Map[String, Double], l: GroupListener, name: String,
      toMigrate: Long): Map[String, Double] = {
    val all = l.rollup(g => g == name || g.startsWith(name + "."))
    val write = l.rollup(_ == name + ".write")
    val runs = write.runTimesMs.sorted
    val median = if (runs.isEmpty) 0L else runs(runs.size / 2)
    val attempted = d("jdbc.rows_attempted")
    (Seq(
      "pipeline.write_s" -> d("pipeline.write"),
      "pipeline.sink_writes" -> d("pipeline.sink_writes"),
      "pipeline.verify_s" -> d("pipeline.verify"),
      "pipeline.checkpoint_s" -> d("pipeline.checkpoint"),
      "pipeline.checkpoint_calls" -> d("pipeline.checkpoint_calls"),
      "pipeline.validate_s" -> d("pipeline.validate"),
      "pipeline.source_reads" -> d("pipeline.source_reads"),
      "jdbc.insert_s" -> d("jdbc.insert"),
      "jdbc.wal_s" -> d("jdbc.wal"),
      "jdbc.commit_s" -> d("jdbc.commit"),
      "jdbc.control_s" -> d("jdbc.control"),
      "jdbc.batches" -> d("jdbc.batches"),
      "jdbc.rollbacks" -> d("jdbc.rollbacks"),
      "jdbc.rows_attempted" -> attempted,
      "jdbc.rows_inserted" -> d("jdbc.rows_inserted"),
      "jdbc.insert_yield" -> (if (attempted > 0) d("jdbc.rows_inserted") / attempted else 0.0),
      "jdbc.batches_multi_range" -> d("jdbc.batches_multi_range"),
      "spark.input_rows" -> write.inputRecords.toDouble,
      "spark.scan_amplification" ->
        (if (toMigrate > 0) write.inputRecords.toDouble / toMigrate else 0.0),
      "spark.write_tasks" -> write.tasks.toDouble,
      "spark.task_skew" -> (if (median > 0) runs.last.toDouble / median else 0.0)
    ) ++ Metrics.sparkTotals(all)).map { case (k, v) => s"$name.$k" -> v }.toMap
  }

  def cycle(table: Table, traced: Boolean, listener: Option[GroupListener]): Cycle = {
    val base = bootstrap()
    try {
      val fresh = runPhase("fresh", table, base, traced, listener, table.rows.toLong)
      val evenRows = resetEvenRanges(base)
      val resume = runPhase("resume", table, base, traced, listener, evenRows)
      Cycle(fresh, resume)
    } finally drop(base)
  }
}
