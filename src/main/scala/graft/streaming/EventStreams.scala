package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming bindings of the event-time operators whose batch
  * (oracle-checked) twins live in graft.ops.Events. The driver loop the
  * reference hand-rolls (T2: `while True: fetch_incomplete_ranges`,
  * snapshot_use_pyspark.py:465-478) is exactly what Structured Streaming's
  * incremental execution + checkpointing replaces at scale.
  *
  * events.ts has shipped in two physical forms across fixture generations
  * (see core.Tables.events): TIMESTAMP(NANOS), read as long nanos and
  * floor-divided to micros, and native TIMESTAMP(MICROS). A file-source
  * stream needs the schema up front, so probe the footer once with a batch
  * read, then normalize `ts` exactly as the batch loader does
  * (Tables.normalizeEventTs) — batch and stream agree row-for-row.
  */
object EventStreams {

  private def eventSchemaRaw(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over an sf directory's events parquet. The fixture
    * is a single file (not a directory), so stream the directory with a
    * glob filter — the same shape as tailing a landing directory in prod.
    * The footer probe is one driver-side metadata read, not a data scan.
    */
  def readEventStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val footerTsType =
      spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    graft.core.Tables.normalizeEventTs(spark.readStream
      .schema(eventSchemaRaw(footerTsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir))
  }

  /** Streaming twin of e1_tumbling_counts: watermarked tumbling windows. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))

  // --- stateful sessionization (streaming twin of e3_sessionization) -----

  final case class Ev(user_id: Long, ts_us: Long)
  final case class SessionState(start_us: Long, end_us: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start: Timestamp, session_end: Timestamp, n_events: Long)

  val GapUs: Long = 30L * 60 * 1000 * 1000

  /** flatMapGroupsWithState sessionizer: emits a session when a gap larger
    * than 30 minutes closes it. Per-key state is one (start, end, count)
    * triple — O(1) state per user, the shape that scales to billions of
    * keys with RocksDB state store.
    */
  def sessionize(events: Dataset[Ev])(implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          // within one trigger, order this user's events by time
          val sorted = evs.toSeq.sortBy(_.ts_us)
          var sessions = state.getOption.getOrElse(Nil)
          val closed = scala.collection.mutable.ListBuffer[SessionOut]()
          var cur = sessions.headOption
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts_us - s.end_us <= GapUs =>
                cur = Some(s.copy(end_us = e.ts_us, n = s.n + 1))
              case Some(s) =>
                closed += SessionOut(userId,
                  new Timestamp(s.start_us / 1000), new Timestamp(s.end_us / 1000), s.n)
                cur = Some(SessionState(e.ts_us, e.ts_us, 1))
              case None =>
                cur = Some(SessionState(e.ts_us, e.ts_us, 1))
            }
          }
          state.update(cur.toList)
          closed.iterator
      }
  }

  /** Streaming twin of e2_sliding_counts: watermarked sliding windows
    * (1 h window, 30 min hop) — each event lands in two windows.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

  /** session_window-builtin sessionization — the declarative twin of the
    * flatMapGroupsWithState sessionizer above and of the batch e3
    * window-composition. Works over batch OR a watermarked stream (pass
    * an already-watermarked df for Append-mode streaming). Note the
    * builtin's session end is `last event + gap` (exclusive), where the
    * composed twins report the last event itself.
    */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
              col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("n_events"))

  /** Stream-stream interval join: each click joined to the impressions of
    * the same user within the preceding hour. Watermarks on BOTH sides
    * bound the join state (impressions kept 1h + join range; clicks 2h),
    * which is what makes the operator viable on an unbounded stream —
    * state is O(watermark window), not O(history).
    */
  def clickAttribution(impressions: DataFrame, clicks: DataFrame): DataFrame =
    clicks.withWatermark("c_ts", "2 hours")
      .join(
        impressions.withWatermark("i_ts", "1 hour"),
        expr("c_user = i_user AND i_ts BETWEEN c_ts - INTERVAL 1 HOUR AND c_ts"),
        "inner")

  /** Left-outer variant of [[clickAttribution]]: every click is emitted
    * exactly once — matched clicks as they join, unmatched clicks with a
    * null impression side once the watermark proves no future impression
    * can still fall in their interval. This eviction-emits-null behavior
    * is the semantics that distinguishes a streaming outer join from its
    * batch twin (which can look at the whole input at once); state stays
    * O(watermark window) on both sides, as with the inner join.
    */
  def clickAttributionOuter(impressions: DataFrame, clicks: DataFrame): DataFrame =
    clicks.withWatermark("c_ts", "2 hours")
      .join(
        impressions.withWatermark("i_ts", "1 hour"),
        expr("c_user = i_user AND i_ts BETWEEN c_ts - INTERVAL 1 HOUR AND c_ts"),
        "left_outer")

  /** Streaming ingestion into the idempotent JDBC sink: foreachBatch
    * hands every micro-batch to JdbcSink.write, so a batch replayed
    * after a failure (Structured Streaming's at-least-once contract per
    * epoch) is absorbed by the key-idempotent insert — the same
    * effectively-once story as the batch pipeline, now continuous.
    * The WAL's (range_id, batch_id) rows do not carry the streaming
    * epoch: batch ids are (partitionId << 20) | batchIndex within one
    * micro-batch, so a later epoch with the same partition, batch index
    * and first-row range_id upserts the same WAL row.
    */
  def streamToJdbc(
      df: DataFrame,
      cfg: graft.pipeline.JdbcSink.JdbcConfig,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.pipeline.JdbcSink.write(batch.toDF(), cfg)
      }
      .start()

  /** File-source stream over an sf directory's documents parquet (same
    * directory-plus-glob shape as the events stream; schema taken from
    * the batch fixture so the two readers agree).
    */
  def readDocumentStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
  }

  /** Stream-static decontamination — the continuous-ingest twin of the
    * batch d15_decontaminate: documents stream in, the benchmark shingle
    * set is a STATIC broadcast side (stream-static join needs no
    * watermark on the static side and keeps no join state), and the
    * per-doc overlap count is the one streaming aggregation. At 100 TB/day
    * ingest this is exactly the deploy shape: the benchmark table updates
    * rarely; the corpus never stops.
    */
  def streamingDecontaminate(docStream: DataFrame, benchShingles: DataFrame): DataFrame =
    graft.ops.Dedup.decontaminate(graft.ops.Dedup.shingleTable(docStream), benchShingles)

  /** Continuous curation ingest — the streaming composition of the batch
    * curation operators: quality gate (d20's length floor), PII scrub
    * (d19's redaction) and the idempotent JDBC sink, as ONE streaming
    * pipeline. Every stage is scan-side codegen except the sink write;
    * replayed epochs are absorbed by the key-idempotent insert, so the
    * pipeline is effectively-once end to end.
    */
  def curatedDocsToJdbc(
      docStream: DataFrame,
      cfg: graft.pipeline.JdbcSink.JdbcConfig,
      checkpointDir: String,
      minChars: Int = 50): org.apache.spark.sql.streaming.StreamingQuery = {
    val pat = "[a-z0-9]+@[a-z0-9.]+[a-z]"
    val curated = docStream
      .where(col("n_chars") >= minChars)
      .withColumn("text", regexp_replace(col("text"), pat, "<EMAIL>"))
      .withColumn("range_id", pmod(col("doc_id"), lit(8)))
      .select("doc_id", "text", "range_id")
    streamToJdbc(curated, cfg, checkpointDir)
  }

  // --- transformWithState (the arbitrary-state API v2) -------------------

  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Per-user running totals on the v2 arbitrary-state API
    * (`transformWithState`): a typed ValueState survives across
    * micro-batches in RocksDB, one updated row per user per batch. This
    * is the scale path for custom streaming state going forward — named
    * state variables in RocksDB column families instead of one opaque
    * GroupState blob, with timers and per-state TTL available — so the
    * engine carries the minimal production shape of it next to the
    * flatMapGroupsWithState sessionizer it will eventually replace.
    */
  class UserTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Double), UserTotals] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, ValueState}

    @transient private var totals: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Double)](
        "totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble),
        TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[UserTotals] = {
      var (n, v) = if (totals.exists()) totals.get() else (0L, 0.0)
      rows.foreach { case (_, value) => n += 1; v += value }
      totals.update((n, v))
      Iterator.single(UserTotals(key, n, v))
    }
  }

  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /** Per-user per-event-type counters on MapState — the keyed sub-map
    * shape (user -> {type -> count}) a personalization/feature pipeline
    * maintains per entity. Completes the v2 state-variable surface the
    * engine exercises: ValueState (UserTotalsProcessor), ListState
    * (DedupStreams.BucketPairProcessor), timers (SessionTimeoutProcessor),
    * and MapState here. Only the types touched in a batch are re-emitted,
    * so output is O(activity), not O(state).
    */
  class UserTypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, String), TypeCount] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, MapState}

    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "type_counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { case (_, ty) =>
        val cur = if (counts.containsKey(ty)) counts.getValue(ty) else 0L
        counts.updateValue(ty, cur + 1)
        touched += ty
      }
      touched.iterator.map(ty => TypeCount(key, ty, counts.getValue(ty)))
    }
  }

  final case class MomentsOut(event_type: String, n: Long, mean: Double, m2: Double)

  /** Streaming running moments (Welford) — the streaming twin of the
    * batch z-score pass (e8): per-key state is THREE numbers
    * (n, mean, M2) regardless of stream length, updated in O(1) per
    * event and numerically stable where the naive Σv² accumulator
    * cancels catastrophically. Emitted per batch in Update mode, the
    * latest row per key is the current population mean/variance — the
    * thing a 100 TB/day anomaly monitor reads without ever re-scanning
    * history.
    */
  class RunningMomentsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, Double), MomentsOut] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig, TimerValues, ValueState}

    @transient private var st: ValueState[(Long, Double, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Double, Double)](
        "moments",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaDouble),
        TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[(String, Double)],
        timerValues: TimerValues): Iterator[MomentsOut] = {
      var (n, mean, m2) = if (st.exists()) st.get() else (0L, 0.0, 0.0)
      rows.foreach { case (_, v) =>
        n += 1
        val delta = v - mean
        mean += delta / n
        m2 += delta * (v - mean)
      }
      st.update((n, mean, m2))
      Iterator.single(MomentsOut(key, n, mean, m2))
    }
  }

  final case class EvT(user_id: Long, ts: Timestamp)

  /** Event-time session timeout on the v2 API's TIMERS: while events for a
    * user keep arriving the session extends and re-arms a timer at
    * end + gap; when the WATERMARK passes that instant the expired timer
    * fires and the closed session is emitted from `handleExpiredTimer` —
    * the push-based shape that flatMapGroupsWithState can only emulate by
    * waiting for the next input batch. Stale timers (re-armed sessions
    * leave earlier registrations behind) are recognized by comparing the
    * expiry against the CURRENT state's end + gap and ignored.
    */
  class SessionTimeoutProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EvT, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TTLConfig, TimerValues, ValueState}

    @transient private var sess: ValueState[(Long, Long, Long)] = _ // start_ms, end_ms, n

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)](
        "sess",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(
        key: Long, rows: Iterator[EvT], tv: TimerValues): Iterator[SessionOut] = {
      var (st, en, n) =
        if (sess.exists()) sess.get() else (Long.MaxValue, Long.MinValue, 0L)
      rows.foreach { e =>
        val t = e.ts.getTime
        st = math.min(st, t); en = math.max(en, t); n += 1
      }
      sess.update((st, en, n))
      getHandle.registerTimer(en + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long, tv: TimerValues, info: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (!sess.exists()) Iterator.empty
      else {
        val (st, en, n) = sess.get()
        if (info.getExpiryTimeInMs >= en + gapMs) {
          sess.clear()
          Iterator.single(SessionOut(key, new Timestamp(st), new Timestamp(en), n))
        } else Iterator.empty // stale timer from before the session extended
      }
    }
  }

  /** Drain open sessions from a final state snapshot (test helper: after
    * processAllAvailable, open sessions are still in state).
    */
  def runTumblingToMemory(spark: SparkSession, sfDir: String, queryName: String): Unit = {
    val q = tumblingCounts(readEventStream(spark, sfDir))
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
