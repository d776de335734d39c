package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window

import graft.core.Tables

/** Event-time operators over the `events` fixture. These are the batch
  * (oracle-checkable) semantics of the engine's streaming surface; the
  * Structured Streaming bindings of the same windows live in
  * graft.streaming.EventStreams and are asserted equal to these in tests.
  *
  * Time arithmetic stays in integer microseconds (unix_micros / epoch_us)
  * so both engines compare exact integers — no float seconds, no truncation.
  */
object Events {

  private def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Parallelism dial for the two-level user-keyed windows: one day of
    * microseconds. A per-(user, day) window task holds one user-DAY of
    * events regardless of corpus size, so a hot key (a bot with a
    * billion-event stream) distributes across its days instead of
    * serializing into one task — w5's proven shape, shared here by every
    * lag/prefix rewrite below.
    */
  private val BucketUs = 86400000000L

  /** EXACT lag-1 over (user_id ORDER BY us, event_id), computed
    * two-level: the lag window runs within (user_id, us-day bucket) —
    * bucket is a function of the primary sort key, so it is order-aligned
    * with the sort — and each bucket's FIRST row recovers its predecessor
    * from the boundary set (first/last row per bucket, lag'd in per-user
    * order). Exactness: a bucket-first row's full-order predecessor is
    * the LAST row of the previous non-empty bucket; both are in the
    * boundary set and ADJACENT in it (nothing lies between them in the
    * full order, and the subsequence preserves order), so the boundary
    * lag returns exactly the full-order lag there. Tie rows (equal us at
    * a bucket edge) share a bucket by construction, and the event_id
    * tie-break is identical in both windows. Pinned against the plain
    * single-window lag on a crafted corpus in TwoLevelWindowSpec.
    *
    * Returns the input plus `prev_<c>` for each requested column and the
    * `bucket`/`rn_asc` bookkeeping columns (callers may reuse them for
    * follow-up two-level passes); the input frame is persisted via
    * PipelineCache (two consumers: the within pass and the boundary set).
    */
  private def twoLevelLag(df: org.apache.spark.sql.DataFrame,
                          cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val wIn = Window.partitionBy("user_id", "bucket").orderBy("us", "event_id")
    val marked0 = df.withColumn("bucket", expr(s"us div $BucketUs"))
      .withColumn("rn_asc", row_number().over(wIn))
      // "last of bucket" via the unordered count — a desc row_number
      // would re-sort every partition descending (w5's measured 2x)
      .withColumn("rn_desc",
        count(lit(1)).over(Window.partitionBy("user_id", "bucket"))
          - col("rn_asc") + 1)
    val marked = cols.foldLeft(marked0) { (d, c) =>
      d.withColumn(s"prev_$c", lag(col(c), 1).over(wIn))
    }.persist()
    PipelineCache.retain(marked)
    val wB = Window.partitionBy("user_id").orderBy("us", "event_id")
    val cross0 = marked
      .where(col("rn_asc") === 1 || col("rn_desc") === 1)
      .select((Seq("user_id", "bucket", "rn_asc", "us", "event_id") ++ cols)
        .map(col): _*)
    val cross = cols.foldLeft(cross0) { (d, c) =>
      d.withColumn(s"cross_$c", lag(col(c), 1).over(wB))
    }
      .where(col("rn_asc") === 1)
      .select((Seq("user_id", "bucket") ++ cols.map(c => s"cross_$c")).map(col): _*)
    cols.foldLeft(marked.join(cross, Seq("user_id", "bucket"), "left")) { (d, c) =>
      d.withColumn(s"prev_$c",
        when(col("rn_asc") === 1, col(s"cross_$c")).otherwise(col(s"prev_$c")))
        .drop(s"cross_$c")
    }
  }

  val queries: Map[String, Q] = Map(

    // Tumbling 1h windows per event type. Spark's window() generalizes to
    // streaming with a watermark; start of a tumbling window == date_trunc.
    "e1_tumbling_counts" -> Q(
      fn = (s, d) =>
        Tables.events(s, d)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
          .select(col("window.start").as("win_start"), col("event_type"),
                  col("n"), col("sum_value"))
          .orderBy("win_start", "event_type"),
      oracle = Some("""
        SELECT date_trunc('hour', ts) AS win_start, event_type,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY win_start, event_type
        ORDER BY win_start, event_type"""),
      doc = "tumbling event-time window aggregation"
    ),

    // Sliding 1h windows every 30 min: each event lands in 2 windows.
    // Oracle reproduces Spark's window assignment with integer-microsecond
    // arithmetic: window starts are the two 30-min grid points covering ts.
    "e2_sliding_counts" -> Q(
      fn = (s, d) =>
        Tables.events(s, d)
          .groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("win_start"), col("n"))
          .orderBy("win_start"),
      oracle = Some("""
        WITH x AS (
          SELECT make_timestamp((epoch_us(ts) // 1800000000 - k) * 1800000000) AS win_start
          FROM events, range(2) t(k)
          WHERE epoch_us(ts) >= (epoch_us(ts) // 1800000000 - k) * 1800000000
            AND epoch_us(ts) <  (epoch_us(ts) // 1800000000 - k) * 1800000000 + 3600000000)
        SELECT win_start, count(*) AS n FROM x
        GROUP BY win_start ORDER BY win_start"""),
      doc = "sliding windows (1h / 30min hop)"
    ),

    // Sessionization with a 30-minute inactivity gap, expressed relationally
    // (lag -> new-session flag -> running sum); the streaming twin is
    // session_window / flatMapGroupsWithState.
    "e3_sessionization" -> Q(
      fn = (s, d) => {
        // TWO-LEVEL: the gap flags come from twoLevelLag (per-(user, day)
        // windows + boundary stitch), and the running session counter
        // decomposes as within-bucket running sum + exclusive per-user
        // prefix of bucket totals (d16's proven prefix-sum shape) — so a
        // hot user's sessionization distributes across days, never one
        // window task. Ids equal the single-window formulation exactly:
        // the flags are identical and offset+within is the same prefix.
        val lagged = twoLevelLag(
            Tables.events(s, d)
              .select(col("user_id"), col("event_id"), col("ts"),
                      unix_micros(col("ts")).as("us")),
            Seq("us"))
          .withColumn("new_s",
            when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1L)
              .otherwise(0L))
          .persist() // two consumers: bucket totals + the main running sum
        PipelineCache.retain(lagged)
        val wIn = Window.partitionBy("user_id", "bucket").orderBy("us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wOff = Window.partitionBy("user_id").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)
        // (user x active-day)-sized — bounded by the time span, not the
        // event count, so NOT broadcast: an equi-join on the window's own
        // (user, bucket) distribution
        val offsets = lagged.groupBy("user_id", "bucket")
          .agg(sum("new_s").as("tot"))
          .withColumn("offset", coalesce(sum("tot").over(wOff), lit(0L)))
          .select("user_id", "bucket", "offset")
        lagged
          .withColumn("within", sum("new_s").over(wIn))
          .join(offsets, Seq("user_id", "bucket"))
          .withColumn("session_id", col("offset") + col("within"))
          .groupBy("user_id", "session_id")
          .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
               count(lit(1)).as("n_events"))
          .orderBy("user_id", "session_id")
      },
      oracle = Some("""
        WITH x AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        y AS (
          SELECT user_id, ts,
                 CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM x)
        SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
               count(*) AS n_events
        FROM y GROUP BY user_id, session_id ORDER BY user_id, session_id"""),
      doc = "gap-based sessionization via window functions"
    ),

    // Semi-structured extraction from the JSON props column.
    // Event-transition matrix — per-user consecutive-event bigrams (the
    // first-order Markov view of behavior): one lag window per user
    // ordered by time (event_id tie-break for exactness), then a count
    // per (from, to) pair. The transition matrix is
    // event-type^2-bounded — tiny output from any volume of input.
    "e7_transition_matrix" -> Q(
      fn = (s, d) =>
        // two-level lag (see twoLevelLag): the bigram's left element comes
        // from per-(user, day) windows plus the boundary stitch
        twoLevelLag(
          Tables.events(s, d)
            .select(col("user_id"), col("event_id"),
                    unix_micros(col("ts")).as("us"), col("event_type")),
          Seq("event_type"))
          .where(col("prev_event_type").isNotNull)
          .groupBy(col("prev_event_type").as("from_type"),
                   col("event_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy("from_type", "to_type"),
      oracle = Some("""
        WITH seq AS (
          SELECT user_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS prev_type
          FROM events)
        SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY from_type, to_type ORDER BY from_type, to_type"""),
      doc = "event-transition matrix: per-user consecutive-event bigram counts"
    ),

    // Cohort retention — the other staple of event analytics: users
    // grouped by first-activity week, counted per week-age since their
    // cohort. Two user-keyed aggregations + one user-keyed join; the
    // (cohort, age) matrix is output-bounded. Weeks are integer
    // microsecond-epoch divisions, exact on both engines.
    "e6_cohort_retention" -> Q(
      fn = (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"),
                  expr("unix_micros(ts) div 604800000000").as("wk"))
        val firstWk = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
        val active = ev.distinct()
        active.join(firstWk, "user_id")
          .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("age_wk"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_wk", "age_wk")
      },
      oracle = Some("""
        WITH ev AS (SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
        f AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id),
        a AS (SELECT DISTINCT user_id, wk FROM ev)
        SELECT cohort_wk, wk - cohort_wk AS age_wk,
               count(DISTINCT a.user_id) AS n_users
        FROM a JOIN f USING (user_id)
        GROUP BY cohort_wk, age_wk ORDER BY cohort_wk, age_wk"""),
      doc = "cohort retention: users per (first-activity week, week age)"
    ),

    // Conversion funnel — staged event-sequence analytics: users who
    // viewed, then clicked AT OR AFTER their first view, then purchased
    // at or after their first qualifying click. Each stage is one
    // user-keyed aggregation + one user-keyed join (no self-join blowup,
    // no per-user sorting) — the funnel shape that scales to billions of
    // users. All time comparisons run in integer microseconds on both
    // engines (unix_micros / epoch_us) so ns->us truncation can't skew a
    // boundary.
    "e5_funnel" -> Q(
      fn = (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
        // v and c each feed TWO consumers (the next stage + the final
        // count); persist the user-sized aggregates so events is scanned
        // exactly once per funnel stage (filter-pruned), not re-executed
        // per branch
        val v = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("us").as("t_view")).persist()
        val c = ev.where(col("event_type") === "click")
          .join(v, "user_id").where(col("us") >= col("t_view"))
          .groupBy("user_id").agg(min("us").as("t_click")).persist()
        PipelineCache.retain(v, c)
        val p = ev.where(col("event_type") === "purchase")
          .join(c, "user_id").where(col("us") >= col("t_click"))
          .groupBy("user_id").agg(min("us").as("t_buy"))
        v.agg(count(lit(1)).as("n_view"))
          .crossJoin(c.agg(count(lit(1)).as("n_click")))
          .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
      },
      oracle = Some("""
        WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        v AS (SELECT user_id, min(us) AS t_view FROM e
              WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, min(us) AS t_click FROM e JOIN v USING (user_id)
              WHERE event_type = 'click' AND us >= t_view GROUP BY e.user_id),
        p AS (SELECT e.user_id, min(us) AS t_buy FROM e JOIN c USING (user_id)
              WHERE event_type = 'purchase' AND us >= t_click GROUP BY e.user_id)
        SELECT (SELECT count(*) FROM v) AS n_view,
               (SELECT count(*) FROM c) AS n_click,
               (SELECT count(*) FROM p) AS n_purchase"""),
      doc = "conversion funnel: staged ordered-event counts per user"
    ),

    // Two-pass z-score anomaly detection per event type: pass 1 computes
    // exact moment sums (n, Σv, Σv² in DECIMAL — order-independent, so
    // cross-engine exact), pass 2 scores every event against the
    // broadcast per-type stats. The two-scan shape is deliberate: exact
    // global moments need a full pass before any row can be scored, and
    // the stats relation is type-cardinality sized (broadcast), so at
    // 100 TB this is two scans and zero fact shuffles.
    "e8_anomaly_zscore" -> Q(
      fn = (s, d) => {
        val ev = Tables.events(s, d).select("event_type", "value")
        // try_cast: the exact-moment envelope is DECIMAL(18,6) (|v|<1e12).
        // Metric streams routinely carry garbage magnitudes and NaN/Inf;
        // those fall OUT of the moment estimate as NULL (NaN/Inf->decimal
        // is already NULL) instead of crashing — but they are still
        // SCORED below against the well-formed moments, so a 1e12 spike
        // is flagged as the anomaly it is rather than poisoning the mean.
        // n = count(dv), NOT count(*): the moments must be computed over
        // the same well-formed population as the sums, or every garbage
        // row deflates mean and variance.
        val dv = expr("try_cast(value AS DECIMAL(18,6))")
        val st = ev.groupBy("event_type").agg(
          count(dv).as("n"),
          sum(dv).cast("double").as("s1"),
          sum(dv * dv).cast("double").as("s2"))
        val m = st.select(col("event_type"), col("n"),
          (col("s1") / col("n")).as("mean"),
          sqrt(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n"))).as("std"))
        // zero std (single event, constant values) leaves the z-score
        // undefined: nullif makes the comparison NULL -> not an anomaly
        // in both engines, instead of an ANSI divide-by-zero crash
        ev.join(broadcast(m), Seq("event_type"))
          .groupBy("event_type")
          .agg(max(col("n")).as("n"),
               sum(when(abs((col("value") - col("mean")) /
                            nullif(col("std"), lit(0.0))) > 3.0, 1L)
                     .otherwise(0L)).as("n_anomalies"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH st AS (
          SELECT event_type, CAST(count(TRY_CAST(value AS DECIMAL(18,6))) AS BIGINT) AS n,
                 CAST(sum(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
                 CAST(sum(TRY_CAST(value AS DECIMAL(18,6)) * TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2
          FROM events GROUP BY event_type),
        m AS (
          SELECT event_type, n, s1 / n AS mean,
                 sqrt(s2 / n - (s1 / n) * (s1 / n)) AS std
          FROM st)
        SELECT e.event_type, max(m.n) AS n,
               CAST(sum(CASE WHEN abs((e.value - m.mean) / nullif(m.std, 0)) > 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        FROM events e JOIN m ON e.event_type = m.event_type
        GROUP BY e.event_type ORDER BY e.event_type"""),
      doc = "two-pass z-score anomalies per event type (exact moments, broadcast stats)"
    ),

    // Windowed top-k: the 2 busiest event types per tumbling day — the
    // batch twin of a streaming `window(...)` + rank sink (in streaming the
    // same plan runs in complete mode or via flatMapGroupsWithState).
    // Scale shape: one keyed shuffle of (day, type) partial counts (map-side
    // combined), then a per-day window over at most |event_type| rows per
    // day — the window input is aggregate-sized, not event-sized.
    "e9_windowed_topk" -> Q(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("day").orderBy(col("n").desc, col("event_type"))
        Tables.events(s, d)
          .groupBy(window(col("ts"), "1 day").as("win"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(to_date(col("win.start")).as("day"), col("event_type"), col("n"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .where(col("rnk") <= 2)
          .orderBy("day", "rnk")
      },
      oracle = Some("""
        SELECT day, event_type, n, rnk FROM (
          SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n,
                 CAST(row_number() OVER (PARTITION BY date_trunc('day', ts)
                        ORDER BY count(*) DESC, event_type) AS BIGINT) AS rnk
          FROM events GROUP BY 1, 2)
        WHERE rnk <= 2 ORDER BY day, rnk"""),
      doc = "top-k event types per tumbling day window (aggregate-sized rank input)"
    ),

    "e4_json_extract" -> Q(
      fn = (s, d) =>
        Tables.events(s, d)
          // try_cast: event props are free-form — a wrong-typed field
          // ({"k":"oops"}) is routine in a stream and must group under
          // NULL, not crash the ANSI cast (malformed JSON already
          // extracts as NULL)
          .withColumn("k", expr("try_cast(get_json_object(props, '$.k') AS LONG)"))
          .groupBy("k")
          .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("sum_value"))
          .orderBy("k"),
      oracle = Some("""
        SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY k ORDER BY k"""),
      doc = "JSON field extraction + aggregation"
    ),

    // Time-series resample + forward fill: per-user daily revenue on a
    // gap-free day spine (min..max activity day per user), with missing
    // days carrying the last observed value forward. The spine is a
    // per-user sequence+explode (bounded by that user's span, never a
    // global calendar cross join); the fill is one user-keyed window —
    // each series packs into its own partition, so at 100 TB this is a
    // single keyed shuffle plus a per-key sort, no global ordering. The
    // oracle reproduces last-non-null via the cumulative-count-of-non-null
    // grouping trick (pure ANSI window algebra, value-identical).
    "e10_gap_fill" -> Q(
      fn = (s, d) => {
        // `daily` feeds both the spine bounds and the fill join; persisting
        // the (user x day)-sized aggregate keeps the events scan single-pass.
        val daily = Tables.events(s, d)
          .where(col("user_id") < 40)
          .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value"), 2).as("revenue"))
          .persist()
        PipelineCache.retain(daily)
        val spine = daily.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
          .select(col("user_id"),
                  explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
        val w = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(daily, Seq("user_id", "day"), "left")
          .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
          .withColumn("revenue_filled", last(col("revenue"), ignoreNulls = true).over(w))
          .withColumn("is_gap", col("revenue").isNull)
          .select("user_id", "day", "n_events", "revenue_filled", "is_gap")
          .orderBy("user_id", "day")
      },
      oracle = Some("""
        WITH daily AS (
          SELECT user_id, date_trunc('day', ts) AS day,
                 count(*) AS n_events,
                 CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          FROM events WHERE user_id < 40 GROUP BY 1, 2),
        bounds AS (
          SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id),
        spine AS (
          SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
          FROM bounds),
        j AS (
          SELECT s.user_id, s.day,
                 coalesce(d.n_events, 0) AS n_events, d.revenue
          FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day),
        g AS (
          SELECT *, count(revenue) OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM j)
        SELECT user_id, day, n_events,
               max(revenue) OVER (PARTITION BY user_id, grp) AS revenue_filled,
               revenue IS NULL AS is_gap
        FROM g ORDER BY user_id, day"""),
      doc = "time-series resample to a daily spine + forward fill per user"
    ),

    // Watermark / late-data audit — the batch twin of Structured
    // Streaming's `withWatermark` accounting: replay events in arrival
    // order (event_id is the monotonic ingest id) and flag each event
    // whose event time trails the running max event time by more than
    // the 10-minute watermark delay; those are the rows a streaming
    // window would drop. Partitioned per event_type — the per-source-
    // partition watermark is exactly how Spark tracks it before taking
    // the global min, and it keeps the window keyed (no global sort).
    // All comparisons in integer microseconds: bit-stable both engines.
    "e11_late_data_audit" -> Q(
      fn = (s, d) => {
        // Two-level exclusive running max so one event_type never
        // serializes into a single window task: within-bucket prefix
        // max over (event_type, event_id-range bucket) — order-aligned
        // with event_id — combined with the max over all EARLIER
        // buckets (exclusive prefix max of the aggregate-sized bucket
        // maxima, broadcast back). greatest(offset, within) is exactly
        // the single-window high-water mark.
        val wIn = Window.partitionBy("event_type", "bucket").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wOff = Window.partitionBy("event_type").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)
        // evs feeds TWO consumers (bucket-maxima aggregate + the main
        // within-bucket window); persist the 4-column projection so the
        // events scan runs once per query (d25/d40 ScanAudit discipline)
        val evs = Tables.events(s, d)
          .select(col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
          .withColumn("bucket", expr("event_id div 4096"))
          .persist()
        PipelineCache.retain(evs)
        val offsets = evs.groupBy("event_type", "bucket")
          .agg(max("us").as("bmax"))
          .withColumn("omax", max("bmax").over(wOff))
          .select("event_type", "bucket", "omax")
        evs
          .withColumn("wmax", max("us").over(wIn))
          .join(broadcast(offsets), Seq("event_type", "bucket"))
          .withColumn("hwm", greatest(col("omax"), col("wmax")))
          .withColumn("late_us",
            when(col("hwm") - lit(600000000L) > col("us"),
                 col("hwm") - lit(600000000L) - col("us")).otherwise(lit(0L)))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
               sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
               max("late_us").as("max_late_us"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH a AS (
          SELECT event_id, event_type, epoch_us(ts) AS us,
                 max(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
          FROM events),
        l AS (
          SELECT event_type,
                 CASE WHEN hwm - 600000000 > us THEN hwm - 600000000 - us
                      ELSE 0 END AS late_us
          FROM a)
        SELECT event_type, count(*) AS n_events,
               CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
               CAST(max(late_us) AS BIGINT) AS max_late_us
        FROM l GROUP BY event_type ORDER BY event_type"""),
      doc = "watermark late-data audit: arrival-order replay per source partition"
    ),

    // Last-touch attribution: each purchase credits the most recent
    // click/view by the same user within the 1-hour lookback, else
    // 'unattributed'. One user-keyed window carries the last touch
    // forward (the streaming-friendly as-of shape — no purchase×touch
    // self-join), so at 100 TB this is one keyed shuffle + per-user
    // sort. The oracle reproduces last-non-null with the cumulative-
    // count grouping trick; all time math in integer microseconds.
    "e12_attribution" -> Q(
      fn = (s, d) => {
        // TWO-LEVEL running last-non-null: the last touch at-or-before a
        // purchase is either (a) the within-(user, day) last touch up to
        // the row, or — when the purchase's day has no earlier touch —
        // (b) the latest touch of any PRIOR day, carried via a per-user
        // exclusive window over the (user x active-day)-sized bucket
        // summary (e11's running-max shape generalized to last-non-null).
        // A hot user's attribution therefore distributes across days.
        val isTouch = col("event_type").isin("click", "view")
        val base = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"),
                  unix_micros(col("ts")).as("us"))
          .withColumn("bucket", expr(s"us div $BucketUs"))
          .persist() // two consumers: within windows + the bucket summary
        PipelineCache.retain(base)
        val wIn = Window.partitionBy("user_id", "bucket").orderBy("us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wOff = Window.partitionBy("user_id").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)
        // latest touch per (user, day): max of the (us, event_id, type)
        // struct over touch rows (lexicographic = event order); NULL for
        // touchless days, skipped by the carry's ignoreNulls
        val carry = base.groupBy("user_id", "bucket")
          .agg(max(when(isTouch,
                 struct(col("us"), col("event_id"), col("event_type")))).as("lt"))
          .withColumn("cl", last(col("lt"), ignoreNulls = true).over(wOff))
          .select(col("user_id"), col("bucket"),
                  col("cl.us").as("c_us"), col("cl.event_type").as("c_ty"))
        base
          .withColumn("w_us",
            last(when(isTouch, col("us")), ignoreNulls = true).over(wIn))
          .withColumn("w_ty",
            last(when(isTouch, col("event_type")), ignoreNulls = true).over(wIn))
          .join(carry, Seq("user_id", "bucket"))
          .withColumn("touch_us", coalesce(col("w_us"), col("c_us")))
          .withColumn("touch_type", coalesce(col("w_ty"), col("c_ty")))
          .where(col("event_type") === "purchase")
          .withColumn("channel",
            when(col("touch_us").isNotNull &&
                 col("us") - col("touch_us") <= 3600000000L, col("touch_type"))
              .otherwise("unattributed"))
          .groupBy("channel")
          .agg(count(lit(1)).as("n_purchases"))
          .orderBy("channel")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
                 CASE WHEN event_type IN ('click','view') THEN epoch_us(ts) END AS t_us,
                 CASE WHEN event_type IN ('click','view') THEN event_type END AS t_ty
          FROM events),
        g AS (
          SELECT *, count(t_us) OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM ev),
        a AS (
          SELECT *, max(t_us) OVER (PARTITION BY user_id, grp) AS touch_us,
                    max(t_ty) OVER (PARTITION BY user_id, grp) AS touch_type
          FROM g)
        SELECT CASE WHEN touch_us IS NOT NULL AND us - touch_us <= 3600000000
                    THEN touch_type ELSE 'unattributed' END AS channel,
               count(*) AS n_purchases
        FROM a WHERE event_type = 'purchase'
        GROUP BY channel ORDER BY channel"""),
      doc = "last-touch attribution within a 1-hour lookback (as-of window, no self-join)"
    ),

    // Ordered-sequence pattern matching (MATCH_RECOGNIZE-lite): find
    // every view -> click -> purchase run that is CONSECUTIVE within a
    // user's funnel-event subsequence and completes inside 24 hours
    // (the fixture averages one funnel event per user every ~14 h, so a
    // 1-hour window matches nothing — the day window yields real runs).
    // The engine's rewrite: filter to the pattern alphabet, then lead
    // windows expose each 3-row run — no self-joins, so cost is one
    // keyed shuffle regardless of pattern length. e5 counts stage
    // reach; this emits each full match instance, which is what
    // session-quality and abuse analyses need.
    "w5_pattern_match" -> Q(
      fn = (s, d) => {
        // TWO-LEVEL match, so one hot user (a bot with a billion-event
        // stream) never serializes into a single window task: the lead
        // windows run within (user_id, time bucket) — bucket = us div B
        // depends on the primary sort key alone, so it is order-aligned
        // with the (us, event_id) sort — and runs that cross a bucket
        // edge are recovered from the BOUNDARY set (first/last 2 rows
        // per bucket: a lead-2 from any last-2 row lands inside it, and
        // the boundary subsequence is contiguous in the full per-user
        // order exactly there). A view row with >= 2 followers in its
        // own bucket (rn_desc >= 3) is exact in the within pass; the
        // two passes split on rn_desc, so they are disjoint and
        // exhaustive. Bucket width is the parallelism dial: 1 day keeps
        // a task at one user-day of events regardless of corpus size.
        val bucketUs = 86400000000L
        val wIn = Window.partitionBy("user_id", "bucket").orderBy("us", "event_id")
        val marked = Tables.events(s, d)
          .where(col("event_type").isin("view", "click", "purchase"))
          .select(col("user_id"), col("event_id"), col("event_type"),
                  unix_micros(col("ts")).as("us"))
          .withColumn("bucket", expr(s"us div $bucketUs"))
          .withColumn("t1", lead("event_type", 1).over(wIn))
          .withColumn("t2", lead("event_type", 2).over(wIn))
          .withColumn("us2", lead("us", 2).over(wIn))
          .withColumn("rn_asc", row_number().over(wIn))
          // "last 2 of bucket" via the unordered bucket count — an
          // rn_desc window would re-sort every partition descending
          .withColumn("rn_desc",
            count(lit(1)).over(Window.partitionBy("user_id", "bucket"))
              - col("rn_asc") + 1)
          .persist()
        PipelineCache.retain(marked)
        val emit = (df: org.apache.spark.sql.DataFrame) => df.select(
          col("user_id"), col("us").as("view_us"), col("us2").as("purchase_us"),
          (col("us2") - col("us")).as("funnel_us"))
        val within = marked
          .where(col("rn_desc") >= 3 && col("event_type") === "view" &&
                 col("t1") === "click" && col("t2") === "purchase" &&
                 col("us2") - col("us") <= 86400000000L)
        // boundary stitch: leads over the <= 4-rows-per-bucket subsequence
        // are exact for rows in the last 2 of their bucket (rn_desc <= 2)
        val wB = Window.partitionBy("user_id").orderBy("us", "event_id")
        val cross = marked
          .where(col("rn_asc") <= 2 || col("rn_desc") <= 2)
          .select("user_id", "event_id", "event_type", "us", "rn_desc")
          .withColumn("t1", lead("event_type", 1).over(wB))
          .withColumn("t2", lead("event_type", 2).over(wB))
          .withColumn("us2", lead("us", 2).over(wB))
          .where(col("rn_desc") <= 2 && col("event_type") === "view" &&
                 col("t1") === "click" && col("t2") === "purchase" &&
                 col("us2") - col("us") <= 86400000000L)
        emit(within).unionByName(emit(cross))
          .orderBy("user_id", "view_us")
      },
      oracle = Some("""
        WITH f AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS us
          FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        l AS (
          SELECT *, lead(event_type, 1) OVER w AS t1,
                    lead(event_type, 2) OVER w AS t2,
                    lead(us, 2) OVER w AS us2
          FROM f WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        SELECT user_id, us AS view_us, us2 AS purchase_us,
               us2 - us AS funnel_us
        FROM l
        WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
          AND us2 - us <= 86400000000
        ORDER BY user_id, view_us"""),
      doc = "ordered-sequence pattern matching: consecutive view->click->purchase within 24h"
    ),

    // Inter-arrival dwell-time percentiles per event type — the
    // pipeline-health metric behind "is this source stalling": one
    // user-keyed lag window produces exact integer-microsecond gaps,
    // then a per-type ordered-set aggregate (exact percentiles over
    // integers — cross-engine exact, same discipline as a10). At scale
    // this is one keyed sort + one type-keyed aggregation; the
    // percentile side swaps to the GK sketch (a18's pinned contract)
    // when exact ordering stops being affordable. Both percentages come
    // off one array-valued percentile buffer (a10's shape).
    "e13_dwell_percentiles" -> Q(
      fn = (s, d) => {
        // two-level lag (see twoLevelLag): a hot user's gaps distribute
        // across (user, day) tasks instead of one serialized window
        twoLevelLag(
          Tables.events(s, d)
            .select(col("user_id"), col("event_id"), col("event_type"),
                    unix_micros(col("ts")).as("us")),
          Seq("us"))
          .withColumn("gap_us", col("us") - col("prev_us"))
          .where(col("gap_us").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_gaps"),
               expr("percentile(gap_us, array(0.5, 0.9))").as("p_us"),
               max("gap_us").as("max_us"))
          .select(col("event_type"), col("n_gaps"),
                  col("p_us")(0).as("p50_us"), col("p_us")(1).as("p90_us"), col("max_us"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH g AS (
          SELECT event_type,
                 epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS gap_us
          FROM events)
        SELECT event_type, count(*) AS n_gaps,
               quantile_cont(gap_us, 0.5) AS p50_us,
               quantile_cont(gap_us, 0.9) AS p90_us,
               CAST(max(gap_us) AS BIGINT) AS max_us
        FROM g WHERE gap_us IS NOT NULL
        GROUP BY event_type ORDER BY event_type"""),
      doc = "inter-arrival dwell percentiles per event type (pipeline-health metric)"
    )
  )
}
