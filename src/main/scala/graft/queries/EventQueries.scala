package graft.queries

import graft.Tables
import graft.ops.{Dimensions, EventOps, HeavyHitters, Joins, TextAnalysis}
import graft.pipeline.{Layout, Pipeline}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import LlmFixtures._

/** Event queries over `events`: tumbling and sliding windows,
  * sessions, funnels, retention, gap-fill, as-of and range joins, heavy
  * hitters, layout-pruned scans, JSON properties and the SCD2 history.
  */
object EventQueries {

  val declared: Seq[Declared] = Seq(
    Declared("events_tumbling", (s, dir) =>
      EventOps.tumbling(Tables.events(s, dir), "1 hour"),
      """SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
        |  time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS window_end,
        |  event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin),

    Declared("events_sliding", (s, dir) =>
      EventOps.sliding(Tables.events(s, dir), "1 hour", "30 minutes"),
      """WITH x AS (SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) AS b,
        |                  event_type, value FROM events),
        |e AS (SELECT b AS ws, event_type, value FROM x
        |      UNION ALL
        |      SELECT b - INTERVAL 30 MINUTE, event_type, value FROM x)
        |SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end,
        |       event_type, count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM e GROUP BY 1, 2, 3""".stripMargin),

    Declared("events_sessionize", (s, dir) =>
      EventOps.sessionize(Tables.events(s, dir), gapMinutes = 30),
      """WITH o AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |f AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |               OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END AS isnew
        |      FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts,
        |        CAST(sum(isnew) OVER (PARTITION BY user_id ORDER BY ts
        |                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM f)
        |SELECT user_id, session_id, min(ts) AS session_start,
        |       max(ts) AS session_end, count(*) AS n_events
        |FROM s GROUP BY 1, 2""".stripMargin),

    Declared("events_json_props", (s, dir) =>
      EventOps.jsonPropsAgg(Tables.events(s, dir)),
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events GROUP BY 1""".stripMargin),

    // trending types: top-2 event types per tumbling 6-hour window
    Declared("events_windowed_topk", (s, dir) =>
      EventOps.windowedTopK(Tables.events(s, dir), "6 hours", k = 2),
      """WITH c AS (SELECT
        |    time_bucket(INTERVAL 6 HOUR, CAST(ts AS TIMESTAMP))
        |      AS window_start,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT window_start, event_type, n,
        |       CAST(rank AS INT) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY window_start
        |        ORDER BY n DESC, event_type) AS rank FROM c)
        |WHERE rank <= 2""".stripMargin),

    // trailing-24h anomaly scores per (type, hour): volume z-score vs
    // the trailing window's mean/std (spike/outage detection)
    Declared("events_anomaly", (s, dir) =>
      EventOps.anomalyScores(Tables.events(s, dir), lookback = 24),
      """WITH c AS (SELECT
        |    time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))
        |      AS window_start,
        |    event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |zc AS (SELECT window_start, event_type, n,
        |    round(avg(n) OVER tw, 6) AS base_mean,
        |    round(stddev(n) OVER tw, 6) AS base_sd
        |  FROM c WINDOW tw AS (PARTITION BY event_type
        |    ORDER BY window_start
        |    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT window_start, event_type, n, base_mean, base_sd,
        |  CASE WHEN base_sd IS NULL OR base_sd = 0 THEN NULL
        |       ELSE round((n - base_mean) / base_sd, 6) END AS z
        |FROM zc""".stripMargin),

    // ordered funnel: per user, progress through view -> click ->
    // purchase within 24 h of the first view, each step strictly after
    // the previous match
    Declared("events_funnel", (s, dir) =>
      EventOps.funnel(Tables.events(s, dir),
        Seq("view", "click", "purchase"), horizonMinutes = 1440),
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |s1 AS (SELECT user_id, min(ts) AS ts_1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.ts_1, min(e.ts) AS ts_2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
        |         AND e.event_type = 'click' AND e.ts > s1.ts_1
        |         AND e.ts <= s1.ts_1 + INTERVAL 1440 MINUTE
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, s2.ts_1, s2.ts_2, min(e.ts) AS ts_3
        |       FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
        |         AND e.event_type = 'purchase' AND s2.ts_2 IS NOT NULL
        |         AND e.ts > s2.ts_2
        |         AND e.ts <= s2.ts_1 + INTERVAL 1440 MINUTE
        |       GROUP BY 1, 2, 3)
        |SELECT user_id,
        |  CAST(1 + CASE WHEN ts_2 IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN ts_3 IS NULL THEN 0 ELSE 1 END AS INT)
        |    AS steps_completed,
        |  ts_1 AS funnel_start,
        |  coalesce(ts_3, ts_2, ts_1) AS last_step_ts
        |FROM s3""".stripMargin),

    // conversion-latency profile: per progress level, how long users
    // took from funnel entry to their last completed step (exact
    // percentiles — the "time to convert" distribution)
    Declared("events_funnel_latency", (s, dir) => {
      val f = EventOps.funnel(Tables.events(s, dir),
        Seq("view", "click", "purchase"), horizonMinutes = 1440)
      graft.functions.GraftFunctions.register(s)
      f.withColumn("latency_s",
          (unix_micros(col("last_step_ts")) -
            unix_micros(col("funnel_start"))) / lit(1000000.0))
        .groupBy(col("steps_completed"))
        .agg(count(lit(1)).as("n_users"),
          round(call_function("percentile", col("latency_s"), lit(0.5)), 6)
            .as("median_s"),
          round(call_function("percentile", col("latency_s"), lit(0.9)), 6)
            .as("p90_s"),
          round(min(col("latency_s")), 6).as("min_s"),
          round(max(col("latency_s")), 6).as("max_s"))
    },
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |s1 AS (SELECT user_id, min(ts) AS ts_1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.ts_1, min(e.ts) AS ts_2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
        |         AND e.event_type = 'click' AND e.ts > s1.ts_1
        |         AND e.ts <= s1.ts_1 + INTERVAL 1440 MINUTE
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, s2.ts_1, s2.ts_2, min(e.ts) AS ts_3
        |       FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
        |         AND e.event_type = 'purchase' AND s2.ts_2 IS NOT NULL
        |         AND e.ts > s2.ts_2
        |         AND e.ts <= s2.ts_1 + INTERVAL 1440 MINUTE
        |       GROUP BY 1, 2, 3),
        |pu AS (SELECT
        |    CAST(1 + CASE WHEN ts_2 IS NULL THEN 0 ELSE 1 END
        |           + CASE WHEN ts_3 IS NULL THEN 0 ELSE 1 END AS INT)
        |      AS steps_completed,
        |    (epoch_us(coalesce(ts_3, ts_2, ts_1)) - epoch_us(ts_1))
        |      / 1000000.0 AS latency_s
        |  FROM s3)
        |SELECT steps_completed, count(*) AS n_users,
        |  round(quantile_cont(latency_s, 0.5), 6) AS median_s,
        |  round(quantile_cont(latency_s, 0.9), 6) AS p90_s,
        |  round(min(latency_s), 6) AS min_s,
        |  round(max(latency_s), 6) AS max_s
        |FROM pu GROUP BY 1""".stripMargin),

    // the funnel-latency percentiles' 100 TB face: GK-sketch quantiles
    // with the rank-guarantee audit per steps_completed tier (the exact
    // face above buffers each tier's latencies inside one task)
    Declared("events_funnel_latency_sketch", (s, dir) => {
      val f = EventOps.funnel(Tables.events(s, dir),
        Seq("view", "click", "purchase"), horizonMinutes = 1440)
      val lat = f.withColumn("latency_s",
        (unix_micros(col("last_step_ts")) -
          unix_micros(col("funnel_start"))) / lit(1000000.0))
      TextAnalysis.lengthStatsSketchAudit(lat, "steps_completed",
        "latency_s", accuracy = 1000)
    },
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |s1 AS (SELECT user_id, min(ts) AS ts_1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.ts_1, min(e.ts) AS ts_2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
        |         AND e.event_type = 'click' AND e.ts > s1.ts_1
        |         AND e.ts <= s1.ts_1 + INTERVAL 1440 MINUTE
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, s2.ts_1, s2.ts_2, min(e.ts) AS ts_3
        |       FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
        |         AND e.event_type = 'purchase' AND s2.ts_2 IS NOT NULL
        |         AND e.ts > s2.ts_2
        |         AND e.ts <= s2.ts_1 + INTERVAL 1440 MINUTE
        |       GROUP BY 1, 2, 3),
        |pu AS (SELECT
        |    CAST(1 + CASE WHEN ts_2 IS NULL THEN 0 ELSE 1 END
        |           + CASE WHEN ts_3 IS NULL THEN 0 ELSE 1 END AS INT)
        |      AS steps_completed
        |  FROM s3)
        |SELECT steps_completed, count(*) AS n,
        |  true AS p50_rank_ok, true AS p90_rank_ok
        |FROM pu GROUP BY 1""".stripMargin),

    // the funnel chart: per step, users reaching at least it + the
    // conversion rate vs step 1
    Declared("events_funnel_report", (s, dir) =>
      EventOps.funnelReport(
        EventOps.funnel(Tables.events(s, dir),
          Seq("view", "click", "purchase"), horizonMinutes = 1440),
        Seq("view", "click", "purchase")),
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |           FROM events),
        |s1 AS (SELECT user_id, min(ts) AS ts_1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.ts_1, min(e.ts) AS ts_2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
        |         AND e.event_type = 'click' AND e.ts > s1.ts_1
        |         AND e.ts <= s1.ts_1 + INTERVAL 1440 MINUTE
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, s2.ts_1, s2.ts_2, min(e.ts) AS ts_3
        |       FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
        |         AND e.event_type = 'purchase' AND s2.ts_2 IS NOT NULL
        |         AND e.ts > s2.ts_2
        |         AND e.ts <= s2.ts_1 + INTERVAL 1440 MINUTE
        |       GROUP BY 1, 2, 3),
        |pu AS (SELECT 1 + CASE WHEN ts_2 IS NULL THEN 0 ELSE 1 END
        |              + CASE WHEN ts_3 IS NULL THEN 0 ELSE 1 END AS sc
        |       FROM s3),
        |steps(step, step_name) AS (VALUES (1, 'view'), (2, 'click'),
        |                                  (3, 'purchase')),
        |agg AS (SELECT s.step, s.step_name,
        |          CAST(count(pu.sc) AS BIGINT) AS n_users
        |        FROM steps s LEFT JOIN pu ON pu.sc >= s.step
        |        GROUP BY 1, 2)
        |SELECT step, step_name, n_users,
        |  CASE WHEN first(n_users) OVER (ORDER BY step
        |         ROWS BETWEEN UNBOUNDED PRECEDING
        |         AND UNBOUNDED FOLLOWING) = 0 THEN NULL
        |       ELSE round(CAST(n_users AS DOUBLE) /
        |         first(n_users) OVER (ORDER BY step
        |           ROWS BETWEEN UNBOUNDED PRECEDING
        |           AND UNBOUNDED FOLLOWING), 6)
        |  END AS conversion
        |FROM agg""".stripMargin),

    // the 100 TB layout mechanic end-to-end: events physically written
    // PARTITIONED BY epoch-day (atomic swap), then one day read back
    // through partition PRUNING — the scan touches exactly one
    // directory regardless of table size (PlanSpec pins the
    // PartitionFilters). Oracle recomputes the day slice from the raw
    // table.
    Declared("events_partitioned_prune", (s, dir) => {
      val out = ParityQueries.scratch("events_by_day")
      val ev = Tables.events(s, dir).withColumn("day",
        floor(unix_timestamp(col("ts")) / 86400).cast("int"))
      Pipeline.atomicOverwrite(s, ev, out, partitionBy = Seq("day"))
      s.read.parquet(out)
        .filter(col("day") === 19724) // 2024-01-02
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6)
          .as("sum_value"))
    },
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 6) AS sum_value
        |FROM events
        |WHERE CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
        |      AS INT) = 19724
        |GROUP BY 1""".stripMargin),

    // Z-ORDER physical layout roundtrip: events z-clustered on
    // (user_id, value-bucket) through the atomic swap, read back, and
    // range-filtered on BOTH dimensions. Layout never changes results —
    // the oracle is the same predicate over the unsorted table; the
    // per-file bounding-box shrink is LayoutSpec's business
    Declared("events_zorder_scan", (s, dir) => {
      val out = ParityQueries.scratch("events_zorder")
      val ev = Tables.events(s, dir)
        .withColumn("vb", floor(col("value")).cast("int"))
      Layout.zorderWrite(s, ev, out, "user_id", "vb",
        bits = 10, numFiles = 8)
      s.read.parquet(out)
        .filter(col("user_id").between(10, 25) &&
          col("value") >= 4.0 && col("value") < 9.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 6).as("sum_value"))
    },
      // physical layout is invisible to semantics: the z-ordered roundtrip
      // must return exactly what the raw table returns
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 6) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 10 AND 25
        |  AND value >= 4.0 AND value < 9.0
        |GROUP BY 1""".stripMargin),

    // BUCKETED co-located join: fact and dimension written bucketBy(8)
    // on the join key — the join consumes the bucket layout and runs
    // with ZERO exchanges (PlanSpec-pinned). At 100 TB this is the
    // difference between re-shuffling the fact table on every join and
    // paying the layout once at write time. Results are layout-blind:
    // the oracle derives the same dimension and joins in SQL
    Declared("events_bucketed_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = ev.groupBy(col("user_id"))
        .agg(round(sum(col("value")), 6).as("user_total"))
      def writeBucketed(df: DataFrame, table: String): Unit =
        df.write.mode("overwrite")
          .bucketBy(8, "user_id").sortBy("user_id")
          .option("path", ParityQueries.scratch(s"bucketed_$table"))
          .format("parquet").saveAsTable(table)
      writeBucketed(ev.select(col("user_id"), col("event_type"),
        col("value")), "graft_ev_bkt")
      writeBucketed(dim, "graft_dim_bkt")
      // merge hint: at fixture scale AQE would broadcast the dimension
      // (also exchange-free, but it bypasses the layout under test); at
      // 100 TB the dimension does NOT broadcast and THIS is the plan —
      // a sort-merge join consuming both bucket layouts with no shuffle
      s.table("graft_ev_bkt")
        .join(s.table("graft_dim_bkt").hint("merge"), "user_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("user_total")), 6).as("sum_user_total"))
    },
      // bucket layout is invisible to semantics: same dimension derivation
      // and join, restated in SQL
      """WITH dim AS (SELECT user_id, round(sum(value), 6) AS user_total
        |            FROM events GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        |  round(sum(d.user_total), 6) AS sum_user_total
        |FROM events e JOIN dim d USING (user_id)
        |GROUP BY 1""".stripMargin),

    // manifest-planned scan over the z-layout: file-level min/max
    // manifest written at layout time, scan planned against it (files
    // whose box misses the query box are never opened), residual
    // predicate re-applied — result is EXACTLY the full-table filter
    Declared("events_skipping_scan", (s, dir) => {
      val out = ParityQueries.scratch("events_skipidx")
      val ev = Tables.events(s, dir)
        .withColumn("vb", floor(col("value")).cast("int"))
      Layout.zorderWriteIndexed(s, ev, out, "user_id", "vb",
        bits = 10, numFiles = 8)
      Layout.skippingScan(s, out, "user_id", "vb", 30, 60, 10, 15)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 6).as("sum_value"))
    },
      // manifest pruning is invisible to semantics: pruned files provably
      // hold no matching rows, so the result equals the full-table filter
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 6) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 30 AND 60
        |  AND CAST(floor(value) AS INT) BETWEEN 10 AND 15
        |GROUP BY 1""".stripMargin),

    // multi-granularity reporting in ONE pass: (type, day) / (type) /
    // grand-total via ROLLUP — Spark's Expand produces all three
    // granularities off a single scan instead of three jobs; subtotal
    // rows carry sentinels so every output column stays non-null for
    // the hash compare
    Declared("events_rollup", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("day",
        floor(unix_timestamp(col("ts")) / 86400).cast("int"))
      ev.rollup(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 6).as("sum_value"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("day"), lit(-1)).as("day"),
          col("n"), col("sum_value"))
    },
      """WITH e AS (SELECT event_type,
        |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS INT)
        |      AS day, value
        |  FROM events)
        |SELECT coalesce(event_type, 'ALL') AS event_type,
        |  coalesce(day, -1) AS day,
        |  count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM e GROUP BY ROLLUP(event_type, day)""".stripMargin),

    // CUBE completes the grouping-set family (grouping sets / rollup /
    // cube): all FOUR granularities — (type, day), (type), (day), total
    // — off one Expand pass; the per-day-across-types slice is the one
    // ROLLUP cannot produce
    Declared("events_cube", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("day",
        floor(unix_timestamp(col("ts")) / 86400).cast("int"))
      ev.cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 6).as("sum_value"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("day"), lit(-1)).as("day"),
          col("n"), col("sum_value"))
    },
      """WITH e AS (SELECT event_type,
        |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS INT)
        |      AS day, value
        |  FROM events)
        |SELECT coalesce(event_type, 'ALL') AS event_type,
        |  coalesce(day, -1) AS day,
        |  count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM e GROUP BY CUBE(event_type, day)""".stripMargin),

    // SCD2 dimension history end-to-end: bootstrap from the customer
    // dimension, apply two change batches (the second with an in-batch
    // flicker that latest-wins must collapse), then audit the history
    // and time-travel to two instants — all four faces in one labeled
    // union the oracle replays row-for-row
    Declared("scd2_customer_segments", (s, dir) => {
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val h0 = Dimensions.scd2Init(cust, lit(0L))
      val ch1 = cust.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_mktsegment", lit("MOVED"))
        .withColumn("ts", lit(1000L))
      val h1 = Dimensions.scd2Apply(h0, ch1, Seq("c_custkey"), "ts")
      val ch2 = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_mktsegment", lit("MOVEDX"))
        .withColumn("ts", lit(1800L))
        .unionByName(cust.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_mktsegment", lit("MOVED2"))
          .withColumn("ts", lit(2000L)))
      val h2 = Dimensions.scd2Apply(h1, ch2, Seq("c_custkey"), "ts")
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER) // four faces read it; build once
      def face(name: String, df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"))
          .select(lit(name).as("face"), col("c_mktsegment"), col("n"))
      face("rows", h2)
        .unionByName(face("open", h2.filter(col("valid_to").isNull)))
        .unionByName(face("snap1500", Dimensions.snapshotAt(h2, lit(1500L))))
        .unionByName(face("snap2500", Dimensions.snapshotAt(h2, lit(2500L))))
    },
      """WITH cust AS (SELECT c_custkey, c_mktsegment FROM customer),
        |h1 AS (
        |  SELECT c_custkey, c_mktsegment, CAST(0 AS BIGINT) AS valid_from,
        |    CASE WHEN c_custkey % 5 = 0 THEN CAST(1000 AS BIGINT)
        |         ELSE NULL END AS valid_to
        |  FROM cust
        |  UNION ALL
        |  SELECT c_custkey, 'MOVED', 1000, NULL FROM cust
        |  WHERE c_custkey % 5 = 0),
        |h2 AS (
        |  SELECT c_custkey, c_mktsegment, valid_from,
        |    CASE WHEN valid_to IS NULL AND c_custkey % 10 = 0
        |         THEN CAST(2000 AS BIGINT) ELSE valid_to END AS valid_to
        |  FROM h1
        |  UNION ALL
        |  SELECT c_custkey, 'MOVED2', 2000, NULL FROM cust
        |  WHERE c_custkey % 10 = 0)
        |SELECT 'rows' AS face, c_mktsegment, count(*) AS n
        |FROM h2 GROUP BY 2
        |UNION ALL
        |SELECT 'open', c_mktsegment, count(*) FROM h2
        |WHERE valid_to IS NULL GROUP BY 2
        |UNION ALL
        |SELECT 'snap1500', c_mktsegment, count(*) FROM h2
        |WHERE valid_from <= 1500 AND (valid_to IS NULL OR valid_to > 1500)
        |GROUP BY 2
        |UNION ALL
        |SELECT 'snap2500', c_mktsegment, count(*) FROM h2
        |WHERE valid_from <= 2500 AND (valid_to IS NULL OR valid_to > 2500)
        |GROUP BY 2""".stripMargin),

    // fact-to-SCD2 temporal join: every event enriched with the segment
    // its user's dimension row carried AT THE EVENT'S TIME (two change
    // batches land mid-stream), then rolled up per segment — the
    // canonical versioned-dimension warehouse query, planned as the
    // value-carrying as-of (no range predicate near a join operator)
    Declared("events_scd2_temporal_join", (s, dir) => {
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      val t1 = 1704500000L; val t2 = 1705000000L
      val h1 = Dimensions.scd2Apply(Dimensions.scd2Init(cust, lit(0L)),
        cust.filter(col("c_custkey") % 5 === 0)
          .withColumn("c_mktsegment", lit("MOVED"))
          .withColumn("ts", lit(t1)), Seq("c_custkey"), "ts")
      val h2 = Dimensions.scd2Apply(h1,
        cust.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_mktsegment", lit("MOVED2"))
          .withColumn("ts", lit(t2)), Seq("c_custkey"), "ts")
      val facts = Tables.events(s, dir).select(
        col("event_id"), col("user_id").as("c_custkey"),
        unix_timestamp(col("ts")).as("tsec"))
      Dimensions.temporalJoin(facts, h2, "c_custkey", "tsec",
          Seq("c_mktsegment"))
        .groupBy(coalesce(col("dim_c_mktsegment"), lit("NONE"))
          .as("segment"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("c_custkey")).as("n_users"))
    },
      """WITH cust AS (SELECT c_custkey, c_mktsegment FROM customer),
        |h1 AS (
        |  SELECT c_custkey, c_mktsegment, CAST(0 AS BIGINT) AS valid_from,
        |    CASE WHEN c_custkey % 5 = 0 THEN CAST(1704500000 AS BIGINT)
        |         ELSE NULL END AS valid_to
        |  FROM cust
        |  UNION ALL
        |  SELECT c_custkey, 'MOVED', 1704500000, NULL FROM cust
        |  WHERE c_custkey % 5 = 0),
        |h2 AS (
        |  SELECT c_custkey, c_mktsegment, valid_from,
        |    CASE WHEN valid_to IS NULL AND c_custkey % 10 = 0
        |         THEN CAST(1705000000 AS BIGINT) ELSE valid_to END
        |      AS valid_to
        |  FROM h1
        |  UNION ALL
        |  SELECT c_custkey, 'MOVED2', 1705000000, NULL FROM cust
        |  WHERE c_custkey % 10 = 0),
        |f AS (SELECT event_id, user_id AS c_custkey,
        |        CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tsec
        |      FROM events),
        |j AS (SELECT f.event_id, f.c_custkey, f.tsec,
        |        CASE WHEN h2.valid_to IS NOT NULL AND h2.valid_to <= f.tsec
        |             THEN NULL ELSE h2.c_mktsegment END AS seg
        |      FROM f ASOF LEFT JOIN h2
        |        ON f.c_custkey = h2.c_custkey AND f.tsec >= h2.valid_from)
        |SELECT coalesce(seg, 'NONE') AS segment, count(*) AS n_events,
        |  count(DISTINCT c_custkey) AS n_users
        |FROM j GROUP BY 1""".stripMargin),

    // partition-scoped MERGE INTO end-to-end: base events written
    // day-partitioned, one day's rows upserted by key (values flipped
    // to a sentinel), table read back and summarized — only the touched
    // day's directory was rewritten (PipelineSpec pins the physical
    // untouched-partitions contract; this query gates the semantics)
    Declared("events_upsert_roundtrip", (s, dir) => {
      val out = ParityQueries.scratch("events_upsert_rt")
      val ev = Tables.events(s, dir).withColumn("day",
          floor(unix_timestamp(col("ts")) / 86400).cast("int"))
        .select(col("event_id"), col("day"), col("value"))
      Pipeline.atomicOverwrite(s, ev, out, partitionBy = Seq("day"))
      val updates = ev.filter(col("day") === 19724 &&
          col("event_id") % 7 === 0)
        .withColumn("value", lit(-1.0))
      Pipeline.upsertPartitioned(s, out, updates,
        keyCols = Seq("event_id"), partitionCol = "day")
      s.read.parquet(out)
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 6).as("sum_value"),
          sum(when(col("value") === -1.0, 1L).otherwise(0L))
            .as("n_updated"))
    },
      """WITH e AS (SELECT event_id,
        |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS INT)
        |      AS day, value
        |  FROM events),
        |m AS (SELECT event_id, day, value FROM e
        |      WHERE NOT (day = 19724 AND event_id % 7 = 0)
        |      UNION ALL
        |      SELECT event_id, day, -1.0 AS value FROM e
        |      WHERE day = 19724 AND event_id % 7 = 0)
        |SELECT day, count(*) AS n, round(sum(value), 6) AS sum_value,
        |  CAST(sum(CASE WHEN value = -1.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_updated
        |FROM m GROUP BY 1""".stripMargin),

    // daily active users + events with the trailing-week smoothed
    // series — the top-line engagement chart
    Declared("events_dau_rolling", (s, dir) =>
      EventOps.dailyActive(Tables.events(s, dir)),
      """WITH d AS (SELECT
        |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS INT)
        |      AS day, user_id
        |  FROM events),
        |a AS (SELECT day, count(DISTINCT user_id) AS n_active,
        |        count(*) AS n_events
        |      FROM d GROUP BY 1)
        |SELECT day, n_active, n_events,
        |  round(avg(n_active) OVER (ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
        |    AS trailing_avg_active
        |FROM a""".stripMargin),

    // dense (day x type) grid with zero-filled gaps — the resample step
    // before any positional time-series arithmetic
    Declared("events_gapfill", (s, dir) =>
      EventOps.gapFillDaily(Tables.events(s, dir)),
      """WITH b AS (SELECT
        |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS INT)
        |      AS day, event_type, value
        |  FROM events),
        |a AS (SELECT day, event_type, count(*) AS n_events,
        |        round(sum(value), 6) AS total_value
        |      FROM b GROUP BY 1, 2),
        |bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM b),
        |d AS (SELECT CAST(unnest(generate_series(lo, hi)) AS INT) AS day
        |     FROM bounds),
        |t AS (SELECT DISTINCT event_type FROM b)
        |SELECT d.day, t.event_type,
        |  coalesce(a.n_events, 0) AS n_events,
        |  coalesce(a.total_value, 0.0) AS total_value
        |FROM d CROSS JOIN t
        |LEFT JOIN a ON a.day = d.day AND a.event_type = t.event_type""".stripMargin),

    // EWMA of the daily count per type over the zero-filled grid; the
    // oracle replays the same recursion as a recursive CTE
    Declared("events_ewma", (s, dir) =>
      EventOps.ewmaDaily(Tables.events(s, dir), alpha = 0.3),
      """WITH RECURSIVE b AS (SELECT
        |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400) AS INT)
        |      AS day, event_type
        |  FROM events),
        |a AS (SELECT day, event_type, count(*) AS n FROM b GROUP BY 1, 2),
        |bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM b),
        |d AS (SELECT CAST(unnest(generate_series(lo, hi)) AS INT) AS day
        |     FROM bounds),
        |t AS (SELECT DISTINCT event_type FROM b),
        |g AS (SELECT d.day, t.event_type, coalesce(a.n, 0) AS n,
        |        row_number() OVER (PARTITION BY t.event_type
        |                           ORDER BY d.day) AS rn
        |      FROM d CROSS JOIN t
        |      LEFT JOIN a ON a.day = d.day AND a.event_type = t.event_type),
        |s AS (SELECT day, event_type, rn, CAST(n AS DOUBLE) AS ewma
        |      FROM g WHERE rn = 1
        |      UNION ALL
        |      SELECT g.day, g.event_type, g.rn,
        |        0.3 * g.n + (1 - 0.3) * s.ewma
        |      FROM g JOIN s ON g.event_type = s.event_type
        |                   AND g.rn = s.rn + 1)
        |SELECT event_type, day, round(ewma, 6) AS ewma FROM s""".stripMargin),

    // cohort retention triangle: users cohorted by the week of their
    // first signup, counted as active per weekly offset after it
    Declared("events_retention", (s, dir) =>
      EventOps.retention(Tables.events(s, dir), "signup"),
      """WITH f AS (SELECT user_id,
        |    CAST(min(floor(epoch(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS t0
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id,
        |    CAST(floor(f.t0 / 604800) AS INT) AS cohort_week,
        |    CAST(floor((CAST(floor(epoch(CAST(e.ts AS TIMESTAMP)))
        |                     AS BIGINT) - f.t0) / 604800)
        |         AS INT) AS week_offset
        |  FROM events e JOIN f ON e.user_id = f.user_id
        |  WHERE CAST(floor(epoch(CAST(e.ts AS TIMESTAMP))) AS BIGINT)
        |        >= f.t0),
        |c AS (SELECT cohort_week, week_offset, count(*) AS n_active
        |      FROM a GROUP BY 1, 2),
        |s AS (SELECT CAST(floor(t0 / 604800) AS INT) AS cohort_week,
        |             count(*) AS cohort_size
        |      FROM f GROUP BY 1)
        |SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
        |  round(CAST(c.n_active AS DOUBLE) / s.cohort_size, 6)
        |    AS retention_rate
        |FROM c JOIN s ON c.cohort_week = s.cohort_week""".stripMargin),

    // per-user lifetime summary: first/last activity, volume, distinct
    // active days
    Declared("events_user_lifetime", (s, dir) =>
      EventOps.userLifetime(Tables.events(s, dir)),
      """SELECT user_id,
        |  min(CAST(ts AS TIMESTAMP)) AS first_ts,
        |  max(CAST(ts AS TIMESTAMP)) AS last_ts,
        |  count(*) AS n_events,
        |  count(DISTINCT CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP)))
        |        / 86400) AS INT)) AS n_active_days
        |FROM events GROUP BY 1""".stripMargin),

    // the GUARDED composition end-to-end: flood-capped stream (the same
    // hot remap + hash-thinning as events_user_cap) -> sessionization.
    // The oracle replays the identical thinning rule then sessionizes
    // the kept events — proving the cap composes with downstream
    // per-user analytics, not just that it counts correctly
    Declared("events_sessionize_capped", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("user_id",
        when(col("user_id") % 10 < 2, lit(7L)).otherwise(col("user_id")))
      EventOps.sessionize(
        EventOps.capUserEvents(ev.select("user_id", "event_type", "ts"),
          maxPerUser = 50), gapMinutes = 30)
    },
      {
        val thinHex = hexToLongSql(
          "md5(CAST(user_id AS VARCHAR) || '|' || " +
            "CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) || '|' || " +
            "event_type)", 1, 8)
        s"""WITH e AS (SELECT
           |    CASE WHEN user_id % 10 < 2 THEN 7 ELSE user_id END AS user_id,
           |    event_type, CAST(ts AS TIMESTAMP) AS ts
           |  FROM events),
           |n AS (SELECT user_id, count(*) AS n_events FROM e
           |      GROUP BY 1 HAVING count(*) > 50),
           |kept AS (SELECT e.user_id, e.ts FROM e LEFT JOIN n USING (user_id)
           |      WHERE n.user_id IS NULL
           |         OR (CAST($thinHex AS BIGINT) % 10000) <
           |            CAST(ceil(50 * 10000.0 / n.n_events) AS BIGINT)),
           |f AS (SELECT user_id, ts,
           |        CASE WHEN lag(ts) OVER w IS NULL
           |               OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
           |             THEN 1 ELSE 0 END AS isnew
           |      FROM kept WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           |s AS (SELECT user_id, ts,
           |        CAST(sum(isnew) OVER (PARTITION BY user_id ORDER BY ts
           |                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
           |          AS session_id
           |      FROM f)
           |SELECT user_id, session_id, min(ts) AS session_start,
           |       max(ts) AS session_end, count(*) AS n_events
           |FROM s GROUP BY 1, 2""".stripMargin
      }),

    // the bot-flood guard's audit: ~20% of the event stream remapped
    // onto ONE hot user, then every over-cap user deterministically
    // hash-thinned toward 50 events with no per-user sort anywhere —
    // one row per capped user with original and kept counts
    Declared("events_user_cap", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("user_id",
        when(col("user_id") % 10 < 2, lit(7L)).otherwise(col("user_id")))
      EventOps.capUserEventsAudit(ev, maxPerUser = 50)
    },
      {
        val thinHex = hexToLongSql(
          "md5(CAST(user_id AS VARCHAR) || '|' || " +
            "CAST(CAST(floor(epoch(ts)) AS BIGINT) AS VARCHAR) || '|' || " +
            "event_type)", 1, 8)
        s"""WITH e AS (SELECT
           |    CASE WHEN user_id % 10 < 2 THEN 7 ELSE user_id END AS user_id,
           |    event_type, CAST(ts AS TIMESTAMP) AS ts
           |  FROM events),
           |n AS (SELECT user_id, count(*) AS n_events FROM e
           |      GROUP BY 1 HAVING count(*) > 50),
           |k AS (SELECT e.user_id, count(*) AS n_kept
           |      FROM e JOIN n USING (user_id)
           |      WHERE (CAST($thinHex AS BIGINT) % 10000) <
           |        CAST(ceil(50 * 10000.0 / n_events) AS BIGINT)
           |      GROUP BY 1)
           |SELECT n.user_id, n.n_events,
           |  coalesce(k.n_kept, 0) AS n_kept
           |FROM n LEFT JOIN k USING (user_id)""".stripMargin
      }),

    // Bounded-state heavy hitters (Misra-Gries, k counters/partition +
    // one candidate-sized merge) — the sketch face of value_counts at
    // 100 TB, where the exact group-by shuffles the whole keyspace.
    // Audit contract: every key with true count > N/(k+1) is present
    // with 0 <= exact - est <= N/(k+1); the oracle predicts all-true.
    Declared("events_type_heavy_hitters", (s, dir) =>
      HeavyHitters.audit(Tables.events(s, dir), "event_type", k = 8),
      // MG guarantee is a theorem: the oracle states the exact heavy set
      // (count > N/(k+1)) with both audit flags true in closed form
      """WITH e AS (SELECT CAST(event_type AS VARCHAR) AS key FROM events),
        |x AS (SELECT key, count(*) AS exact_cnt FROM e GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM e)
        |SELECT key, exact_cnt, true AS present_in_sketch,
        |  true AS est_within_bound
        |FROM x, n WHERE exact_cnt * 9 > n""".stripMargin),

    // the decrement-heavy face: ~500 cold composite keys drown one
    // planted flooded key (~25% of rows) — the sketch must keep the
    // flooder through sustained counter evictions. The plant mirrors
    // the hot-user ladder's scenario at the sketch layer.
    Declared("events_key_heavy_hitters_flood", (s, dir) => {
      val ev = Tables.events(s, dir)
      val cold = ev.select(concat_ws("_", col("event_type"),
        col("user_id") % 97).as("k"))
      val hot = ev.filter(col("user_id") % 3 === 0)
        .select(lit("flooded").as("k"))
      HeavyHitters.audit(cold.unionByName(hot), "k", k = 16)
    },
      """WITH u AS (
        |  SELECT event_type || '_' || CAST(user_id % 97 AS VARCHAR) AS key
        |  FROM events
        |  UNION ALL
        |  SELECT 'flooded' AS key FROM events WHERE user_id % 3 = 0),
        |x AS (SELECT key, count(*) AS exact_cnt FROM u GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM u)
        |SELECT key, exact_cnt, true AS present_in_sketch,
        |  true AS est_within_bound
        |FROM x, n WHERE exact_cnt * 17 > n""".stripMargin),

    // As-of join (operator Spark lacks; composed via union-and-carry, one
    // shuffle + one sort — validated against DuckDB's NATIVE ASOF JOIN):
    // each purchase matched to the user's most recent prior click.
    Declared("events_asof_join", (s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click").select("user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      Joins.asofBackward(purchases, clicks, "user_id", "ts", "prior_click_ts")
        // no-match sentinel instead of NULL: NaT != NaT under the hash
        // compare, so a nullable timestamp column can never hash-match
        .withColumn("prior_click_ts", coalesce(col("prior_click_ts"),
          lit("1970-01-01 00:00:00").cast("timestamp")))
    },
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts,
        |       coalesce(c.ts, TIMESTAMP '1970-01-01 00:00:00') AS prior_click_ts
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin),

    // value-carrying as-of (the full merge_asof/kdb-aj contract): each
    // purchase gets the prior click's id AND value, not just its time;
    // no-match sentinels keep every output column non-null (the repo's
    // NaT/NaN hash-compare rule)
    Declared("events_asof_join_value", (s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      Joins.asofBackwardValues(purchases, clicks, "user_id", "ts",
          Seq("event_id", "value"), prefix = "prior_")
        .withColumn("prior_ts", coalesce(col("prior_ts"),
          lit("1970-01-01 00:00:00").cast("timestamp")))
        .withColumn("prior_event_id",
          coalesce(col("prior_event_id"), lit(-1L)))
        .withColumn("prior_value", coalesce(col("prior_value"), lit(-1.0)))
    },
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |             event_id, value FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts,
        |  coalesce(c.ts, TIMESTAMP '1970-01-01 00:00:00') AS prior_ts,
        |  coalesce(c.event_id, -1) AS prior_event_id,
        |  coalesce(c.value, -1.0) AS prior_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin),

    // tolerance-bounded as-of: the prior click only counts if it is at
    // most 60 minutes stale (merge_asof(tolerance) semantics)
    Declared("events_asof_join_tol", (s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click").select("user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      Joins.asofBackwardTolerance(purchases, clicks, "user_id", "ts",
          "prior_click_ts", toleranceMinutes = 60)
        .withColumn("prior_click_ts", coalesce(col("prior_click_ts"),
          lit("1970-01-01 00:00:00").cast("timestamp")))
    },
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts,
        |  CASE WHEN c.ts IS NOT NULL
        |         AND c.ts >= p.ts - INTERVAL 60 MINUTE THEN c.ts
        |       ELSE TIMESTAMP '1970-01-01 00:00:00'
        |  END AS prior_click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin),

    // nearest as-of: each purchase matched to the user's CLOSEST click
    // in either direction (ties backward — the pandas nearest rule)
    Declared("events_asof_nearest", (s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click").select("user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      Joins.asofNearest(purchases, clicks, "user_id", "ts",
          "nearest_click_ts")
        .withColumn("nearest_click_ts", coalesce(col("nearest_click_ts"),
          lit("1970-01-01 00:00:00").cast("timestamp")))
    },
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type = 'purchase'),
        |b AS (SELECT p.event_id, p.user_id, p.ts, c.ts AS back_ts
        |      FROM p ASOF LEFT JOIN c
        |        ON p.user_id = c.user_id AND p.ts >= c.ts),
        |f AS (SELECT p.event_id, c.ts AS fwd_ts
        |      FROM p ASOF LEFT JOIN c
        |        ON p.user_id = c.user_id AND p.ts <= c.ts)
        |SELECT b.event_id, b.user_id, b.ts,
        |  coalesce(CASE
        |      WHEN back_ts IS NULL THEN fwd_ts
        |      WHEN fwd_ts IS NULL THEN back_ts
        |      WHEN epoch_us(fwd_ts) - epoch_us(b.ts)
        |           < epoch_us(b.ts) - epoch_us(back_ts) THEN fwd_ts
        |      ELSE back_ts END,
        |    TIMESTAMP '1970-01-01 00:00:00') AS nearest_click_ts
        |FROM b JOIN f ON b.event_id = f.event_id""".stripMargin),

    // forward as-of: each purchase matched to the user's NEXT click at
    // or after it — the time-to-next-event mirror of events_asof_join
    Declared("events_asof_next", (s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click").select("user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      Joins.asofForward(purchases, clicks, "user_id", "ts", "next_click_ts")
        // no-match sentinel instead of NULL (NaT hash-compare contract,
        // same as events_asof_join)
        .withColumn("next_click_ts", coalesce(col("next_click_ts"),
          lit("9999-12-31 00:00:00").cast("timestamp")))
    },
      // forward as-of via LEFT-JOIN + min (decorrelated by DuckDB; the
      // engine's native ASOF is backward-shaped, so the oracle states the
      // definition directly)
      """WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts,
        |       coalesce(min(c.ts), TIMESTAMP '9999-12-31 00:00:00')
        |         AS next_click_ts
        |FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts >= p.ts
        |GROUP BY 1, 2, 3""".stripMargin),

    // Range join via bucketization (equi-join on a time-bucket grid, then
    // the exact range filter — never a nested loop): clicks within 5
    // minutes after each error event, counted per error.
    Declared("events_range_join", (s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click").select("ts")
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 5 MINUTES")).as("w_end"))
      Joins.rangeJoin(clicks, "ts", errors, "w_start", "w_end", 300000L)
        .groupBy("err_id").agg(count(lit(1)).as("n_clicks"))
    },
      """WITH c AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events
        |           WHERE event_type = 'click'),
        |er AS (SELECT event_id AS err_id, CAST(ts AS TIMESTAMP) AS s,
        |              CAST(ts AS TIMESTAMP) + INTERVAL 5 MINUTE AS e
        |       FROM events WHERE event_type = 'error')
        |SELECT err_id, count(*) AS n_clicks
        |FROM er JOIN c ON c.ts >= er.s AND c.ts < er.e
        |GROUP BY 1""".stripMargin),

    // the OUTER counting face: every error with its in-window click
    // count INCLUDING zero — the "errors with no clicks" audit an inner
    // range join silently drops
    Declared("events_range_count_all", (s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click").select("ts")
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 5 MINUTES")).as("w_end"))
      Joins.rangeCount(clicks, "ts", errors, "err_id", "w_start", "w_end",
          300000L)
        .select(col("err_id"), col("n_hits").as("n_clicks"))
    },
      // outer counting face: LEFT JOIN + count of non-null hits, so
      // zero-click errors keep their row with n_clicks = 0
      """WITH c AS (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events
        |           WHERE event_type = 'click'),
        |er AS (SELECT event_id AS err_id, CAST(ts AS TIMESTAMP) AS s,
        |              CAST(ts AS TIMESTAMP) + INTERVAL 5 MINUTE AS e
        |       FROM events WHERE event_type = 'error')
        |SELECT err_id, count(c.ts) AS n_clicks
        |FROM er LEFT JOIN c ON c.ts >= er.s AND c.ts < er.e
        |GROUP BY 1""".stripMargin)
  )
}
