package graft.queries

import graft.Tables
import graft.ops.{CountMin, DataProfile, EventOps, Graph}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import LlmFixtures.hexToLongSql

/** Statistical-analysis and attribution queries — the "data science on
  * the warehouse" surface: one-pass correlation/regression moments,
  * distribution histograms (equi-width and a sort-free equi-depth CDF),
  * marketing attribution over the events stream, contingency and A/B
  * tests, robust statistics (winsorized mean, IQR outliers, Benford),
  * and k-anonymity / l-diversity / t-closeness privacy checks.
  *
  * Determinism across engines follows the repo convention: every
  * accumulation that feeds a float result is an EXACT decimal sum, and
  * the closed-form float arithmetic afterwards is the same fixed
  * sequence of IEEE ops in both engines (see [[DataProfile.corrMatrix]]).
  */
object StatsQueries {

  private val Touches = Seq("click", "view")
  private val Lookback = 72 // hours


  /** The CMS cell set per (hash row, key) — shared by both sketch
    * oracles. `rel` must expose a `user_id` column.
    */
  private def cmsCells(rel: String): String =
    s"""SELECT i, user_id,
       |  ${hexToLongSql("md5(concat_ws('|', CAST(i AS VARCHAR), " +
                 "CAST(user_id AS VARCHAR)))", 1, 8)} % 2048 AS bucket
       |FROM $rel CROSS JOIN range(5) t(i)""".stripMargin

  /** The unrolled PageRank recurrence (the same 1e-12-gridded decimal
    * accumulation as [[Graph.pagerank]]) over the customer-supplier
    * trade graph.
    */
  private def pagerankSql(iterations: Int): String = {
    val steps = (1 to iterations).map { k =>
      s"""pr$k AS (SELECT d.src AS node,
         |  round(0.15 + 0.85 * CAST(coalesce(c.s,
         |    CAST(0 AS DECIMAL(38,12))) AS DOUBLE), 12) AS rank
         |  FROM deg d LEFT JOIN (
         |    SELECT e.dst AS dst,
         |      sum(CAST(round(p.rank / dd.deg, 12) AS DECIMAL(28,12))) AS s
         |    FROM pr${k - 1} p
         |    JOIN edges e ON e.src = p.node
         |    JOIN deg dd ON dd.src = p.node
         |    GROUP BY 1) c ON c.dst = d.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT 'c' || CAST(ck AS VARCHAR) AS src,
       |         's' || CAST(sk AS VARCHAR) AS dst FROM pairs
       |  UNION ALL
       |  SELECT 's' || CAST(sk AS VARCHAR) AS src,
       |         'c' || CAST(ck AS VARCHAR) AS dst FROM pairs),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
       |pr0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS rank FROM deg),
       |$steps
       |SELECT node, round(rank, 6) AS rank FROM pr$iterations""".stripMargin
  }


  val declared: Seq[Declared] = Seq(
    // first/last-touch attribution per conversion: one user-keyed range
    // window, never a conversion x touch pair join
    Declared("events_attribution", (s, dir) =>
      EventOps.attribution(Tables.events(s, dir), "purchase",
        Touches, Lookback),
      s"""WITH base AS (SELECT event_id, user_id, event_type,
         |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tsec
         |  FROM events),
         |conv AS (SELECT event_id, user_id, tsec FROM base
         |         WHERE event_type = 'purchase'),
         |touch AS (SELECT user_id, event_type, tsec FROM base
         |          WHERE event_type IN ('click', 'view')),
         |pairs AS (
         |  SELECT c.event_id, t.event_type AS tt, t.tsec AS tts
         |  FROM conv c JOIN touch t ON t.user_id = c.user_id
         |    AND t.tsec <= c.tsec AND t.tsec >= c.tsec - ${Lookback * 3600}),
         |ranked AS (
         |  SELECT event_id, tt, tts,
         |    row_number() OVER (PARTITION BY event_id
         |                       ORDER BY tts, tt) AS rf,
         |    row_number() OVER (PARTITION BY event_id
         |                       ORDER BY tts DESC, tt DESC) AS rl,
         |    count(*) OVER (PARTITION BY event_id) AS nt
         |  FROM pairs)
         |SELECT c.event_id AS conv_event_id, c.user_id,
         |  c.tsec AS conv_tsec,
         |  f.tt AS first_touch, f.tts AS first_touch_tsec,
         |  l.tt AS last_touch, l.tts AS last_touch_tsec,
         |  coalesce(f.nt, 0) AS n_touches
         |FROM conv c
         |LEFT JOIN ranked f ON f.event_id = c.event_id AND f.rf = 1
         |LEFT JOIN ranked l ON l.event_id = c.event_id AND l.rl = 1""".stripMargin),

    // linear (fractional) credit rolled up per channel
    Declared("events_attribution_credit", (s, dir) =>
      EventOps.attributionCredit(Tables.events(s, dir), "purchase",
        Touches, Lookback),
      s"""WITH base AS (SELECT event_id, user_id, event_type,
         |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tsec
         |  FROM events),
         |conv AS (SELECT event_id, user_id, tsec FROM base
         |         WHERE event_type = 'purchase'),
         |touch AS (SELECT user_id, event_type, tsec FROM base
         |          WHERE event_type IN ('click', 'view')),
         |pc AS (
         |  SELECT c.event_id,
         |    CAST(sum(CASE WHEN t.event_type = 'click' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_click,
         |    CAST(sum(CASE WHEN t.event_type = 'view' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_view
         |  FROM conv c LEFT JOIN touch t ON t.user_id = c.user_id
         |    AND t.tsec <= c.tsec AND t.tsec >= c.tsec - ${Lookback * 3600}
         |  GROUP BY 1)
         |SELECT 'click' AS channel,
         |  round(CAST(sum(CAST(CASE WHEN n_click + n_view > 0
         |    THEN round(CAST(n_click AS DOUBLE) / (n_click + n_view), 12)
         |    ELSE 0.0 END AS DECIMAL(28,12))) AS DOUBLE), 6) AS credit,
         |  CAST(sum(CASE WHEN n_click > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_convs_touched
         |FROM pc
         |UNION ALL
         |SELECT 'view' AS channel,
         |  round(CAST(sum(CAST(CASE WHEN n_click + n_view > 0
         |    THEN round(CAST(n_view AS DOUBLE) / (n_click + n_view), 12)
         |    ELSE 0.0 END AS DECIMAL(28,12))) AS DOUBLE), 6) AS credit,
         |  CAST(sum(CASE WHEN n_view > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_convs_touched
         |FROM pc""".stripMargin),

    // pairwise Pearson correlation over the fact table's numeric
    // columns from ONE aggregation pass
    Declared("stats_corr_matrix", (s, dir) =>
      DataProfile.corrMatrix(Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount")),
      {
        val pairs = Seq(
          ("l_quantity", "l_extendedprice"),
          ("l_quantity", "l_discount"),
          ("l_extendedprice", "l_discount"))
        val pre =
          """WITH complete AS (SELECT l_quantity, l_extendedprice, l_discount
            |  FROM lineitem WHERE l_quantity IS NOT NULL
            |    AND l_extendedprice IS NOT NULL AND l_discount IS NOT NULL),
            |m AS (SELECT count(*) AS nn, CAST(count(*) AS DOUBLE) AS n,""".stripMargin
        def sums(c: String, tag: String) =
          s"""  CAST(sum(CAST($c AS DECIMAL(38,8))) AS DOUBLE) AS s_$tag,
             |  CAST(sum(CAST(CAST($c AS DECIMAL(19,4)) * CAST($c AS DECIMAL(19,4))
             |    AS DECIMAL(38,8))) AS DOUBLE) AS ss_$tag""".stripMargin
        def prod(a: String, b: String, ta: String, tb: String) =
          s"""  CAST(sum(CAST(CAST($a AS DECIMAL(19,4)) * CAST($b AS DECIMAL(19,4))
             |    AS DECIMAL(38,8))) AS DOUBLE) AS sp_${ta}_$tb""".stripMargin
        val tags = Map("l_quantity" -> "q", "l_extendedprice" -> "p",
          "l_discount" -> "d")
        val aggSql = (Seq("l_quantity", "l_extendedprice", "l_discount")
          .map(c => sums(c, tags(c))) ++
          pairs.map { case (a, b) => prod(a, b, tags(a), tags(b)) })
          .mkString(",\n")
        val rows = pairs.map { case (a, b) =>
          val (ta, tb) = (tags(a), tags(b))
          s"""SELECT '$a' AS col_x, '$b' AS col_y, nn AS n,
             |  round((n * sp_${ta}_$tb - s_$ta * s_$tb) /
             |    sqrt((n * ss_$ta - s_$ta * s_$ta) *
             |         (n * ss_$tb - s_$tb * s_$tb)), 6) AS corr,
             |  round((n * sp_${ta}_$tb - s_$ta * s_$tb) / (n * n), 6)
             |    AS covar_pop
             |FROM m""".stripMargin
        }
        pre + "\n" + aggSql + "\n  FROM complete)\n" +
          rows.mkString("\nUNION ALL\n")
      }),

    // per-returnflag OLS of extendedprice on quantity (slope/intercept/
    // r-squared in closed form from exact moment sums)
    Declared("stats_regression", (s, dir) =>
      DataProfile.regression(Tables.lineitem(s, dir), "l_returnflag",
        "l_quantity", "l_extendedprice"),
      """WITH m AS (SELECT l_returnflag,
        |  count(*) AS nn, CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(19,4)) *
        |    CAST(l_quantity AS DECIMAL(19,4)) AS DECIMAL(38,8)))
        |    AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) *
        |    CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8)))
        |    AS DOUBLE) AS syy,
        |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(19,4)) *
        |    CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8)))
        |    AS DOUBLE) AS sxy
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY 1)
        |SELECT l_returnflag, nn AS n,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
        |    AS intercept,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM m""".stripMargin),

    // fixed-bounds equi-width histogram of the price distribution
    Declared("stats_hist_width", (s, dir) =>
      DataProfile.equiWidthHistogram(Tables.lineitem(s, dir),
        "l_extendedprice", 0L, 120000L, 24),
      """WITH f AS (SELECT l_extendedprice AS v,
        |    CAST(greatest(0, least(23,
        |      floor((l_extendedprice - 0) / 5000.0))) AS INT) AS bucket
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT bucket, count(*) AS n_rows,
        |  round(min(v), 6) AS min_v, round(max(v), 6) AS max_v,
        |  CAST(bucket AS BIGINT) * 5000 + 0 AS bucket_lo
        |FROM f GROUP BY 1""".stripMargin),

    // exact equi-depth (decile) histogram WITHOUT a global sort — the
    // distributed-CDF formulation (see DataProfile.equiDepthHistogram)
    Declared("stats_hist_depth", (s, dir) =>
      DataProfile.equiDepthHistogram(Tables.lineitem(s, dir),
        "l_extendedprice", 0L, 120000L, 10),
      """WITH c AS (SELECT l_extendedprice AS v, count(*) AS cnt
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        |r AS (SELECT v, cnt,
        |    coalesce(sum(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS rank_before
        |  FROM c),
        |t AS (SELECT sum(cnt) AS n FROM c)
        |SELECT CAST((rank_before * 10) // n AS INT) AS bucket,
        |  CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_values,
        |  round(min(v), 6) AS min_v, round(max(v), 6) AS max_v
        |FROM r, t GROUP BY 1""".stripMargin),

    // EXACT quantiles from the distributed CDF — no global sort, no
    // percentile() group buffer; integer rank arithmetic end-to-end
    Declared("stats_quantiles", (s, dir) =>
      DataProfile.quantilesExact(Tables.lineitem(s, dir),
        "l_extendedprice", 0L, 120000L, Seq(25, 50, 75, 90, 99)),
      """WITH c AS (SELECT l_extendedprice AS v, count(*) AS cnt
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        |r AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM c),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
        |ps AS (SELECT unnest([25, 50, 75, 90, 99]) AS p)
        |SELECT p,
        |  min(CASE WHEN cum >= (n * p + 99) // 100 THEN v END) AS value,
        |  CAST(max((n * p + 99) // 100) AS BIGINT) AS rank
        |FROM r, t, ps GROUP BY p""".stripMargin),

    // Poisson bootstrap CI of the per-type mean event value: 32
    // deterministic hash-weighted resamples in ONE map-only pass —
    // the bootstrap that works when drawing n rows with replacement
    // would be a global shuffle per resample (the oracle replays the
    // identical md5-uniform -> Poisson(1) inverse-CDF weights)
    Declared("stats_bootstrap_ci", (s, dir) =>
      DataProfile.poissonBootstrapCi(Tables.events(s, dir),
        "event_type", "value", "event_id", b = 32),
      {
        val wSql = graft.ops.DataProfile.PoissonCdf
          .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
          .mkString(" +\n        ")
        s"""WITH r AS (SELECT event_type, CAST(value AS DOUBLE) AS v,
           |    CAST(event_id AS VARCHAR) AS id, b
           |  FROM events, unnest(range(0, 32)) t(b)),
           |h AS (SELECT event_type, v, b,
           |    ${hexToLongSql("md5(id || ':' || CAST(b AS VARCHAR))", 1, 8)}
           |      / 4294967296.0 AS u
           |  FROM r),
           |wt AS (SELECT event_type, v, b,
           |    ($wSql) AS w
           |  FROM h),
           |m AS (SELECT event_type, b,
           |    round(sum(w * v) / sum(w), 6) AS m
           |  FROM wt GROUP BY 1, 2 HAVING sum(w) > 0),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
           |    ORDER BY m, b) AS rn,
           |  count(*) OVER (PARTITION BY event_type) AS nb FROM m)
           |SELECT event_type, round(avg(m), 6) AS boot_mean,
           |  max(CASE WHEN rn = 2 AND nb >= 4 THEN m END) AS ci_lo,
           |  max(CASE WHEN rn = nb - 1 AND nb >= 4 THEN m END) AS ci_hi,
           |  CAST(count(*) AS INT) AS n_resamples
           |FROM rk GROUP BY 1""".stripMargin
      }),

    // A/B difference CI — the bootstrap's real job: uncertainty of the
    // click-vs-view mean-value CONTRAST from PAIRED resamples (same
    // resample index on both arms; two marginal CIs would overstate
    // the interval by ignoring the shared resampling noise)
    Declared("stats_ab_diff_ci", (s, dir) => {
      val m = DataProfile.poissonBootstrapMeans(
        Tables.events(s, dir)
          .filter(col("event_type").isin("click", "view")),
        "event_type", "value", "event_id", b = 32)
      val diff = m.filter(col("event_type") === "click")
        .select(col("resample"), col("mean").as("mc"))
        .join(m.filter(col("event_type") === "view")
          .select(col("resample"), col("mean").as("mv")), Seq("resample"))
        .select(col("resample"), round(col("mc") - col("mv"), 6).as("diff"))
      DataProfile.orderStatCi(diff, Seq.empty, "diff", 32)
        .withColumnRenamed("stat_diff", "diff_mean")
    },
      {
        val wSql = graft.ops.DataProfile.PoissonCdf
          .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
          .mkString(" +\n        ")
        s"""WITH r AS (SELECT event_type, CAST(value AS DOUBLE) AS v,
           |    CAST(event_id AS VARCHAR) AS id, b
           |  FROM events, unnest(range(0, 32)) t(b)
           |  WHERE event_type IN ('click', 'view')),
           |h AS (SELECT event_type, v, b,
           |    ${hexToLongSql("md5(id || ':' || CAST(b AS VARCHAR))", 1, 8)}
           |      / 4294967296.0 AS u
           |  FROM r),
           |wt AS (SELECT event_type, v, b,
           |    ($wSql) AS w
           |  FROM h),
           |m AS (SELECT event_type, b,
           |    round(sum(w * v) / sum(w), 6) AS m
           |  FROM wt GROUP BY 1, 2 HAVING sum(w) > 0),
           |d AS (SELECT mc.b AS resample, round(mc.m - mv.m, 6) AS diff
           |  FROM (SELECT b, m FROM m WHERE event_type = 'click') mc
           |  JOIN (SELECT b, m FROM m WHERE event_type = 'view') mv
           |    ON mc.b = mv.b),
           |rk AS (SELECT *, row_number() OVER (ORDER BY diff, resample)
           |    AS rn,
           |  count(*) OVER () AS nb FROM d)
           |SELECT round(avg(diff), 6) AS diff_mean,
           |  max(CASE WHEN rn = 2 AND nb >= 4 THEN diff END) AS ci_lo,
           |  max(CASE WHEN rn = nb - 1 AND nb >= 4 THEN diff END) AS ci_hi,
           |  CAST(count(*) AS INT) AS n_resamples
           |FROM rk""".stripMargin
      }),

    // Count-Min sketch build over the event-actor stream — the DuckDB
    // oracle rebuilds the IDENTICAL counter table (md5 buckets)
    Declared("sketch_countmin", (s, dir) =>
      CountMin.build(Tables.events(s, dir), "user_id"),
      s"""WITH cells AS (${cmsCells("events")})
         |SELECT CAST(i AS INT) AS row_i, CAST(bucket AS INT) AS bucket,
         |  count(*) AS cnt
         |FROM cells GROUP BY 1, 2""".stripMargin),

    // per-key point queries against the sketch, with the one-sided
    // guarantee emitted as a gated fact: est >= exact for EVERY key
    Declared("sketch_countmin_estimate", (s, dir) => {
      val ev = Tables.events(s, dir)
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
      val est = CountMin.estimate(exact.select("user_id"), "user_id",
        CountMin.build(ev, "user_id"))
      exact.join(est, "user_id")
        .select(col("user_id"), col("exact_n"), col("est"),
          (col("est") >= col("exact_n")).as("ok"))
    },
      s"""WITH k AS (SELECT user_id, count(*) AS exact_n FROM events
         |  GROUP BY 1),
         |cells AS (${cmsCells("k")}),
         |s AS (SELECT c.i, c.bucket, CAST(sum(k.exact_n) AS BIGINT) AS cnt
         |  FROM cells c JOIN k ON k.user_id = c.user_id
         |  GROUP BY 1, 2),
         |e AS (SELECT c.user_id, min(s.cnt) AS est
         |  FROM cells c JOIN s ON s.i = c.i AND s.bucket = c.bucket
         |  GROUP BY 1)
         |SELECT k.user_id, k.exact_n, e.est, e.est >= k.exact_n AS ok
         |FROM k JOIN e ON e.user_id = k.user_id""".stripMargin),

    // time-weighted average value per (type, day): each reading is
    // weighted by the seconds it was "current" (until the next reading
    // of the same type that day; the last holds to midnight). The
    // window partitions by (type, day) — bounded state, never one task
    // per type — and the weighted sum accumulates as exact decimal.
    Declared("events_twap", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("tsec"), col("value"))
        .withColumn("day", floor(col("tsec") / 86400).cast("long"))
      val w = Window.partitionBy(col("event_type"), col("day"))
        .orderBy(col("tsec"), col("event_id"))
      ev.withColumn("nxt",
          coalesce(lead(col("tsec"), 1).over(w), (col("day") + 1) * 86400))
        .withColumn("wt", col("nxt") - col("tsec"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("wt")).as("total_sec"),
          round(sum((col("value").cast("decimal(18,4)") *
              col("wt").cast("decimal(18,4)")).cast("decimal(38,8)"))
            .cast("double") /
            sum(col("wt")).cast("double"), 6).as("twap"))
    },
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tsec,
        |    value FROM events),
        |d AS (SELECT *, CAST(floor(tsec / 86400) AS BIGINT) AS day FROM e),
        |w AS (SELECT event_type, day, tsec, value,
        |    coalesce(lead(tsec) OVER (PARTITION BY event_type, day
        |      ORDER BY tsec, event_id), (day + 1) * 86400) AS nxt
        |  FROM d)
        |SELECT event_type, day, count(*) AS n,
        |  CAST(sum(nxt - tsec) AS BIGINT) AS total_sec,
        |  round(CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) *
        |      CAST(nxt - tsec AS DECIMAL(18,4)) AS DECIMAL(38,8)))
        |      AS DOUBLE) / CAST(sum(nxt - tsec) AS DOUBLE), 6) AS twap
        |FROM w GROUP BY 1, 2""".stripMargin),

    // inter-arrival-time distribution per (type, day): gaps between
    // consecutive events, fixed 60 s buckets capped at an hour — the
    // latency-profile view of the stream
    Declared("events_interarrival_hist", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          unix_timestamp(col("ts")).as("tsec"))
        .withColumn("day", floor(col("tsec") / 86400).cast("long"))
      val w = Window.partitionBy(col("event_type"), col("day"))
        .orderBy(col("tsec"), col("event_id"))
      ev.withColumn("gap", col("tsec") - lag(col("tsec"), 1).over(w))
        .filter(col("gap").isNotNull)
        .groupBy(col("event_type"),
          least(floor(col("gap") / 60), lit(59L)).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"),
          max(col("gap")).as("max_gap_sec"))
    },
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tsec
        |  FROM events),
        |d AS (SELECT *, CAST(floor(tsec / 86400) AS BIGINT) AS day FROM e),
        |g AS (SELECT event_type,
        |    tsec - lag(tsec) OVER (PARTITION BY event_type, day
        |      ORDER BY tsec, event_id) AS gap
        |  FROM d)
        |SELECT event_type, CAST(least(floor(gap / 60), 59) AS INT) AS bucket,
        |  count(*) AS n, CAST(max(gap) AS BIGINT) AS max_gap_sec
        |FROM g WHERE gap IS NOT NULL GROUP BY 1, 2""".stripMargin),

    // referential-integrity audit across the star schema: orphan
    // foreign keys per relationship in one pass each (anti joins; the
    // dimension side broadcasts). The report every warehouse load
    // gate runs before publishing.
    Declared("quality_ref_integrity", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      def audit(name: String, fact: org.apache.spark.sql.DataFrame,
          fk: String, dim: org.apache.spark.sql.DataFrame, pk: String) = {
        val orphans = fact.join(broadcast(dim.select(col(pk))),
          fact(fk) === col(pk), "left_anti")
        orphans.agg(count(lit(1)).as("n_orphans"))
          .select(lit(name).as("relationship"), col("n_orphans"))
      }
      audit("lineitem->orders", li, "l_orderkey",
          o.select(col("o_orderkey")), "o_orderkey")
        .unionByName(audit("lineitem->part", li, "l_partkey",
          Tables.part(s, dir), "p_partkey"))
        .unionByName(audit("lineitem->supplier", li, "l_suppkey",
          Tables.supplier(s, dir), "s_suppkey"))
        .unionByName(audit("orders->customer", o, "o_custkey",
          Tables.customer(s, dir), "c_custkey"))
        .unionByName(audit("customer->nation", Tables.customer(s, dir),
          "c_nationkey", Tables.nation(s, dir), "n_nationkey"))
    },
      """SELECT 'lineitem->orders' AS relationship, count(*) AS n_orphans
        |FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'lineitem->part', count(*) FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l.l_partkey)
        |UNION ALL
        |SELECT 'lineitem->supplier', count(*) FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l.l_suppkey)
        |UNION ALL
        |SELECT 'orders->customer', count(*) FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'customer->nation', count(*) FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM nation
        |                  WHERE n_nationkey = c.c_nationkey)""".stripMargin),

    // per-customer running revenue over their order history — the
    // cumulative-window shape (customer-partitioned, exact decimal
    // accumulation; the frame never spans customers)
    Declared("analytics_running_revenue", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice").cast("decimal(18,4)").as("p"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.withColumn("order_seq", row_number().over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))))
        .withColumn("cum_rev", round(sum(col("p")).over(w)
          .cast("double"), 6))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("order_seq"), round(col("p").cast("double"), 6).as("price"),
          col("cum_rev"))
    },
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS INT) AS order_seq,
        |  round(CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE), 6)
        |    AS price,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
        |    AS cum_rev
        |FROM orders""".stripMargin),

    // the transaction-log table end-to-end: overwrite, append, a bad
    // overwrite, rollback — the final read must see exactly the v2
    // content (view + click events), with no data ever copied
    Declared("events_versioned_rollback", (s, dir) => {
      import graft.pipeline.VersionedTable
      val root = ParityQueries.scratch("events_vt")
      val fs = org.apache.hadoop.fs.FileSystem
        .get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      VersionedTable.commit(s, ev.filter(col("event_type") === "view"), root)
      VersionedTable.append(s, ev.filter(col("event_type") === "click"), root)
      VersionedTable.commit(s, ev.filter(col("event_type") === "error"), root)
      VersionedTable.rollback(s, root, to = 2)
      VersionedTable.read(s, root)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
    },
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 6) AS sum_value
        |FROM events WHERE event_type IN ('view', 'click')
        |GROUP BY 1""".stripMargin),

    // PageRank over the symmetrized customer-supplier trade graph —
    // the iterative join+aggregate pattern with per-round lineage cuts
    Declared("graph_pagerank", (s, dir) => {
      val pairs = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
        .distinct()
      val fwd = pairs.select(concat(lit("c"), col("ck")).as("src"),
        concat(lit("s"), col("sk")).as("dst"))
      val rev = pairs.select(concat(lit("s"), col("sk")).as("src"),
        concat(lit("c"), col("ck")).as("dst"))
      Graph.pagerank(fwd.unionByName(rev), iterations = 8)
    },
      pagerankSql(8)),

    // chi-square independence of event_type x day-of-week: expected
    // counts in closed form from exact integer marginals, per-cell
    // terms rounded to the 1e-6 grid THEN summed as exact decimals —
    // a 35-double sum would otherwise drift with shuffle order
    Declared("stats_chi2", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"))
      val cells = ev.groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("o"))
      val rt = cells.groupBy(col("event_type")).agg(sum(col("o")).as("rt"))
      val ct = cells.groupBy(col("dow")).agg(sum(col("o")).as("ct"))
      val tot = cells.agg(sum(col("o")).as("ntot"),
        countDistinct(col("event_type")).as("nr"),
        countDistinct(col("dow")).as("nc"))
      cells.join(broadcast(rt), Seq("event_type"))
        .join(broadcast(ct), Seq("dow"))
        .crossJoin(broadcast(tot))
        .withColumn("e",
          (col("rt") * col("ct")).cast("double") / col("ntot"))
        .withColumn("cell", round((col("o") - col("e")) *
          (col("o") - col("e")) / col("e"), 6).cast("decimal(18,6)"))
        .agg(max(col("ntot")).as("n"),
          max((col("nr") - 1) * (col("nc") - 1)).cast("int").as("dof"),
          round(sum(col("cell")).cast("double"), 6).as("chi2"))
    },
      """WITH e AS (SELECT event_type,
        |    dayofweek(CAST(ts AS TIMESTAMP)) AS dow FROM events),
        |cells AS (SELECT event_type, dow, count(*) AS o FROM e
        |  GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM cells
        |  GROUP BY 1),
        |ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM cells
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS ntot,
        |    count(DISTINCT event_type) AS nr,
        |    count(DISTINCT dow) AS nc FROM cells),
        |x AS (SELECT cells.o,
        |    CAST(rt.rt * ct.ct AS DOUBLE) / tot.ntot AS e,
        |    tot.ntot, tot.nr, tot.nc
        |  FROM cells JOIN rt USING (event_type) JOIN ct USING (dow), tot)
        |SELECT max(ntot) AS n,
        |  CAST(max((nr - 1) * (nc - 1)) AS INT) AS dof,
        |  round(CAST(sum(CAST(round((o - e) * (o - e) / e, 6)
        |    AS DECIMAL(18,6))) AS DOUBLE), 6) AS chi2
        |FROM x""".stripMargin),

    // two-proportion A/B z-test: cohorts carved by the shared md5
    // bucket, conversion = a purchase within 3 days of the user's
    // FIRST event (any-purchase converts EVERYONE at fixture density —
    // pooled variance 0, z undefined; the time-boxed rule is both the
    // realistic funnel metric and a non-degenerate one). Every input
    // an exact integer; the statistic one fixed IEEE op sequence (sqrt
    // is IEEE-exact, unlike log — the text_collocations lesson); the
    // degenerate p∈{0,1} case still yields NULL z via the guard, never
    // an ANSI divide-by-zero.
    Declared("stats_ab_test", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("tsec"))
      val first = ev.groupBy(col("user_id")).agg(min(col("tsec")).as("t0"))
      val conv = ev.filter(col("event_type") === "purchase")
        .join(first, Seq("user_id"))
        .filter(col("tsec") <= col("t0") + lit(3L * 86400))
        .select(col("user_id")).distinct().withColumn("converted", lit(1))
      val cohort = first.select(col("user_id"))
        .withColumn("grp", (graft.ops.Dedup.hashBucket(col("user_id")) % 2)
          .cast("int"))
      val g = cohort.join(conv, Seq("user_id"), "left")
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("converted"), lit(0))).as("k"))
      val w = g.agg(
          max(when(col("grp") === 0, col("n"))).as("n_a"),
          max(when(col("grp") === 0, col("k"))).as("k_a"),
          max(when(col("grp") === 1, col("n"))).as("n_b"),
          max(when(col("grp") === 1, col("k"))).as("k_b"))
        .withColumn("pp", (col("k_a") + col("k_b")).cast("double") /
          (col("n_a") + col("n_b")))
        .withColumn("den", sqrt(col("pp") * (lit(1.0) - col("pp")) *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
      w.select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
          round(col("k_a").cast("double") / col("n_a"), 6).as("p_a"),
          round(col("k_b").cast("double") / col("n_b"), 6).as("p_b"),
          round(when(col("den") > 0,
            ((col("k_a").cast("double") / col("n_a")) -
             (col("k_b").cast("double") / col("n_b"))) / col("den")), 6)
            .as("z"))
    },
      {
        val grp = "CAST(CAST(" +
          hexToLongSql("md5(CAST(user_id AS VARCHAR))", 1, 8) +
          " AS BIGINT) % 100 % 2 AS INT)"
        s"""WITH e AS (SELECT user_id, event_type,
           |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tsec
           |  FROM events),
           |f AS (SELECT user_id, min(tsec) AS t0 FROM e GROUP BY 1),
           |conv AS (SELECT DISTINCT e.user_id FROM e JOIN f USING (user_id)
           |  WHERE e.event_type = 'purchase'
           |    AND e.tsec <= f.t0 + 3 * 86400),
           |cohort AS (SELECT user_id, $grp AS grp FROM f),
           |g AS (SELECT cohort.grp, count(*) AS n,
           |    CAST(sum(CASE WHEN conv.user_id IS NULL THEN 0 ELSE 1 END)
           |      AS BIGINT) AS k
           |  FROM cohort LEFT JOIN conv USING (user_id) GROUP BY 1),
           |w0 AS (SELECT
           |    max(CASE WHEN grp = 0 THEN n END) AS n_a,
           |    max(CASE WHEN grp = 0 THEN k END) AS k_a,
           |    max(CASE WHEN grp = 1 THEN n END) AS n_b,
           |    max(CASE WHEN grp = 1 THEN k END) AS k_b
           |  FROM g),
           |w AS (SELECT *,
           |    sqrt((CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) *
           |         (1.0 - CAST(k_a + k_b AS DOUBLE) / (n_a + n_b)) *
           |         (1.0 / n_a + 1.0 / n_b)) AS den
           |  FROM w0)
           |SELECT n_a, k_a, n_b, k_b,
           |  round(CAST(k_a AS DOUBLE) / n_a, 6) AS p_a,
           |  round(CAST(k_b AS DOUBLE) / n_b, 6) AS p_b,
           |  round(CASE WHEN den > 0 THEN
           |    (CAST(k_a AS DOUBLE) / n_a - CAST(k_b AS DOUBLE) / n_b) / den
           |  END, 6) AS z
           |FROM w""".stripMargin
      }),

    // 5/95-winsorized mean of line prices: clip thresholds from the
    // distributed-CDF exact quantiles (broadcast scalars), mean from
    // exact decimal cents — the robust-statistics face of the CDF
    // machinery
    Declared("stats_winsorized_mean", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(round(col("l_extendedprice") * 100).cast("long").as("v"))
      val q = broadcast(graft.ops.DataProfile.quantilesExact(
          li, "v", 0L, 1L << 24, Seq(5, 95))
        .agg(max(when(col("p") === 5, col("value"))).as("q05"),
          max(when(col("p") === 95, col("value"))).as("q95")))
      li.crossJoin(q)
        .withColumn("clipped", least(greatest(col("v"), col("q05")),
          col("q95")))
        .agg(count(lit(1)).as("n"), max(col("q05")).as("q05_cents"),
          max(col("q95")).as("q95_cents"),
          round(sum(col("clipped").cast("decimal(18,0)")).cast("double") /
            count(lit(1)) / 100.0, 6).as("mean_winsorized"))
    },
      """WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
        |    AS v FROM lineitem),
        |n AS (SELECT count(*) AS n FROM v),
        |q AS (SELECT ps.p, min(s.v) AS value FROM
        |    (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v) s,
        |    (SELECT unnest([5, 95]) AS p) ps, n
        |  WHERE s.rn >= (n.n * ps.p + 99) // 100 GROUP BY 1),
        |t AS (SELECT max(CASE WHEN p = 5 THEN value END) AS q05,
        |    max(CASE WHEN p = 95 THEN value END) AS q95 FROM q),
        |c AS (SELECT least(greatest(v.v, t.q05), t.q95) AS clipped,
        |    t.q05, t.q95 FROM v, t)
        |SELECT count(*) AS n, max(q05) AS q05_cents,
        |  max(q95) AS q95_cents,
        |  round(CAST(sum(CAST(clipped AS DECIMAL(18,0))) AS DOUBLE) /
        |    count(*) / 100.0, 6) AS mean_winsorized
        |FROM c""".stripMargin),

    // per-type daily-volume quantiles off the GROUPED distributed CDF
    // (group key rides every stage — no task owns a whole type)
    Declared("stats_quantiles_by_type", (s, dir) => {
      val daily = Tables.events(s, dir)
        .select(col("event_type"),
          floor(unix_timestamp(col("ts")) / 86400L).cast("long").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.DataProfile.quantilesExactBy(daily, "event_type", "n",
        0L, 1L << 20, Seq(50, 95))
    },
      """WITH daily AS (SELECT event_type,
        |    CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 86400)
        |      AS BIGINT) AS day
        |  FROM events),
        |d AS (SELECT event_type, day, count(*) AS n FROM daily
        |      GROUP BY 1, 2),
        |nn AS (SELECT event_type, count(*) AS n_days FROM d GROUP BY 1),
        |r AS (SELECT event_type, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY n) AS rn
        |  FROM d)
        |SELECT r.event_type, ps.p, min(r.n) AS value,
        |  CAST(max((nn.n_days * ps.p + 99) // 100) AS BIGINT) AS rank
        |FROM r JOIN nn USING (event_type),
        |  (SELECT unnest([50, 95]) AS p) ps
        |WHERE r.rn >= (nn.n_days * ps.p + 99) // 100
        |GROUP BY 1, 2""".stripMargin),

    // Benford first-digit audit of order totals: observed digit shares
    // vs the Benford expectation — the classic fabricated-numbers
    // screen. The log10 constants are LITERALS (log is libm; baking
    // the nine values in keeps both engines on identical doubles).
    Declared("stats_benford", (s, dir) => {
      val benford = Seq(0.301030, 0.176091, 0.124939, 0.096910,
        0.079181, 0.066947, 0.057992, 0.051153, 0.045757)
      // first digit via integer CENTS: double→string formatting is
      // engine-specific (scientific notation thresholds differ), but
      // long→string is plain digits everywhere, and the first
      // significant digit of 100·x equals that of x
      val d = Tables.orders(s, dir)
        .select(substring(round(col("o_totalprice") * 100).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .filter(col("digit").between(1, 9))
      val n = d.agg(count(lit(1)).as("n_total"))
      val exp = benford.zipWithIndex
        .map { case (e, i) => struct(lit(i + 1).as("digit"),
          lit(e).as("expected")) }
      val expected = d.sparkSession.range(1)
        .select(explode(array(exp: _*)).as("e"))
        .select(col("e.digit").as("digit"), col("e.expected").as("expected"))
      d.groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .join(broadcast(expected), Seq("digit"))
        .crossJoin(broadcast(n))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("n_total"), 6).as("share"),
          col("expected"),
          round(abs(col("n").cast("double") / col("n_total") -
            col("expected")), 6).as("abs_dev"))
    },
      {
        val benford = Seq(0.301030, 0.176091, 0.124939, 0.096910,
          0.079181, 0.066947, 0.057992, 0.051153, 0.045757)
        val expRows = benford.zipWithIndex
          .map { case (e, i) => s"(${i + 1}, CAST($e AS DOUBLE))" }
          .mkString(", ")
        s"""WITH d AS (SELECT CAST(substr(CAST(
           |      CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
           |      1, 1) AS INT) AS digit
           |  FROM orders),
           |f AS (SELECT digit FROM d WHERE digit BETWEEN 1 AND 9),
           |n AS (SELECT count(*) AS n_total FROM f),
           |exp(digit, expected) AS (VALUES $expRows),
           |c AS (SELECT digit, count(*) AS n FROM f GROUP BY 1)
           |SELECT c.digit, c.n,
           |  round(CAST(c.n AS DOUBLE) / n.n_total, 6) AS share,
           |  exp.expected,
           |  round(abs(CAST(c.n AS DOUBLE) / n.n_total - exp.expected), 6)
           |    AS abs_dev
           |FROM c JOIN exp USING (digit), n""".stripMargin
      }),

    // IQR outlier screen per return flag: quartiles from the GROUPED
    // distributed CDF, fences at 1.5·IQR, exact outlier counts — the
    // robust-statistics audit composed from quantilesExactBy
    Declared("stats_outlier_iqr", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100).cast("long").as("v"))
      val q = graft.ops.DataProfile.quantilesExactBy(li, "flag", "v",
          0L, 1L << 24, Seq(25, 75))
        .groupBy(col("flag"))
        .agg(max(when(col("p") === 25, col("value"))).as("q25"),
          max(when(col("p") === 75, col("value"))).as("q75"))
      li.join(broadcast(q), Seq("flag"))
        .withColumn("iqr", col("q75") - col("q25"))
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n"),
          max(col("q25")).as("q25_cents"), max(col("q75")).as("q75_cents"),
          sum(when(col("v") < col("q25") - lit(1.5) * col("iqr") ||
                   col("v") > col("q75") + lit(1.5) * col("iqr"), 1L)
            .otherwise(0L)).as("n_outliers"))
    },
      """WITH li AS (SELECT l_returnflag AS flag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem),
        |nn AS (SELECT flag, count(*) AS n FROM li GROUP BY 1),
        |r AS (SELECT flag, v,
        |    row_number() OVER (PARTITION BY flag ORDER BY v) AS rn
        |  FROM li),
        |q AS (SELECT r.flag, ps.p, min(r.v) AS value
        |  FROM r JOIN nn USING (flag), (SELECT unnest([25, 75]) AS p) ps
        |  WHERE r.rn >= (nn.n * ps.p + 99) // 100 GROUP BY 1, 2),
        |t AS (SELECT flag,
        |    max(CASE WHEN p = 25 THEN value END) AS q25,
        |    max(CASE WHEN p = 75 THEN value END) AS q75 FROM q GROUP BY 1)
        |SELECT li.flag, count(*) AS n,
        |  max(t.q25) AS q25_cents, max(t.q75) AS q75_cents,
        |  CAST(sum(CASE WHEN li.v < t.q25 - 1.5 * (t.q75 - t.q25)
        |             OR li.v > t.q75 + 1.5 * (t.q75 - t.q25)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM li JOIN t USING (flag)
        |GROUP BY 1""".stripMargin),

    // k-anonymity audit over quasi-identifiers (nation, segment,
    // account-balance percentile band): every equivalence class below
    // k=5 members is a re-identification risk — the privacy gate a
    // training-data release runs before shipping row-level data. One
    // map-side-combined group count; the risky-class relation is
    // class-sized, never row-sized.
    Declared("quality_k_anonymity", (s, dir) => {
      val c = Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_mktsegment"),
          (floor(col("c_acctbal") / 1000.0)).cast("long").as("bal_band"))
      val classes = c.groupBy(col("c_nationkey"), col("c_mktsegment"),
          col("bal_band"))
        .agg(count(lit(1)).as("class_n"))
      val tot = c.agg(count(lit(1)).as("n_rows"))
      classes.agg(count(lit(1)).as("n_classes"),
          sum(when(col("class_n") < 5, 1L).otherwise(0L))
            .as("n_risky_classes"),
          sum(when(col("class_n") < 5, col("class_n")).otherwise(0L))
            .as("n_risky_rows"),
          min(col("class_n")).as("min_class_n"))
        .crossJoin(broadcast(tot))
        .select(col("n_classes"), col("n_risky_classes"),
          col("n_risky_rows"), col("min_class_n"),
          round(col("n_risky_rows").cast("double") / col("n_rows"), 6)
            .as("risky_share"))
    },
      """WITH c AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
        |  FROM customer),
        |cls AS (SELECT c_nationkey, c_mktsegment, bal_band,
        |    count(*) AS class_n
        |  FROM c GROUP BY 1, 2, 3),
        |t AS (SELECT count(*) AS n_rows FROM c)
        |SELECT count(*) AS n_classes,
        |  CAST(sum(CASE WHEN class_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_risky_classes,
        |  CAST(sum(CASE WHEN class_n < 5 THEN class_n ELSE 0 END)
        |    AS BIGINT) AS n_risky_rows,
        |  min(class_n) AS min_class_n,
        |  round(CAST(sum(CASE WHEN class_n < 5 THEN class_n ELSE 0 END)
        |    AS DOUBLE) / max(t.n_rows), 6) AS risky_share
        |FROM cls, t""".stripMargin),

    // l-diversity audit (Machanavajjhala et al. 2007) — the attribute-
    // disclosure companion of quality_k_anonymity: a class can be
    // k-anonymous yet expose its members' SENSITIVE value when every
    // member shares it. Per (nation, segment) class: distinct sensitive
    // bands; classes with < 3 distinct values are exposed. Same scale
    // shape — one combined count + distinct aggregate, class-sized
    // relations only.
    Declared("quality_l_diversity", (s, dir) => {
      val c = Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      val classes = c.groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("class_n"),
          countDistinct(col("bal_band")).as("l_div"))
      val tot = c.agg(count(lit(1)).as("n_rows"))
      classes.agg(count(lit(1)).as("n_classes"),
          sum(when(col("l_div") < 3, 1L).otherwise(0L))
            .as("n_low_div_classes"),
          sum(when(col("l_div") < 3, col("class_n")).otherwise(0L))
            .as("n_exposed_rows"),
          min(col("l_div")).as("min_l"))
        .crossJoin(broadcast(tot))
        .select(col("n_classes"), col("n_low_div_classes"),
          col("n_exposed_rows"), col("min_l"),
          round(col("n_exposed_rows").cast("double") / col("n_rows"), 6)
            .as("exposed_share"))
    },
      """WITH c AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
        |  FROM customer),
        |cls AS (SELECT c_nationkey, c_mktsegment,
        |    count(*) AS class_n,
        |    count(DISTINCT bal_band) AS l_div
        |  FROM c GROUP BY 1, 2),
        |t AS (SELECT count(*) AS n_rows FROM c)
        |SELECT count(*) AS n_classes,
        |  CAST(sum(CASE WHEN l_div < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low_div_classes,
        |  CAST(sum(CASE WHEN l_div < 3 THEN class_n ELSE 0 END)
        |    AS BIGINT) AS n_exposed_rows,
        |  min(l_div) AS min_l,
        |  round(CAST(sum(CASE WHEN l_div < 3 THEN class_n ELSE 0 END)
        |    AS DOUBLE) / max(t.n_rows), 6) AS exposed_share
        |FROM cls, t""".stripMargin),

    // t-closeness (Li, Li & Venkatasubramanian, ICDE 2007): per
    // quasi-identifier class, the EMD between the class's SENSITIVE
    // distribution and the global one — l-diversity's blind spot is a
    // class whose values are distinct but all concentrated in one tail
    // (distinct ≠ representative). Over the ORDERED band domain EMD is
    // the mean absolute CUMULATIVE difference (normalized by m−1).
    // Scale shape: the class × band grid is (|classes| × |bands|) rows
    // — both alphabet-sized; the running sum is a per-class window
    // over ~20 ordered bands, never a corpus-wide sort. The cumulative
    // accumulation order (band ascending) is identical on both
    // engines, so the only FP nondeterminism is the final class-local
    // sum, absorbed by the 1e-6 grid.
    Declared("quality_t_closeness", (s, dir) => {
      val c = Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_band"))
      val bands = c.groupBy(col("bal_band")).agg(count(lit(1)).as("gn"))
      val tot = bands.agg(count(lit(1)).as("m"), sum(col("gn")).as("n_total"))
      val classes = c.groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("class_n"))
      val cb = c.groupBy(col("c_nationkey"), col("c_mktsegment"),
        col("bal_band")).agg(count(lit(1)).as("cn"))
      val w = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"))
        .orderBy(col("bal_band"))
      classes.crossJoin(broadcast(bands))
        .join(cb, Seq("c_nationkey", "c_mktsegment", "bal_band"), "left")
        .withColumn("cn", coalesce(col("cn"), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("d",
          col("cn").cast("double") / col("class_n") -
            col("gn").cast("double") / col("n_total"))
        .withColumn("cum", sum(col("d")).over(w))
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(first(col("class_n")).as("class_n"),
          round(when(first(col("m")) > 1,
            sum(abs(col("cum"))) / (first(col("m")) - 1))
            .otherwise(lit(0.0)), 6).as("emd"))
    },
      """WITH c AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
        |  FROM customer),
        |g AS (SELECT bal_band, count(*) AS gn FROM c GROUP BY 1),
        |t AS (SELECT count(*) AS m, sum(gn) AS n_total FROM g),
        |cls AS (SELECT c_nationkey, c_mktsegment, count(*) AS class_n
        |  FROM c GROUP BY 1, 2),
        |cb AS (SELECT c_nationkey, c_mktsegment, bal_band,
        |    count(*) AS cn
        |  FROM c GROUP BY 1, 2, 3),
        |grid AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.class_n,
        |    g.bal_band, g.gn, coalesce(cb.cn, 0) AS cn
        |  FROM cls CROSS JOIN g
        |  LEFT JOIN cb ON cb.c_nationkey = cls.c_nationkey
        |    AND cb.c_mktsegment = cls.c_mktsegment
        |    AND cb.bal_band = g.bal_band),
        |d AS (SELECT grid.*, t.m,
        |    CAST(cn AS DOUBLE) / class_n - CAST(gn AS DOUBLE) / n_total AS d
        |  FROM grid, t),
        |cum AS (SELECT c_nationkey, c_mktsegment, class_n, m,
        |    sum(d) OVER (PARTITION BY c_nationkey, c_mktsegment
        |                 ORDER BY bal_band) AS cum
        |  FROM d)
        |SELECT c_nationkey, c_mktsegment, class_n,
        |  round(CASE WHEN m > 1 THEN sum(abs(cum)) / (m - 1)
        |        ELSE 0 END, 6) AS emd
        |FROM cum GROUP BY 1, 2, 3, m""".stripMargin)
  )
}
