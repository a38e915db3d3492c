package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-window operators over the `events` table. These are the batch
  * formulations; [[graft.streaming.EventStreams]] runs the identical
  * `window()` expressions under Structured Streaming with watermarks —
  * Spark's unified API means the aggregation code is shared.
  *
  * Scale posture: `window()` is a projection (it assigns 1-2 window
  * structs per row map-side); the groupBy shuffles one partial aggregate
  * per (window, key) per partition, not raw events. Sessionization uses
  * one hash-partition by user_id; per-user state is a sort within the
  * partition (Spark's window-function exec), which AQE splits on skew.
  */
object EventOps {

  /** Tumbling-window counts + sums per event_type (1 row per event). */
  def tumbling(events: DataFrame, width: String): DataFrame =
    events.groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window counts + sums: each event lands in width/slide
    * overlapping windows (2 with the 1h/30m defaults).
    */
  def sliding(events: DataFrame, width: String, slide: String): DataFrame =
    events.groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Gap-based sessionization: a new session starts when a user's
    * inter-event gap exceeds `gapMinutes`. Output is one row per session
    * with bounds and event count. Batch analogue of
    * `session_window`/`flatMapGroupsWithState` (see
    * [[graft.streaming.EventStreams.sessionizeStream]]).
    */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val prev = lag(col("ts"), 1).over(byUser)
    val isNew = when(prev.isNull ||
      col("ts") - prev > expr(s"INTERVAL $gapMinutes MINUTES"), 1).otherwise(0)
    val sid = sum(col("is_new"))
      .over(Window.partitionBy("user_id").orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    events.withColumn("is_new", isNew)
      .withColumn("session_id", sid)
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** JSON property extraction + aggregation: `props` is an opaque JSON
    * string column; pull a typed field out with `get_json_object` and
    * aggregate it (the multimodal-metadata access pattern).
    */
  def jsonPropsAgg(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** Ordered funnel: for each user, how far they progressed through
    * `steps` IN ORDER — each step's match is its EARLIEST occurrence
    * strictly after the previous step's match and within
    * `horizonMinutes` of the funnel start (the first step's first
    * occurrence). The classic product-analytics sequence query, which
    * plain SQL engines usually hand to a dedicated `funnel()` UDAF;
    * here it is k-1 user-keyed left joins, each followed by a min
    * aggregate — every join is on the user key (hash join, no
    * inequality-only nested loop), every aggregate carries one
    * timestamp per user, and a broken chain stays broken because the
    * null previous-step time fails the next join's condition.
    *
    * Output per user who entered the funnel: `steps_completed` (1..k),
    * `funnel_start`, `last_step_ts` — both non-null by construction
    * (a coalesce chain ending at the start), so results hash-compare.
    *
    * Scale: events are filtered to the step types at the scan
    * (predicate pushdown), each round shuffles one (user, ts) relation
    * — funnel depth is a constant, not a data dimension.
    */
  def funnel(events: DataFrame, steps: Seq[String],
             horizonMinutes: Int): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = events.select(col("user_id"), col("event_type").as("__et"),
      col("ts").as("__ts"))
    var acc = e.filter(col("__et") === steps.head)
      .groupBy("user_id").agg(min(col("__ts")).as("ts_1"))
    val horizon = expr(s"INTERVAL $horizonMinutes MINUTES")
    steps.tail.zipWithIndex.foreach { case (step, idx) =>
      val i = idx + 2
      val nxt = e.filter(col("__et") === step)
        .select(col("user_id").as("__u"), col("__ts"))
      acc = acc.join(nxt, col("user_id") === col("__u") &&
          col("__ts") > col(s"ts_${i - 1}") &&
          col("__ts") <= col("ts_1") + horizon, "left")
        .groupBy(acc.columns.toIndexedSeq.map(col): _*)
        .agg(min(col("__ts")).as(s"ts_$i"))
    }
    val stepTs = (1 to steps.length).map(j => col(s"ts_$j"))
    val completed = stepTs.tail
      .map(c => when(c.isNotNull, 1).otherwise(0))
      .foldLeft(lit(1))(_ + _)
    acc.select(col("user_id"),
      completed.cast("int").as("steps_completed"),
      col("ts_1").as("funnel_start"),
      coalesce(stepTs.reverse: _*).as("last_step_ts"))
  }

  /** Per-user lifetime summary: first/last activity, event volume and
    * distinct active (epoch) days — the base table every engagement
    * metric derives from. One user-keyed aggregate; the distinct-days
    * count rides the same shuffle as fixed-width (user, day) rows.
    * Days are `floor(epoch_seconds / 86400)` — the same pure-arithmetic
    * bucketing as [[retention]], timezone-proof under pinned UTC.
    */
  def userLifetime(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("ts"),
        floor(unix_timestamp(col("ts")) / 86400).cast("int").as("__day"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
        count(lit(1)).as("n_events"),
        countDistinct(col("__day")).as("n_active_days"))

  /** Loud per-user event cap — the bot-flood guard for every operator
    * that keys state or sorts within `user_id` ([[sessionize]],
    * [[funnel]], the as-of family): a single runaway user holding 10^8
    * events pins one task at 100× regardless of AQE (hash joins and
    * running-sum windows over ONE key don't split). This cap
    * deterministically thins each over-cap user down to ~`maxPerUser`
    * events BEFORE any per-user operator runs, with zero per-user
    * sorting anywhere in the cap itself (the trap would be `row_number
    * <= cap`, which IS the skewed sort): one skew-immune partial-agg
    * count pass finds the flooded users (a tiny relation, broadcast
    * back), then a map-side hash-rate filter keeps each of their events
    * iff `md5(user|epoch-second|type) mod 10000 < ceil(cap·10⁴/n)` —
    * engine-reproducible, order-independent, and ~binomial around the
    * cap. The same pattern as [[graft.ops.Dedup]]'s hot-bucket guard:
    * bounded loudly, never silently quadratic.
    *
    * LOUD: pair with [[capUserEventsAudit]] — capping changes analytics
    * results, so the capped users and their kept counts are a
    * first-class audit artifact, not a log line.
    */
  def capUserEvents(events: DataFrame, maxPerUser: Long): DataFrame = {
    val flooded = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > maxPerUser)
      .select(col("user_id"),
        ceil(lit(maxPerUser) * 10000.0 / col("__n")).cast("long")
          .as("__rate10k"))
    events.join(broadcast(flooded), Seq("user_id"), "left")
      .filter(col("__rate10k").isNull || thinKey() < col("__rate10k"))
      .drop("__rate10k")
  }

  /** `md5(user|epoch-second|type) mod 10000` — [[capUserEvents]]'s
    * deterministic keep-decision key. Events of one user sharing a
    * second and type share fate; acceptable for a flood guard.
    */
  private def thinKey(): Column =
    conv(substring(md5(concat_ws("|", col("user_id"),
      unix_timestamp(col("ts")), col("event_type"))), 1, 8), 16, 10)
      .cast("long") % 10000

  /** The audit face of [[capUserEvents]]: one row per CAPPED user with
    * the original and kept event counts — what actually got thinned.
    * Same two skew-immune count passes; no sorts.
    */
  def capUserEventsAudit(events: DataFrame, maxPerUser: Long): DataFrame = {
    val orig = events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events")).filter(col("n_events") > maxPerUser)
    val kept = capUserEvents(events, maxPerUser)
      .groupBy(col("user_id")).agg(count(lit(1)).as("__k"))
    orig.join(kept, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"),
        coalesce(col("__k"), lit(0L)).as("n_kept"))
  }

  /** Trailing-window anomaly detection: per (event_type, hour bucket),
    * the z-score of the bucket's volume against the TRAILING `lookback`
    * buckets' mean/stddev (frame `[-lookback, -1]` — the current bucket
    * never scores itself). The ops-analytics staple: a traffic spike or
    * outage shows as |z| >> 0 the moment it happens, with the baseline
    * tracking slow drift. Buckets with no trailing history (or zero
    * variance) emit a null z. Mean and stddev are gridded to 1e-6
    * BEFORE the quotient so windowed summation order can never split
    * engines. One (type, bucket) aggregate; the z window runs per type
    * over the bucket-count-sized series.
    */
  def anomalyScores(events: DataFrame, lookback: Int): DataFrame =
    anomalyScoresOver(hourlyCounts(events), lookback)

  /** The (window_start, event_type, n) hourly series both faces share —
    * batch computes it inline; the streaming ingest persists exactly
    * these rows as windows finalize.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))

  /** [[anomalyScores]]' scoring half over a prepared hourly series —
    * shared VERBATIM by the batch face and the streaming ingest's
    * report, so stream-vs-batch parity is by construction.
    */
  def anomalyScoresOver(counted: DataFrame, lookback: Int): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("window_start")).rowsBetween(-lookback, -1)
    // a single-row trailing frame yields stddev NaN on Spark but NULL
    // on the oracle engine — normalize to NULL (no-baseline semantics)
    val sd = stddev(col("n")).over(w)
    counted
      .withColumn("base_mean", round(avg(col("n")).over(w), 6))
      .withColumn("base_sd",
        when(isnan(sd), lit(null).cast("double")).otherwise(round(sd, 6)))
      .withColumn("z",
        when(col("base_sd").isNull || col("base_sd") === 0.0,
          lit(null).cast("double"))
          .otherwise(round((col("n") - col("base_mean")) / col("base_sd"),
            6)))
  }

  /** Trending event types: per tumbling window, the top `k` event
    * types by volume — the windowed-rank composition (window assignment
    * map-side, one (window, type) partial-aggregate shuffle, then a
    * rank over the WINDOW-COUNT-sized result; the rank's partition key
    * is the window, so WindowGroupLimit prunes before its exchange).
    */
  def windowedTopK(events: DataFrame, width: String, k: Int): DataFrame =
    windowedTopKOver(
      events.groupBy(window(col("ts"), width).as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n")), k)

  /** [[windowedTopK]]'s ranking half over a prepared per-window count
    * series — shared with the streaming ingest's report.
    */
  def windowedTopKOver(counted: DataFrame, k: Int): DataFrame = {
    val rn = row_number().over(Window.partitionBy(col("window_start"))
      .orderBy(col("n").desc, col("event_type")))
    counted.withColumn("rank", rn).filter(col("rank") <= k)
  }

  /** Daily active users with a trailing-week smoothed series — the
    * top-line engagement chart. Days are pure epoch arithmetic
    * (`floor(epoch/86400)`, the [[userLifetime]]/[[retention]]
    * convention — timezone-proof under pinned UTC). One (day, user)
    * distinct (the only corpus-sized shuffle, fixed-width), one
    * day-keyed count, then the trailing average over the DAY-COUNT-
    * sized series (driver-trivial at any corpus scale). The trailing
    * frame includes the current day (`[-6, 0]`) and averages over the
    * days PRESENT — counts are exact integers, so the 6-gridded mean
    * is engine-identical.
    */
  def dailyActive(events: DataFrame, trailingDays: Int = 7): DataFrame = {
    val byDay = events
      .select(floor(unix_timestamp(col("ts")) / 86400).cast("int")
        .as("day"), col("user_id"))
    val dau = byDay.distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("n_active"))
    val evs = byDay.groupBy(col("day")).agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy(col("day")).rowsBetween(-(trailingDays - 1), 0)
    dau.join(evs, Seq("day"))
      .withColumn("trailing_avg_active",
        round(avg(col("n_active")).over(w), 6))
  }

  /** Dense daily series per event type: every (day, type) cell of the
    * [min day, max day] x distinct-types grid, zero-filled where no
    * events landed — the gap-fill/resample step every downstream
    * time-series operator (EWMA, anomaly lookbacks, forecasting
    * features) needs before positional arithmetic means anything.
    *
    * Shape: ONE corpus-sized aggregation to (day, type) cells; the
    * scaffold is calendar-bounded (days since epoch) times the type
    * dimension — both tiny at ANY corpus scale, so their cross join is
    * a broadcast scaffold, not a data join, and the left join back onto
    * the cells is scaffold-sized. Days are epoch arithmetic
    * (`floor(epoch/86400)`, the [[dailyActive]] convention).
    */
  def gapFillDaily(events: DataFrame): DataFrame = {
    val byDay = events.select(
      floor(unix_timestamp(col("ts")) / 86400).cast("int").as("day"),
      col("event_type"), col("value"))
    val cells = byDay.groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("total_value"))
    val days = byDay.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val types = byDay.select(col("event_type")).distinct()
    days.crossJoin(broadcast(types))
      .join(cells, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("total_value"), lit(0.0)).as("total_value"))
  }

  /** Exponentially weighted moving average of the daily event count per
    * type, over the ZERO-FILLED grid ([[gapFillDaily]] — EWMA over a
    * sparse series would silently skip decay across gaps):
    * `s_1 = n_1; s_t = alpha*n_t + (1-alpha)*s_{t-1}`.
    *
    * The recursion runs as ONE array fold per type
    * (`functions.aggregate` over the sorted day series) — no window
    * over an unbounded frame, no driver collect. Per-group state is the
    * series itself, CALENDAR-bounded (days since the epoch fit in ~2^15
    * rows no matter how many trillions of events fed them) — the same
    * bounded-by-time argument as [[dailyActive]]'s day window. The
    * oracle replays the identical recursion as a recursive CTE; both
    * engines evaluate `alpha*n + (1-alpha)*prev` in the same order, and
    * the output rides the 1e-6 grid.
    */
  def ewmaDaily(events: DataFrame, alpha: Double): DataFrame =
    ewmaOver(gapFillDaily(events)
      .select(col("day"), col("event_type"), col("n_events")), alpha)

  /** Zero-fill a sparse (day, event_type, n_events) count series over
    * its own [min, max] day span — [[gapFillDaily]]'s grid logic for a
    * PREPARED series (the streaming ingest's persisted finalized
    * windows reduce to exactly this relation).
    */
  def gapFillCounts(cells: DataFrame): DataFrame = {
    val days = cells.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val types = cells.select(col("event_type")).distinct()
    days.crossJoin(broadcast(types))
      .join(cells, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  /** [[ewmaDaily]]'s recursion over a prepared ZERO-FILLED
    * (day, event_type, n_events) series — shared with the streaming
    * report so stream-vs-batch parity is by construction.
    */
  def ewmaOver(filled: DataFrame, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    val acc0 = array().cast("array<struct<day:int,ewma:double>>")
    val step = (acc: Column, x: Column) => concat(acc, array(struct(
      x("day").as("day"),
      when(size(acc) === 0, x("n_events").cast("double"))
        .otherwise(lit(alpha) * x("n_events") +
          lit(1.0 - alpha) * element_at(acc, -1)("ewma"))
        .as("ewma"))))
    filled
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("n_events"))))
        .as("series"))
      .select(col("event_type"),
        explode(aggregate(col("series"), acc0, step)).as("r"))
      .select(col("event_type"), col("r.day").as("day"),
        round(col("r.ewma"), 6).as("ewma"))
  }

  /** Holt double-exponential smoothing over a zero-filled daily count
    * series — the trend-carrying extension of [[ewmaOver]], the same
    * ONE-array-aggregate-per-type fold (state bounded by the calendar,
    * not the corpus):
    *
    *   level_t = α·x_t + (1−α)·(level_{t−1} + trend_{t−1})
    *   trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}
    *
    * initialized level_1 = x_1, trend_1 = 0. With α = β = 0.5 every
    * multiplication is an exact power-of-two scale and the fold order
    * is the day order, so the unrounded state is bit-identical to a
    * DuckDB recursive CTE running the same recurrence; outputs round
    * at the boundary only.
    */
  def holtOver(filled: DataFrame, alpha: Double, beta: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1 && beta > 0 && beta <= 1,
      s"alpha/beta must be in (0,1]: $alpha, $beta")
    val acc0 = array().cast("array<struct<day:int,level:double,trend:double>>")
    val step = (acc: Column, x: Column) => {
      val prev = element_at(acc, -1)
      val lvl = when(size(acc) === 0, x("n_events").cast("double"))
        .otherwise(lit(alpha) * x("n_events") +
          lit(1.0 - alpha) * (prev("level") + prev("trend")))
      concat(acc, array(struct(
        x("day").as("day"),
        lvl.as("level"),
        when(size(acc) === 0, lit(0.0))
          .otherwise(lit(beta) * (lvl - prev("level")) +
            lit(1.0 - beta) * prev("trend")).as("trend"))))
    }
    filled
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("n_events"))))
        .as("series"))
      .select(col("event_type"),
        explode(aggregate(col("series"), acc0, step)).as("r"))
      .select(col("event_type"), col("r.day").as("day"),
        round(col("r.level"), 6).as("level"),
        round(col("r.trend"), 6).as("trend"))
  }

  def holtDaily(events: DataFrame, alpha: Double, beta: Double): DataFrame =
    holtOver(gapFillDaily(events)
      .select(col("day"), col("event_type"), col("n_events")), alpha, beta)

  /** h-step-ahead forecasts off a [[holtOver]] series: the LAST state
    * per type extrapolated as level + h·trend for h = 1..horizon.
    * Forecasts derive from the ROUNDED terminal state, so both engines
    * extrapolate identical numbers (the centroidDrift lesson: grid
    * BEFORE deriving, not after).
    */
  def holtForecast(holt: DataFrame, horizon: Int): DataFrame = {
    val last = holt.groupBy(col("event_type"))
      .agg(max(struct(col("day"), col("level"), col("trend"))).as("s"))
    last.select(col("event_type"), col("s.day").as("last_day"),
        explode(sequence(lit(1), lit(horizon))).as("h"),
        col("s.level").as("level"), col("s.trend").as("trend"))
      .select(col("event_type"), (col("last_day") + col("h")).as("day"),
        col("h"),
        round(col("level") + col("h") * col("trend"), 6).as("forecast"))
  }

  /** Cohort retention: users cohorted by the WEEK of their first
    * `cohortType` event, then counted as active in each weekly offset
    * bucket after it — the classic retention triangle. Weeks are pure
    * epoch arithmetic (`floor(epoch_seconds / 604800)`), not calendar
    * `date_trunc`, so bucket edges are bit-identical on every engine
    * and timezone-proof under the pinned-UTC session.
    *
    * Shape: one user-keyed aggregate for the cohort anchor, one
    * broadcast-sized join back onto the events (the anchor relation is
    * user-count-sized), a distinct over (user, cohort, offset) — the
    * only corpus-sized shuffle, fixed-width — and a cohort-keyed count.
    * The rate face joins cohort sizes (cohort-count-sized) back in.
    */
  def retention(events: DataFrame, cohortType: String): DataFrame = {
    val firsts = events.filter(col("event_type") === cohortType)
      .groupBy("user_id")
      .agg(min(unix_timestamp(col("ts"))).as("t0"))
    val active = events
      .select(col("user_id"), unix_timestamp(col("ts")).as("tsec"))
      .join(firsts, Seq("user_id"))
      .filter(col("tsec") >= col("t0"))
      .select(col("user_id"),
        floor(col("t0") / 604800).cast("int").as("cohort_week"),
        floor((col("tsec") - col("t0")) / 604800).cast("int")
          .as("week_offset"))
      .distinct()
    val counts = active.groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = firsts
      .select(floor(col("t0") / 604800).cast("int").as("cohort_week"))
      .groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_size"))
    counts.join(sizes, Seq("cohort_week"))
      .withColumn("retention_rate",
        round(col("n_active").cast("double") / col("cohort_size"), 6))
  }

  /** Marketing attribution: credit each conversion event to the FIRST
    * and LAST touch event by the same user inside a trailing lookback
    * window. One union-free pass: conversions and touches ride the SAME
    * user-keyed range window (the as-of family's single-shuffle posture),
    * so the conversion×touch pair set is never materialized — at 100 TB
    * the naive pair join is quadratic in per-user activity, this is one
    * shuffle + one sort. Ties on the touch timestamp break by event_type
    * (the struct ordering), so first/last are total-order deterministic.
    */
  def attribution(events: DataFrame, convType: String,
      touchTypes: Seq[String], lookbackHours: Int): DataFrame = {
    val tagged = events
      .filter(col("event_type") === convType ||
        col("event_type").isin(touchTypes: _*))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("tsec"),
        (col("event_type") =!= convType).as("is_touch"))
    val w = Window.partitionBy("user_id").orderBy(col("tsec"))
      .rangeBetween(-lookbackHours * 3600L, 0L)
    // null for conversion rows, so min/max/count see only touches
    val touch = when(col("is_touch"), struct(col("tsec"), col("event_type")))
    tagged
      .withColumn("ft", min(touch).over(w))
      .withColumn("lt", max(touch).over(w))
      .withColumn("nt", count(touch).over(w))
      .filter(!col("is_touch"))
      .select(col("event_id").as("conv_event_id"), col("user_id"),
        col("tsec").as("conv_tsec"),
        col("ft.event_type").as("first_touch"),
        col("ft.tsec").as("first_touch_tsec"),
        col("lt.event_type").as("last_touch"),
        col("lt.tsec").as("last_touch_tsec"),
        col("nt").as("n_touches"))
  }

  /** Linear (fractional) attribution rolled up per channel: every touch
    * inside a conversion's lookback window earns 1/n_touches of that
    * conversion. Computed WITHOUT the pair join — per conversion, one
    * windowed count per channel (the channel list is small and static),
    * then one aggregation. Each fractional credit is snapped to the
    * 1e-12 grid and summed as an exact decimal, so the per-channel total
    * is independent of both engine and shuffle order.
    */
  def attributionCredit(events: DataFrame, convType: String,
      touchTypes: Seq[String], lookbackHours: Int): DataFrame = {
    val tagged = events
      .filter(col("event_type") === convType ||
        col("event_type").isin(touchTypes: _*))
      .select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("tsec"))
    val w = Window.partitionBy("user_id").orderBy(col("tsec"))
      .rangeBetween(-lookbackHours * 3600L, 0L)
    val perChannel = touchTypes.map { t =>
      count(when(col("event_type") === t, lit(1))).over(w).as(s"__n_$t")
    }
    val convs = tagged
      .select(col("*") +: perChannel: _*)
      .filter(col("event_type") === convType)
      .withColumn("__nt",
        touchTypes.map(t => col(s"__n_$t")).reduce(_ + _))
    val channelRows = touchTypes.map { t =>
      struct(lit(t).as("channel"),
        when(col("__nt") > 0,
          round(col(s"__n_$t").cast("double") / col("__nt"), 12))
          .otherwise(lit(0.0)).cast("decimal(28,12)").as("credit"),
        (col(s"__n_$t") > 0).as("touched"))
    }
    convs.select(explode(array(channelRows: _*)).as("c"))
      .groupBy(col("c.channel").as("channel"))
      .agg(round(sum(col("c.credit")).cast("double"), 6).as("credit"),
        sum(when(col("c.touched"), 1L).otherwise(0L))
          .as("n_convs_touched"))
  }

  /** The funnel chart over [[funnel]]'s per-user output: one row per
    * step with the users reaching AT LEAST that step and the
    * conversion rate vs step 1. Both sides of the join are
    * steps-sized / funnel-depth-sized — driver-trivial at any corpus
    * scale (the heavy lifting happened in [[funnel]]).
    */
  def funnelReport(perUser: DataFrame, steps: Seq[String]): DataFrame = {
    val s = perUser.sparkSession
    import s.implicits._
    val stepRel = steps.zipWithIndex.map { case (n, i) => (i + 1, n) }
      .toDF("step", "step_name")
    val counts = perUser.groupBy(col("steps_completed"))
      .agg(count(lit(1)).as("n"))
    val entered = Window.orderBy(col("step"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    stepRel.join(counts, col("steps_completed") >= col("step"), "left")
      .groupBy(col("step"), col("step_name"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n_users"))
      .withColumn("conversion",
        when(first(col("n_users")).over(entered) === 0,
          lit(null).cast("double"))
          .otherwise(round(col("n_users").cast("double") /
            first(col("n_users")).over(entered), 6)))
  }

  /** Length-3 sequential-pattern support (PrefixSpan-lite, r16 verdict
    * task 6): users whose history contains type A strictly-before B
    * strictly-before C, ANY gaps, on the (tsec, event_id) total order.
    * Input columns: user_id, event_type, tsec, event_id.
    *
    * The naive shape is a per-user TRIPLE self-join (events³ under a
    * hot user). This one extends the order-2 min/max trick with the
    * episode-mining MINIMAL-OCCURRENCE (earliest-completion) relation:
    * first/last per type alone cannot decide order 3 (Y's middle
    * occurrences are invisible — Y={1,3,5}, first(X)=2, last(Z)=4 IS a
    * witness through y=3 but min/max sees only 1 and 5), so the prefix
    * A→B materializes e2(A,B) = the earliest B occurrence strictly
    * after first(A). The exchange argument makes greedy exact: any
    * witness x<y<z has first(A) <= x < y, so e2(A,B) <= y < z, hence
    * A→B→C ⟺ e2(A,B) < last(C).
    *
    * Scale shape: the e2 build joins the raw events to the per-(user,
    * type) first-occurrence relation — |events_u| × |types| rows per
    * user, aggregated immediately map-side; the pattern join is the
    * |types|²-sized e2 relation against the |types|-sized last relation
    * — |types|³ per user, bounded by the type alphabet, NEVER events³
    * (historical r17 `events_{uni,hot}_seq3` rows under "Hot-user skew
    * face" in BASELINE.md: a planted bot user holding 20% of the corpus
    * costs linear build fanout, not a cubic blowup).
    */
  def seqPatterns3(ev: DataFrame): DataFrame = {
    val o = struct(col("tsec"), col("event_id"))
    val occ = ev.groupBy(col("user_id"), col("event_type"))
      .agg(min(o).as("first_occ"), max(o).as("last_occ"))
    val firsts = occ.select(col("user_id"),
      col("event_type").as("type_a"), col("first_occ").as("fa"))
    val e2 = ev.select(col("user_id"), col("event_type").as("type_b"),
        o.as("ob"))
      .join(firsts, Seq("user_id"))
      .filter(col("ob") > col("fa"))
      .groupBy(col("user_id"), col("type_a"), col("type_b"))
      .agg(min(col("ob")).as("e2"))
    val lasts = occ.select(col("user_id"),
      col("event_type").as("type_c"), col("last_occ").as("lc"))
    val nUsers = ev.agg(countDistinct(col("user_id")).as("n_users_total"))
    e2.join(lasts, Seq("user_id"))
      .filter(col("e2") < col("lc"))
      .groupBy(col("type_a"), col("type_b"), col("type_c"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("type_c"), col("n_users"),
        round(col("n_users").cast("double") / col("n_users_total"), 6)
          .as("support"))
  }

  /** GAP-CONSTRAINED length-2 sequential patterns (PrefixSpan-lite with
    * a maxGap window, r17 verdict task 7): users whose history contains
    * type A strictly-before type B with tsec_B − tsec_A ≤
    * `maxGapSeconds`. Input columns: user_id, event_type, tsec,
    * event_id; output (type_a, type_b, n_users, support).
    *
    * The min/max-occurrence trick of [[seqPatterns3]] cannot see gaps
    * (first(A)/last(B) may be far apart while a tight witness hides in
    * the middle), and the naive shape is a per-user self-join bounded
    * by the gap window — events × window-density under a hot user.
    * This one is the LAST-PREDECESSOR scan: for every event b and every
    * type A, the latest A-occurrence strictly before b minimizes the
    * gap over all (A-occurrence, b) witnesses, so the pair is supported
    * iff ∃ b with tsec_b − tsec(lastA(b)) ≤ g. lastA(b) for ALL (b, A)
    * at once is one merged-stream window: marker rows (each occurrence,
    * keyed by its own type) unioned with query rows (each event ×
    * |types| via a broadcast alphabet), windowed per (user, type_a)
    * ordered by the (tsec, event_id) total order with queries BEFORE
    * markers on ties — a query can never see its own marker, making
    * "strictly before" exact. Fanout |events_u| × |types| per user,
    * aggregated immediately — NEVER the events × window-density
    * self-join ([[seqPatterns3]]'s bound, now with gaps).
    */
  def seqPatternsGap(ev: DataFrame, maxGapSeconds: Long): DataFrame = {
    val supp = gapSupport2(ev, maxGapSeconds)
      .select(col("user_id"), col("type_a"), col("type_b")).distinct()
    val nUsers = ev.agg(countDistinct(col("user_id")).as("n_users_total"))
    supp.groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("n_users"),
        round(col("n_users").cast("double") / col("n_users_total"), 6)
          .as("support"))
  }

  /** GAP-CONSTRAINED length-3 sequential patterns: A before B before C
    * with BOTH consecutive gaps ≤ `maxGapSeconds`. Greedy is exact by
    * the same exchange argument chained once: an event b is a valid
    * (A, B)-prefix iff its latest earlier A is within g (any witness a
    * implies lastA(b) ≥ a is too), and (A, B, C) is supported iff some
    * C-event c has a valid prefix occurrence within g before it — the
    * LATEST valid prefix before c minimizes that gap. Two window
    * passes: pass 1 marks valid 2-prefixes (fanout events × |types|),
    * pass 2 streams them as markers against events × the observed
    * |pairs| alphabet (≤ |types|²) — the |types|ᵏ⁻¹ × events bound,
    * never events³ (or events × window-density²) under a hot user.
    */
  def seqPatternsGap3(ev: DataFrame, maxGapSeconds: Long): DataFrame = {
    // SERIALIZED persist (r20, the gap3 weak-mark mitigation): valid2
    // is the one large mid-relation this query pins while two window
    // passes run over it, and r19's driver artifact showed a 7.8x
    // end-of-sweep re-time that local runs never reproduce — consistent
    // with cached-block heap pressure at minute N of a 326-query
    // session, not with this plan. SER stores the blocks compact
    // (measured: same wall time locally, half the billed GC), so the
    // query holds strictly less heap hostage wherever the session is
    // already under pressure.
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val valid2 = gapSupport2(ev, maxGapSeconds).persist(sl)
    valid2.count()
    val pairs = valid2.select(col("type_a"), col("type_b")).distinct()
    val markers = valid2.select(col("user_id"), col("type_a"),
      col("type_b"), col("o"), col("qts").as("mts"), lit(1).as("is_m"),
      lit(null).cast("string").as("type_c"),
      lit(null).cast("long").as("qts"))
    val queries = ev.select(col("user_id"),
        col("event_type").as("type_c"),
        struct(col("tsec"), col("event_id")).as("o"),
        col("tsec").as("qts"))
      .crossJoin(broadcast(pairs))
      .select(col("user_id"), col("type_a"), col("type_b"), col("o"),
        lit(null).cast("long").as("mts"), lit(0).as("is_m"),
        col("type_c"), col("qts"))
    val w = Window.partitionBy(col("user_id"), col("type_a"), col("type_b"))
      .orderBy(col("o"), col("is_m"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val scanned = markers.unionByName(queries)
      .withColumn("__last",
        max(when(col("is_m") === 1, col("mts"))).over(w))
    val supp = scanned
      .filter(col("is_m") === 0 && col("__last").isNotNull &&
        col("qts") - col("__last") <= maxGapSeconds)
      .select(col("user_id"), col("type_a"), col("type_b"), col("type_c"))
      .distinct()
    val nUsers = ev.agg(countDistinct(col("user_id")).as("n_users_total"))
    supp.groupBy(col("type_a"), col("type_b"), col("type_c"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("type_c"), col("n_users"),
        round(col("n_users").cast("double") / col("n_users_total"), 6)
          .as("support"))
  }

  /** The valid gap-2 occurrence relation behind both gap operators:
    * one row per (user, type_a, event b) where the latest A strictly
    * before b (on the (tsec, event_id) total order) is within the gap —
    * columns (user_id, type_a, type_b, o, qts) with o/qts = b's order
    * key and timestamp. Marker/query merged-stream window, queries
    * ordered before markers on o-ties so an event never sees itself.
    */
  private def gapSupport2(ev: DataFrame, maxGapSeconds: Long): DataFrame = {
    require(maxGapSeconds >= 0, s"maxGap must be >= 0: $maxGapSeconds")
    val o = struct(col("tsec"), col("event_id"))
    val types = ev.select(col("event_type").as("type_a")).distinct()
    val markers = ev.select(col("user_id"),
      col("event_type").as("type_a"), o.as("o"),
      col("tsec").as("mts"), lit(1).as("is_m"),
      lit(null).cast("string").as("type_b"),
      lit(null).cast("long").as("qts"))
    val queries = ev.select(col("user_id"),
        col("event_type").as("type_b"), o.as("o"), col("tsec").as("qts"))
      .crossJoin(broadcast(types))
      .select(col("user_id"), col("type_a"), col("o"),
        lit(null).cast("long").as("mts"), lit(0).as("is_m"),
        col("type_b"), col("qts"))
    val w = Window.partitionBy(col("user_id"), col("type_a"))
      .orderBy(col("o"), col("is_m"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // markers' mts is nondecreasing along o, so the running max IS the
    // latest strictly-earlier A occurrence's timestamp
    markers.unionByName(queries)
      .withColumn("__last",
        max(when(col("is_m") === 1, col("mts"))).over(w))
      .filter(col("is_m") === 0 && col("__last").isNotNull &&
        col("qts") - col("__last") <= maxGapSeconds)
      .select(col("user_id"), col("type_a"), col("type_b"), col("o"),
        col("qts"))
  }
}
