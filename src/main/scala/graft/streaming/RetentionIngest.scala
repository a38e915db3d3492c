package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the cohort-retention triangle
  * ([[graft.ops.EventOps.retention]]) — the face ActivityIngest
  * documented as batch-only because week offsets anchor to each user's
  * exact first-signup SECOND, which day-granular keys cannot reproduce.
  *
  * The exact-mergeable state that CAN reproduce them:
  *
  *  - per (user, day): the MIN and MAX event second of that user-day
  *    (min/max-merge — idempotent, so at-least-once replay is absorbed
  *    by construction, the SubstrDedupIngest min-owner argument);
  *  - per user: the MIN signup second (the cohort anchor, same merge).
  *
  * Why two seconds per user-day suffice for BIT-FOR-BIT parity: the
  * batch rule buckets each event at `floor((tsec - t0) / 604800)`.
  * Within one day, `tsec - t0` varies by < 86400 < 604800, so a
  * user-day's events span AT MOST TWO adjacent offset buckets, and the
  * bucket is monotone in the second — the day's offset set is exactly
  * `{offset(min_sec), offset(max_sec)}`. The `tsec >= t0` filter is
  * also safe on the two representatives: a user-day with events on
  * both sides of t0 is the signup day itself, where every surviving
  * event has offset 0 = offset(max_sec). So the report's distinct
  * (user, cohort_week, week_offset) set equals the batch operator's,
  * at (active user-days + users) x 16-byte state — the DAU key-set
  * footprint, nowhere near event-sized.
  *
  * State rows: kind 'a' = (user_id, day, lo=min_sec, hi=max_sec);
  * kind 's' = (user_id, day NULL, lo=hi=min signup sec). Appended per
  * epoch; [[compact]] min/max-merges the append growth (fold-SAFE
  * here, unlike the DAU count partials — min/max are idempotent).
  */
object RetentionIngest {

  def start(events: DataFrame, stateDir: String, checkpointDir: String,
            cohortType: String = "signup"): StreamingQuery =
    Stores.start(events, checkpointDir)(
      ingestBatch(_, stateDir, _, cohortType))

  def ingestBatch(batch: DataFrame, stateDir: String, epochId: Long,
                  cohortType: String = "signup"): Unit = {
    val ev = batch.select(col("user_id"),
      unix_timestamp(col("ts")).as("tsec"), col("event_type"))
    val act = ev.groupBy(col("user_id"),
        floor(col("tsec") / 86400).cast("int").as("day"))
      .agg(min(col("tsec")).as("lo"), max(col("tsec")).as("hi"))
      .withColumn("kind", lit("a"))
    val anchors = ev.filter(col("event_type") === cohortType)
      .groupBy(col("user_id"))
      .agg(min(col("tsec")).as("lo"))
      .select(col("user_id"), lit(null).cast("int").as("day"),
        col("lo"), col("lo").as("hi"), lit("s").as("kind"))
    act.select(col("user_id"), col("day"), col("lo"), col("hi"), col("kind"))
      .unionByName(anchors)
      .withColumn("epoch_id", lit(epochId))
      .write.mode("append").parquet(stateDir)
  }

  /** Collapse the per-epoch append growth: min/max per (kind, user,
    * day) — exact under replay AND under repeated compaction (min/max
    * are idempotent; there is no count partial to undercount).
    */
  def compact(spark: SparkSession, stateDir: String,
              numFiles: Int = 8): Unit =
    Stores.rewrite(spark, stateDir)(
      _.groupBy(col("kind"), col("user_id"), col("day"))
        .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"),
          min(col("epoch_id")).as("epoch_id"))
        .select(col("user_id"), col("day"), col("lo"), col("hi"),
          col("kind"), col("epoch_id"))
        .repartition(numFiles))

  /** The running retention triangle — bit-for-bit
    * [[graft.ops.EventOps.retention]] over everything ingested: merge
    * the state, expand each user-day to its two representative
    * seconds, replay the batch rule (same grid, same filter, same
    * distinct).
    */
  def report(spark: SparkSession, stateDir: String): DataFrame = {
    val t = spark.read.parquet(stateDir)
    val act = t.filter(col("kind") === "a")
      .groupBy(col("user_id"), col("day"))
      .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"))
    val firsts = t.filter(col("kind") === "s")
      .groupBy(col("user_id")).agg(min(col("lo")).as("t0"))
    val active = act
      .select(col("user_id"),
        explode(array(col("lo"), col("hi"))).as("tsec"))
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
}
