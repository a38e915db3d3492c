package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the daily-active series
  * ([[graft.ops.EventOps.dailyActive]]) — the live engagement chart.
  * `n_active` is a per-day DISTINCT user count, so it does not merge
  * from scalar partials; the exact-mergeable shape is the
  * [[StatsIngest]] key-set pattern: each epoch appends its batch's
  * distinct (day, user) keys plus a per-day event-count partial;
  * [[report]] re-distincts the keys and re-sums the partials, matching
  * the batch operator BIT-FOR-BIT over everything ingested. Replay is
  * idempotent by construction (the distinct absorbs re-appended keys;
  * count partials dedup on epoch). [[compactKeys]] collapses the
  * append-grown duplicates. Key state is (days x active users)-sized —
  * the honest floor for exact DAU; swap `approx_count_distinct` over
  * the same keys table for a bounded-state estimate.
  *
  * Retention has its own streaming face since r16: week offsets anchor
  * to each user's exact first-signup SECOND, which these day-granular
  * keys cannot reproduce, but per-user-day (min, max) second state can
  * — see [[RetentionIngest]] for the two-representative argument.
  */
object ActivityIngest {

  def start(events: DataFrame, activityDir: String,
            checkpointDir: String): StreamingQuery =
    Stores.start(events, checkpointDir)(ingestBatch(_, activityDir, _))

  def ingestBatch(batch: DataFrame, activityDir: String,
                  epochId: Long): Unit = {
    val dayed = batch.select(
      floor(unix_timestamp(col("ts")) / 86400).cast("int").as("day"),
      col("user_id"))
    dayed.distinct()
      .withColumn("n_events", lit(null).cast("long"))
      .unionByName(dayed.groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("user_id", lit(null).cast("long"))
        .select(col("day"), col("user_id"), col("n_events")))
      .withColumn("epoch_id", lit(epochId))
      .write.mode("append").parquet(activityDir)
  }

  /** Collapse duplicate (day, user) keys (min epoch as provenance).
    * Count partials must NOT collapse across epochs — two different
    * epochs can legitimately contribute IDENTICAL (day, n_events)
    * rows, and merging them would undercount; they only dedup on
    * (day, epoch) — the replay collapse, which is exact.
    */
  def compactKeys(spark: SparkSession, activityDir: String,
                  numFiles: Int = 8): Unit =
    Stores.rewrite(spark, activityDir) { t =>
      val keys = t.filter(col("user_id").isNotNull)
        .groupBy(col("day"), col("user_id"))
        .agg(min(col("epoch_id")).as("epoch_id"))
        .withColumn("n_events", lit(null).cast("long"))
        .select(col("day"), col("user_id"), col("n_events"), col("epoch_id"))
      val counts = t.filter(col("user_id").isNull)
        .dropDuplicates("day", "epoch_id")
        .select(col("day"), col("user_id"), col("n_events"), col("epoch_id"))
      keys.unionByName(counts).repartition(numFiles)
    }

  /** The running daily-active series — bit-for-bit
    * [[graft.ops.EventOps.dailyActive]] over everything ingested.
    */
  def report(spark: SparkSession, activityDir: String,
             trailingDays: Int = 7): DataFrame = {
    val t = spark.read.parquet(activityDir)
    val dau = t.filter(col("user_id").isNotNull)
      .select(col("day"), col("user_id")).distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("n_active"))
    val evs = t.filter(col("user_id").isNull)
      .dropDuplicates("day", "epoch_id")
      .groupBy(col("day")).agg(sum(col("n_events")).as("n_events"))
    val w = Window.orderBy(col("day")).rowsBetween(-(trailingDays - 1), 0)
    dau.join(evs, Seq("day"))
      .withColumn("trailing_avg_active",
        round(avg(col("n_active")).over(w), 6))
  }
}
