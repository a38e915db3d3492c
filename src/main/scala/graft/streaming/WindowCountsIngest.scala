package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming faces of the windowed event analytics that need HISTORY —
  * trailing-baseline anomaly scores ([[graft.ops.EventOps.anomalyScores]])
  * and per-window top-k ([[graft.ops.EventOps.windowedTopK]]). A z-score
  * needs the previous `lookback` buckets and a rank needs the whole
  * window's counts, so neither is a pure per-key streaming aggregate;
  * the honest shape is the running-data-card pattern
  * ([[StatsIngest]]): the watermark FINALIZES hourly (window, type)
  * count rows in append mode, each micro-batch persists exactly those
  * rows, and the reports replay the batch scoring logic — the SAME
  * function objects ([[graft.ops.EventOps.anomalyScoresOver]] /
  * [[graft.ops.EventOps.windowedTopKOver]]) — over the accumulated
  * series, so stream-vs-batch parity is by construction for every
  * finalized window.
  *
  * Replay safety: append-mode window finalization emits each (window,
  * type) row once per successful epoch, but a crash between the sink
  * append and the checkpoint commit re-delivers the epoch — reports
  * therefore dedup on (window_start, event_type), which is exact
  * because a finalized count is immutable. The persisted series is
  * (windows x types)-sized — thousands of fixed-width rows per year,
  * never corpus-sized.
  */
object WindowCountsIngest {

  def start(events: DataFrame, countsDir: String, checkpointDir: String,
            width: String = "1 hour",
            watermark: String = "1 hour"): StreamingQuery =
    Stores.start(EventStreams.windowedCounts(events, width, None, watermark)
        .select(col("window_start"), col("event_type"), col("n")),
        checkpointDir) { (batch, epoch) =>
      batch.withColumn("epoch_id", lit(epoch))
        .write.mode("append").parquet(countsDir)
    }

  /** The finalized hourly series, replay-deduped — the exact relation
    * [[graft.ops.EventOps.hourlyCounts]] produces in batch for the
    * windows the watermark has closed.
    */
  def series(spark: SparkSession, countsDir: String): DataFrame =
    spark.read.parquet(countsDir)
      .dropDuplicates("window_start", "event_type")
      .select(col("window_start"), col("event_type"), col("n"))

  /** Store hygiene: rewrite the series to one row per finalized
    * (window, type) through the atomic swap — exact, because a
    * finalized count is immutable (re-deliveries carry identical n),
    * so unlike the additive-partial stores this one CAN fully collapse;
    * the kept epoch_id is min-provenance (the
    * [[ActivityIngest.compactKeys]] convention).
    */
  def compact(spark: SparkSession, countsDir: String): Unit =
    Stores.rewrite(spark, countsDir)(
      _.groupBy(col("window_start"), col("event_type"))
        .agg(min(col("n")).as("n"), min(col("epoch_id")).as("epoch_id"))
        .select(col("window_start"), col("event_type"), col("n"),
          col("epoch_id")))

  /** Running anomaly report — identical to the batch
    * [[graft.ops.EventOps.anomalyScores]] over the finalized windows.
    */
  def anomalyReport(spark: SparkSession, countsDir: String,
                    lookback: Int): DataFrame =
    graft.ops.EventOps.anomalyScoresOver(series(spark, countsDir), lookback)

  /** Running per-window top-k — identical to the batch
    * [[graft.ops.EventOps.windowedTopK]] over the finalized windows.
    */
  def topKReport(spark: SparkSession, countsDir: String, k: Int): DataFrame =
    graft.ops.EventOps.windowedTopKOver(series(spark, countsDir), k)

  /** Running EWMA of the daily count per type — identical to the batch
    * [[graft.ops.EventOps.ewmaDaily]] over the events whose DAY windows
    * the watermark has finalized (run [[start]] with `width = "1 day"`).
    * The finalized series is zero-filled over its own span and folded by
    * the SAME [[graft.ops.EventOps.ewmaOver]] the batch face uses —
    * parity by construction, including the gap-day decay.
    */
  def ewmaReport(spark: SparkSession, countsDir: String,
                 alpha: Double): DataFrame =
    graft.ops.EventOps.ewmaOver(
      graft.ops.EventOps.gapFillCounts(
        series(spark, countsDir).select(
          floor(unix_timestamp(col("window_start")) / 86400).cast("int")
            .as("day"),
          col("event_type"), col("n").as("n_events"))), alpha)

  /** Holt level+trend over the same finalized windows — the batch
    * [[graft.ops.EventOps.holtOver]] replayed VERBATIM on the persisted
    * series, so stream-vs-batch parity holds by construction (the
    * ewmaReport argument, with two state variables).
    */
  def holtReport(spark: SparkSession, countsDir: String,
                 alpha: Double, beta: Double): DataFrame =
    graft.ops.EventOps.holtOver(
      graft.ops.EventOps.gapFillCounts(
        series(spark, countsDir).select(
          floor(unix_timestamp(col("window_start")) / 86400).cast("int")
            .as("day"),
          col("event_type"), col("n").as("n_events"))), alpha, beta)
}
