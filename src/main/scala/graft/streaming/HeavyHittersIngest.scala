package graft.streaming

import graft.ops.HeavyHitters
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of [[graft.ops.HeavyHitters]] — a running "what keys
  * dominate the stream" board with Misra-Gries state, k rows per epoch.
  *
  * Shape: each micro-batch reduces to its own MERGED MG summary
  * (<= k rows) plus its row total, appended epoch-keyed; [[report]]
  * merges the per-epoch summaries with the same subtract-the-(k+1)-
  * largest rule. Mergeable-summaries composition (Agarwal et al.) makes
  * the lifetime guarantee exact: every key with true stream count
  * > N/(k+1) is on the board, with undercount <= N/(k+1) — N being the
  * TOTAL ingested row count from the persisted totals, not a guess.
  *
  * Replay (at-least-once) safety, the `LineDedupIngest` lesson: a
  * replayed epoch re-appends rows under the SAME epoch_id; [[report]]
  * dedups summaries on (epoch_id, key) and totals on epoch_id before
  * merging, so counts can never inflate. A per-key mixture of two valid
  * same-epoch summaries is itself valid (each estimate individually
  * satisfies est <= true with the epoch's decrement budget), so even a
  * replay that repartitioned the batch stays inside the bound.
  *
  * There is deliberately NO cross-epoch FOLDING: merging epochs
  * 0..i into one synthetic summary would double-count any of those
  * epochs replayed AFTER the fold (the exact failure `ActivityIngest`
  * documents for its per-epoch count partials). [[compact]] is the
  * weaker, safe face: the replay-dedup fixpoint rewrite, epoch
  * structure preserved — state stays k rows per epoch.
  */
object HeavyHittersIngest {

  def start(rows: DataFrame, keyCol: String, k: Int, sketchDir: String,
            totalsDir: String, checkpointDir: String): StreamingQuery =
    Stores.start(rows, checkpointDir)(
      ingestBatch(_, keyCol, k, sketchDir, totalsDir, _))

  def ingestBatch(batch: DataFrame, keyCol: String, k: Int,
                  sketchDir: String, totalsDir: String,
                  epochId: Long): Unit = {
    HeavyHitters.misraGries(batch, keyCol, k)
      .withColumn("epoch_id", lit(epochId))
      .write.mode("append").parquet(sketchDir)
    batch.groupBy().agg(count(lit(1)).as("n"))
      .withColumn("epoch_id", lit(epochId))
      .write.mode("append").parquet(totalsDir)
  }

  /** Total rows ingested so far (replay-deduped) — the N of the bound. */
  def totalIngested(spark: SparkSession, totalsDir: String): Long =
    spark.read.parquet(totalsDir).dropDuplicates("epoch_id")
      .agg(sum(col("n"))).head.getLong(0)

  /** The running heavy-hitter board: merged MG candidates `(key, est)`,
    * at most k rows, honoring the lifetime `N/(k+1)` guarantee against
    * [[totalIngested]]. Safe to read at any time, including mid-ingest.
    */
  def report(spark: SparkSession, sketchDir: String, k: Int): DataFrame = {
    val summed = spark.read.parquet(sketchDir)
      .dropDuplicates("epoch_id", "key")
      .groupBy(col("key")).agg(sum(col("est")).as("__sum"))
    val byCount = Window.orderBy(col("__sum").desc, col("key"))
    val all = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    summed
      .withColumn("__rk", row_number().over(byCount))
      .withColumn("__off",
        max(when(col("__rk") === k + 1, col("__sum"))).over(all))
      .withColumn("est", col("__sum") - coalesce(col("__off"), lit(0L)))
      .filter(col("est") > 0)
      .select(col("key"), col("est"))
  }

  /** Store hygiene (the [[ActivityIngest.compactKeys]] convention):
    * rewrite both stores to their replay-dedup fixpoints through the
    * atomic swap — duplicate deliveries and append-file fragmentation
    * collapse; epoch structure stays (see the no-cross-epoch-folding
    * note above).
    */
  def compact(spark: SparkSession, sketchDir: String,
              totalsDir: String): Unit = {
    Stores.compactDedup(spark, sketchDir, Seq("epoch_id", "key"))
    Stores.compactDedup(spark, totalsDir, Seq("epoch_id"))
  }
}
