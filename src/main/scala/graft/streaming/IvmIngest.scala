package graft.streaming

import graft.ops.Ivm
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of [[graft.ops.Ivm]] — a continuously-maintained
  * materialized aggregate view. Each micro-batch reduces to its own
  * group-sized mergeable partials (n, exact-decimal sum, min, max),
  * appended epoch-keyed; [[view]] merges every epoch's partials and
  * derives the read-time columns — bit-for-bit equal to the batch
  * recompute over everything ingested (the `agg_incremental_merge`
  * contract, continuously).
  *
  * Replay (at-least-once) safety: a replayed epoch re-appends IDENTICAL
  * (epoch_id, group, n, sum_v, min_v, max_v) rows — the partials are
  * deterministic functions of the batch content — and [[view]] collapses
  * duplicates on (epoch_id, group) before merging, so sums can never
  * inflate (the `LineDedupIngest` epoch-keyed idempotence pattern;
  * unkeyed dedup would be wrong — two DIFFERENT epochs can
  * legitimately carry identical partial rows).
  *
  * State: epochs × groups partial rows. [[compact]] collapses physical
  * replay duplicates (one row per (epoch_id, group), atomic swap) but
  * deliberately does NOT fold across epochs — folding would break the
  * replay-dedup contract exactly the way `ActivityIngest` documents for
  * its count partials: a replayed pre-fold epoch would re-append rows
  * the fold absorbed, double-counting them.
  */
object IvmIngest {

  def start(rows: DataFrame, groupCols: Seq[String], valueCol: String,
      viewDir: String, checkpointDir: String): StreamingQuery =
    Stores.start(rows, checkpointDir)(
      ingestBatch(_, groupCols, valueCol, viewDir, _))

  def ingestBatch(batch: DataFrame, groupCols: Seq[String], valueCol: String,
      viewDir: String, epochId: Long): Unit =
    Ivm.partials(batch, groupCols, valueCol)
      .withColumn("epoch_id", lit(epochId))
      .write.mode("append").parquet(viewDir)

  /** The maintained view, replay-deduped then merged — identical to
    * `Ivm.readView(Ivm.partials(allRows))`.
    */
  def view(spark: SparkSession, viewDir: String,
      groupCols: Seq[String]): DataFrame =
    Ivm.readView(Ivm.merge(Seq(
      spark.read.parquet(viewDir)
        .dropDuplicates("epoch_id" +: groupCols)
        .drop("epoch_id")), groupCols))

  /** Collapse physical replay duplicates; epochs stay separate (see
    * class doc). Safe to run at any time — [[view]] is unchanged.
    */
  def compact(spark: SparkSession, viewDir: String,
      groupCols: Seq[String], numFiles: Int = 4): Unit =
    Stores.compactDedup(spark, viewDir, "epoch_id" +: groupCols, numFiles)
}
