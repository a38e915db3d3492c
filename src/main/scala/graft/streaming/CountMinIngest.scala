package graft.streaming

import graft.ops.CountMin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of [[graft.ops.CountMin]] — a running frequency
  * sketch over an unbounded stream, queryable at any time for any key.
  *
  * Shape: each micro-batch reduces to its OWN sketch (at most
  * depth*width cells, usually far fewer) appended epoch-keyed; the
  * lifetime sketch is the cell-wise SUM of per-epoch partials — CMS
  * merge is plain counter addition, so composition is exact, not an
  * approximation of an approximation. The stream's estimate for a key
  * equals the batch build over everything ingested (parity by
  * construction, spec-pinned).
  *
  * Replay (at-least-once) safety: a replayed epoch re-appends the SAME
  * deterministic (epoch, row, bucket, cnt) cells (md5 buckets over the
  * same batch content); [[sketch]] dedups on (epoch_id, row_i, bucket)
  * before summing, so counters can never inflate. No cross-epoch
  * folding (the `ActivityIngest` double-count trap): state is
  * cells-per-epoch, bounded by depth*width each.
  */
object CountMinIngest {

  def start(rows: DataFrame, keyCol: String, sketchDir: String,
      checkpointDir: String, width: Int = CountMin.DefaultWidth,
      depth: Int = CountMin.DefaultDepth): StreamingQuery =
    Stores.start(rows, checkpointDir)(
      ingestBatch(_, keyCol, sketchDir, _, width, depth))

  def ingestBatch(batch: DataFrame, keyCol: String, sketchDir: String,
      epochId: Long, width: Int = CountMin.DefaultWidth,
      depth: Int = CountMin.DefaultDepth): Unit =
    CountMin.build(batch, keyCol, width, depth)
      .withColumn("epoch_id", lit(epochId))
      .write.mode("append").parquet(sketchDir)

  /** The lifetime sketch: replay-deduped cell-wise sum of every epoch's
    * partial — pass it straight to [[CountMin.estimate]].
    */
  def sketch(spark: SparkSession, sketchDir: String): DataFrame =
    spark.read.parquet(sketchDir)
      .dropDuplicates("epoch_id", "row_i", "bucket")
      .groupBy(col("row_i"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Store hygiene (the [[ActivityIngest.compactKeys]] convention):
    * rewrite the store to its replay-dedup fixpoint — one row per
    * (epoch, cell) — through the atomic swap, collapsing duplicate
    * deliveries and the one-file-per-append fragmentation. Epoch
    * structure is PRESERVED: folding epochs into one synthetic partial
    * would double-count any of them replayed after the fold (the
    * ActivityIngest trap — additive counts are not idempotent, unlike
    * the per-key maxima [[SeqPatternIngest.compact]] folds), so the
    * row count stays O(epochs × cells) with cells ≤ depth×width;
    * a full fold would need a write-side epoch watermark, a different
    * ingest contract.
    */
  def compact(spark: SparkSession, sketchDir: String): Unit =
    Stores.compactDedup(spark, sketchDir, Seq("epoch_id", "row_i", "bucket"))
}
