package graft.streaming

import graft.ops.Kmv
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of [[graft.ops.Kmv]] — a running per-slice distinct
  * sketch over an unbounded stream, queryable at any time for distinct
  * estimates and slice overlaps.
  *
  * Shape: each micro-batch reduces to its OWN k-minimum sketch (at most
  * k rows per slice seen in the batch) appended epoch-keyed. The
  * lifetime sketch re-selects the k smallest of the UNION of partials —
  * exact by the KMV merge property: every global k-minimum hash is
  * necessarily among its own batch's k minima (fewer than k hashes sit
  * below it globally, so fewer do in any subset). The streamed sketch
  * therefore equals the batch [[Kmv.sketch]] over everything ingested
  * BIT-FOR-BIT, not approximately (parity spec-pinned).
  *
  * Replay (at-least-once) safety: partials carry only (slice, h) value
  * rows — md5 hashes of batch content — and [[sketch]] starts from
  * DISTINCT (slice, h), a set union. Re-appending a replayed epoch's
  * rows is idempotent BY CONSTRUCTION (the `SubstrDedupIngest` min-set
  * argument); no epoch bookkeeping is even needed. [[compact]] rewrites
  * the partial store down to the current k-per-slice survivors through
  * the atomic swap — also a no-op semantically, also replay-safe,
  * because dropping non-minima can never change future minima.
  */
object KmvIngest {

  def start(rows: DataFrame, sliceCol: String, keyCol: String,
      sketchDir: String, checkpointDir: String, k: Int): StreamingQuery =
    Stores.start(rows, checkpointDir) { (batch, _) =>
      ingestBatch(batch, sliceCol, keyCol, sketchDir, k)
    }

  def ingestBatch(batch: DataFrame, sliceCol: String, keyCol: String,
      sketchDir: String, k: Int): Unit =
    Kmv.sketch(batch, sliceCol, keyCol, k)
      .select(col("slice"), col("h"))
      .write.mode("append").parquet(sketchDir)

  /** The lifetime sketch — (slice, pos, h), identical to the batch
    * [[Kmv.sketch]] over everything ingested.
    */
  def sketch(spark: SparkSession, sketchDir: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("slice")).orderBy(col("h"))
    spark.read.parquet(sketchDir)
      .select(col("slice"), col("h")).distinct()
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= k)
      .select(col("slice"), col("pos"), col("h"))
  }

  /** Compact the partial store to the current k-per-slice survivors
    * (atomic swap; readers never see a half-written state). Purely a
    * size optimization — [[sketch]] output is unchanged by construction.
    */
  def compact(spark: SparkSession, sketchDir: String, k: Int,
      numFiles: Int = 4): Unit =
    graft.pipeline.Pipeline.atomicOverwrite(spark,
      sketch(spark, sketchDir, k).select(col("slice"), col("h"))
        .repartition(numFiles),
      sketchDir)
}
