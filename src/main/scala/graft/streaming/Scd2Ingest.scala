package graft.streaming

import graft.ops.Dimensions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** CDC-stream maintenance of an SCD2 dimension history — change events
  * stream in, the versioned history table on disk stays queryable
  * (current state, any [[graft.ops.Dimensions.snapshotAt]] instant,
  * fact enrichment via [[graft.ops.Dimensions.temporalJoin]]) at every
  * micro-batch boundary.
  *
  * Shape: each micro-batch reads the persistent history, applies the
  * batch through [[graft.ops.Dimensions.scd2ApplyIdempotent]] (replayed
  * changes are dropped BY CONSTRUCTION — at-least-once delivery can
  * never double-close a row) and rewrites through the crash-safe atomic
  * swap, so readers always see a complete consistent history. The
  * rewrite is dimension-sized — dimensions are small next to facts; a
  * huge dimension pairs this with partition-scoped rewriting on a
  * key-hash column.
  */
object Scd2Ingest {

  def start(changes: DataFrame, historyDir: String, checkpointDir: String,
            keyCols: Seq[String], tsCol: String): StreamingQuery =
    Stores.start(changes, checkpointDir) { (batch, _) =>
      ingestBatch(batch, historyDir, keyCols, tsCol)
    }

  def ingestBatch(batch: DataFrame, historyDir: String,
                  keyCols: Seq[String], tsCol: String): Unit = {
    // bootstrap = the same apply against an empty history, so the
    // in-batch latest-wins collapse holds from the very first batch
    val history = Stores.read(historyDir, batch
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lit(null).cast(batch.schema(tsCol).dataType))
      .drop(tsCol))
    val next = Dimensions.scd2ApplyIdempotent(history, batch, keyCols, tsCol)
    // materialize BEFORE the swap: the plan reads the files it replaces
    graft.pipeline.Pipeline.atomicOverwrite(batch.sparkSession,
      next.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER), historyDir)
  }

  def history(spark: SparkSession, historyDir: String): DataFrame =
    spark.read.parquet(historyDir)
}
