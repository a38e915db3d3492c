package graft.streaming

import graft.ops.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming line-level deduplication: the ingestion-time face of
  * [[graft.ops.TextAnalysis.lineDedup]] (the C4/RefinedWeb boilerplate
  * rule). A PERSISTENT line-frequency index (an ordinary parquet table
  * of (epoch_id, line, n_docs) partials, append-grown per micro-batch)
  * carries the corpus's line history; each batch first contributes its
  * own per-doc-distinct line counts, then is cleaned against the
  * CUMULATIVE index and appended to the release corpus.
  *
  * Semantics are PREFIX semantics, stated honestly: a line is stripped
  * from a document iff the line has reached `minDocs` distinct documents
  * among everything ingested UP TO AND INCLUDING that document's batch.
  * Frequency-based dedup is inherently retrospective — copies of a
  * footer released before it crossed the threshold are already
  * published; the periodic [[republish]] pass (the same indexed operator
  * over the accumulated corpus) converges the release to EXACT batch
  * parity, which is what LineDedupIngestSpec pins.
  *
  * Scale posture: per batch, one map-side distinct-line pass + one
  * (epoch, line, partial)-row append (no text shuffles into the index),
  * one re-aggregation of the index's partials, and a shuffled anti-join
  * of the batch's lines — the frequent-line set is corpus-scale under
  * heavy boilerplate, so nothing is collected or broadcast
  * ([[graft.ops.TextAnalysis.lineDedupIndexed]]'s posture). Per-batch
  * cost grows only with the index's distinct-line count, compacted by
  * [[compactLineIndex]].
  *
  * Replay ([[Stores]] has the delivery contract): index appends are
  * IDEMPOTENT — partials are keyed by the micro-batch epoch, a retried
  * epoch re-derives byte-identical (epoch_id, line, n_docs) rows, and
  * every read path ([[readLineIndex]]) collapses duplicate
  * (epoch_id, line) rows before summing — so a replay never inflates a
  * line's count past the batch-exact frequency. The release table is
  * keyed by document id; [[republish]] over the raw archive then
  * reproduces the batch operator exactly.
  */
object LineDedupIngest {

  /** Append `batch`'s per-doc-distinct line counts to the index, keyed
    * by the micro-batch epoch. A replayed epoch re-appends identical
    * rows, which [[readLineIndex]] drops — the idempotence hinge.
    */
  def updateLineIndex(batch: DataFrame, indexDir: String, epochId: Long,
                      textCol: String = "text"): Unit =
    TextAnalysis.lineDocCounts(batch, textCol)
      .withColumn("epoch_id", lit(epochId))
      .write.mode("append").parquet(indexDir)

  /** Cumulative (line, n_docs) frequencies from the partial index,
    * idempotent under at-least-once replay: duplicate (epoch_id, line)
    * partials — the signature of a retried epoch — collapse to one row
    * before the per-epoch partials are summed. Shuffles only
    * (epoch, line, count) rows, never text.
    */
  def readLineIndex(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(indexDir)
      .dropDuplicates("epoch_id", "line")
      .groupBy(col("line")).agg(sum(col("n_docs")).as("n_docs"))

  /** Start the ingest: each micro-batch updates the line index, then
    * appends its cleaned rows (`idCol`, `clean_text`) to `cleanDir`.
    */
  def start(docs: DataFrame, indexDir: String, cleanDir: String,
            checkpointDir: String, minDocs: Long,
            idCol: String = "doc_id", textCol: String = "text")
      : StreamingQuery =
    Stores.start(docs, checkpointDir)(
      ingestBatch(_, indexDir, cleanDir, minDocs, idCol, textCol, _))

  /** One ingest step (also directly usable from a batch scheduler):
    * contribute the batch's counts under its epoch, clean it against the
    * cumulative index, append the survivors. Re-running the same
    * (batch, epochId) — the at-least-once retry — leaves the index
    * counts unchanged.
    */
  def ingestBatch(batch: DataFrame, indexDir: String, cleanDir: String,
                  minDocs: Long, idCol: String, textCol: String,
                  epochId: Long): Unit = {
    updateLineIndex(batch, indexDir, epochId, textCol)
    val counts = readLineIndex(batch.sparkSession, indexDir)
    TextAnalysis.lineDedupIndexed(batch, counts, idCol, textCol, minDocs)
      .write.mode("append").parquet(cleanDir)
  }

  /** Retrospective republish: re-clean an accumulated RAW corpus against
    * the full (replay-deduplicated) index — the convergence pass that
    * removes boilerplate released before it crossed the threshold. Run
    * periodically (like index compaction), or over `corpus` = the raw
    * ingest archive when the release must exactly match the batch
    * operator.
    */
  def republish(corpus: DataFrame, indexDir: String, minDocs: Long,
                idCol: String = "doc_id", textCol: String = "text")
      : DataFrame =
    TextAnalysis.lineDedupIndexed(corpus,
      readLineIndex(corpus.sparkSession, indexDir), idCol, textCol, minDocs)

  /** Compact the append-grown partial counts (thousands of micro-appends
    * → `numFiles`, one row per line under the sentinel epoch -1). Same
    * atomic-swap contract as [[NearDupIngest.compactTable]]; run it only
    * over COMMITTED epochs (stream quiesced, or between batches) — a
    * retry of an epoch folded into the sentinel row would re-append
    * partials the sentinel can no longer deduplicate against.
    */
  def compactLineIndex(spark: SparkSession, indexDir: String,
                       numFiles: Int): Unit =
    graft.pipeline.Pipeline.atomicOverwrite(spark,
      readLineIndex(spark, indexDir)
        .withColumn("epoch_id", lit(-1L))
        .select("line", "n_docs", "epoch_id")
        .repartition(numFiles),
      indexDir)
}
