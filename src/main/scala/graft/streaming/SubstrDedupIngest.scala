package graft.streaming

import graft.ops.TextAnalysis
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, min}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming exact-substring deduplication: the ingestion-time face of
  * [[graft.ops.TextAnalysis.substringDedup]] (Lee et al. w-token-window
  * family). A PERSISTENT window index — (s, own) rows: md5 window key
  * plus the MINIMUM doc id seen holding it, append-grown per
  * micro-batch — carries every window of every document ever ingested
  * (kept AND dropped: batch keep-first flags against all lower-id docs,
  * not just survivors, so the index must too). Each batch is cleaned
  * batch-vs-index plus batch-internal keep-first, then contributes its
  * own per-key min owners.
  *
  * Ordering contract (r13 verdict task 4 — upgraded from the key-set
  * index): carrying OWNERS lets every decision apply the batch
  * operator's actual lowest-id-wins rule instead of first-ingested-wins.
  * - Id-ordered ingestion EQUALS the batch operator exactly, as before.
  * - Arbitrary-order ingestion: each batch is judged against the lowest
  *   owner seen SO FAR (prefix semantics — a doc released before its
  *   lower-id twin arrived is already published; inherent to any
  *   retrospective rule), and the periodic [[republish]] pass over the
  *   raw ingest archive converges the release to EXACT batch parity for
  *   ANY ingestion order (SubstrDedupIngestSpec pins a shuffled-batch
  *   chain case). Same contract family as [[LineDedupIngest.republish]].
  *
  * Scale posture: per batch, one shingle pass over the batch only (the
  * ingested corpus is NEVER re-shingled — its windows are the stored
  * index), one aggregation of the index to per-key min owners (shuffle
  * on the fixed-width key), one join of batch windows against it, and a
  * batch-sized anti-join. The index grows with corpus token count;
  * [[compactIndex]] collapses the append duplicates. Delivery is
  * at-least-once (plain-file sinks): index appends are IDEMPOTENT by
  * construction — a replayed batch re-appends byte-identical (s, own)
  * rows and min() absorbs duplicates (no epoch keying needed, unlike
  * [[LineDedupIngest]]'s additive counts) — and duplicate clean rows
  * dedup on read by id, the house contract.
  */
object SubstrDedupIngest {

  private val indexSchema = StructType(Seq(
    StructField("s", StringType), StructField("own", LongType)))

  /** Append `batch`'s per-window-key min owner to the index. Replay-safe:
    * a retried batch appends identical rows; min-aggregation on read
    * collapses them.
    */
  def updateIndex(batch: DataFrame, indexDir: String, idCol: String,
                  textCol: String, w: Int): Unit =
    TextAnalysis.substringWindows(batch, idCol, textCol, w)
      .groupBy(col("s")).agg(min(col("doc_id")).as("own"))
      .write.mode("append").parquet(indexDir)

  /** Read the raw window index, empty-safe: the FIRST batch legitimately
    * starts with no index (unlike DeconIngest, where a missing benchmark
    * is a configuration error).
    */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    Stores.read(indexDir,
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], indexSchema))

  /** The cumulative per-key minimum owner — the relation every cleaning
    * decision joins against. Collapses append-grown duplicates (and
    * at-least-once replays) via min().
    */
  def readIndexOwners(spark: SparkSession, indexDir: String): DataFrame =
    readIndex(spark, indexDir)
      .groupBy(col("s")).agg(min(col("own")).as("own"))

  /** Start the ingest: cleaned rows append to `cleanDir`; every batch's
    * window owners extend the index at `indexDir`.
    */
  def start(docs: DataFrame, indexDir: String, cleanDir: String,
            checkpointDir: String, w: Int,
            idCol: String = "doc_id", textCol: String = "text")
      : StreamingQuery =
    Stores.start(docs, checkpointDir) { (batch, _) =>
      ingestBatch(batch, indexDir, cleanDir, w, idCol, textCol)
    }

  /** One ingest step (also directly usable from a batch scheduler).
    * The flagged set is eagerly materialized inside
    * [[TextAnalysis.substringDedupIndexedOwners]] BEFORE the index
    * append, so the batch never self-flags against its own contribution.
    */
  def ingestBatch(batch: DataFrame, indexDir: String, cleanDir: String,
                  w: Int, idCol: String, textCol: String): Unit = {
    val owners = readIndexOwners(batch.sparkSession, indexDir)
    TextAnalysis.substringDedupIndexedOwners(batch, owners, idCol, textCol, w)
      .write.mode("append").parquet(cleanDir)
    updateIndex(batch, indexDir, idCol, textCol, w)
  }

  /** Retrospective republish: re-clean an accumulated RAW corpus against
    * the full owner index — for `corpus` = the raw ingest archive this
    * reproduces [[TextAnalysis.substringDedup]] EXACTLY for ANY
    * ingestion order (the index then holds the true global min owner of
    * every window the corpus can produce). Run periodically, like index
    * compaction — the [[LineDedupIngest.republish]] convergence
    * contract.
    */
  def republish(corpus: DataFrame, indexDir: String, w: Int,
                idCol: String = "doc_id", textCol: String = "text")
      : DataFrame =
    TextAnalysis.substringDedupIndexedOwners(corpus,
      readIndexOwners(corpus.sparkSession, indexDir), idCol, textCol, w)

  /** Collapse the append-grown duplicate keys to one (s, min own) row
    * each (same atomic-swap contract as [[NearDupIngest.compactTable]]).
    */
  def compactIndex(spark: SparkSession, indexDir: String,
                   numFiles: Int): Unit =
    graft.pipeline.Pipeline.atomicOverwrite(spark,
      readIndexOwners(spark, indexDir).repartition(numFiles),
      indexDir)
}
