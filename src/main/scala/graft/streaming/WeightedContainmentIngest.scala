package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the EXACT WEIGHTED containment join
  * ([[graft.ops.Dedup.weightedContainmentPairs]]) — the multiset
  * sibling of [[ContainmentIngest]]: repetition must be COVERED, not
  * just present, so a templated-spam page streaming in is flagged only
  * when its repeated boilerplate weight is matched. Each micro-batch
  * runs [[graft.ops.Dedup.weightedContainmentIncremental]] against the
  * accumulated document store (both blocking legs: containment is
  * direction-sensitive and either side of a cross pair can be the
  * contained one) and appends the verified pairs; then the batch's
  * documents join the store.
  *
  * State and replay arguments are [[WeightedSetSimIngest]]'s: plain
  * (id, text) store, [[pairs]] dedups on read, replay-proof verify
  * (one weight row / weight sum per document inside the incremental
  * operator).
  */
object WeightedContainmentIngest {

  def start(docs: DataFrame, indexDir: String, pairsDir: String,
            checkpointDir: String, idCol: String, textCol: String,
            threshold: Double, k: Int = 1,
            maxBucketSize: Int = 0): StreamingQuery =
    Stores.start(docs, checkpointDir) { (batch, _) =>
      ingestBatch(batch, indexDir, pairsDir, idCol, textCol, threshold,
        k, maxBucketSize)
    }

  /** One ingest step (also directly usable from a batch scheduler). */
  def ingestBatch(batch: DataFrame, indexDir: String, pairsDir: String,
                  idCol: String, textCol: String, threshold: Double,
                  k: Int = 1, maxBucketSize: Int = 0): Unit =
    // store schema normalized to (doc_id, text) — the QuoteIngest
    // convention, so purge's doc_id key matches ANY caller idCol
    Stores.probeAndAppend(
        batch.select(col(idCol).as("doc_id"), col(textCol).as("text")),
        indexDir, pairsDir) { (old, recs) =>
      Dedup.weightedContainmentIncremental(old, recs, "doc_id", threshold,
        "text", k, maxBucketSize)
    }

  /** The accumulated verified pairs, replay-deduped — equal to the
    * batch [[graft.ops.Dedup.weightedContainmentPairs]] over everything
    * ingested so far.
    */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir)
      .dropDuplicates("doc_a", "doc_b")

  /** Right-to-be-forgotten over both stores (document store by doc_id,
    * pairs by either side), each rewritten through the atomic swap.
    * Returns rows removed per path.
    */
  def purge(spark: SparkSession, ids: DataFrame, indexDir: String,
            pairsDir: String): Map[String, Long] =
    NearDupIngest.purge(spark, ids,
      pairsDirs = Seq(pairsDir), docsDirs = Seq(indexDir))

  /** Rewrite both stores to their read-side replay-dedup fixpoints
    * ([[Stores.compactDedup]]); reads before and after see the same
    * relations.
    */
  def compact(spark: SparkSession, indexDir: String,
              pairsDir: String): Unit = {
    Stores.compactDedup(spark, indexDir, Seq("doc_id"))
    Stores.compactDedup(spark, pairsDir, Seq("doc_a", "doc_b"))
  }

}
