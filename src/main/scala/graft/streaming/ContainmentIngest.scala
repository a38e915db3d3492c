package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the EXACT containment join
  * ([[graft.ops.Dedup.containmentSelfPairs]]) — the zero-false-negative
  * sibling of the anchor-blocked [[QuoteIngest]], same
  * batch-vs-persistent-index shape as [[SetSimIngest]]. Each
  * micro-batch runs [[graft.ops.Dedup.containmentIncremental]] against
  * the accumulated document store (which covers new-in-old, old-in-new
  * AND new-in-new — containment is direction-sensitive, so both
  * blocking legs matter) and appends the verified pairs; then the
  * batch's documents join the store.
  *
  * State posture ([[Stores]] has the store contract): the store is the
  * plain (id, text) document table —
  * what exact containment verification needs anyway; prefixes and the
  * vocabulary order are recomputed per ingest from the accumulated
  * corpus (any total order is lemma-valid; a production deployment
  * persisting prefix rows under a pinned order is the same operator
  * with a cheaper probe — the [[SetSimIngest]] contract).
  *
  * Replay: pair rows are immutable facts keyed by the unordered id
  * pair, so [[pairs]] dedups on read; the
  * (id, id) self-pair dies on id inequality inside the incremental
  * operator, and its verify reads one sorted-token row per document,
  * so a replay can never shift a pair's containment values.
  */
object ContainmentIngest {

  def start(docs: DataFrame, indexDir: String, pairsDir: String,
            checkpointDir: String, idCol: String, textCol: String,
            threshold: Double, k: Int = 3,
            maxBucketSize: Int = 0): StreamingQuery =
    Stores.start(docs, checkpointDir) { (batch, _) =>
      ingestBatch(batch, indexDir, pairsDir, idCol, textCol, threshold,
        k, maxBucketSize)
    }

  /** One ingest step (also directly usable from a batch scheduler). */
  def ingestBatch(batch: DataFrame, indexDir: String, pairsDir: String,
                  idCol: String, textCol: String, threshold: Double,
                  k: Int = 3, maxBucketSize: Int = 0): Unit =
    Stores.probeAndAppend(batch.select(col(idCol), col(textCol)),
        indexDir, pairsDir) { (old, recs) =>
      Dedup.containmentIncremental(old, recs, idCol, threshold, textCol,
        k, maxBucketSize)
    }

  /** The accumulated verified pairs, replay-deduped — equal to the
    * batch [[graft.ops.Dedup.containmentSelfPairs]] over everything
    * ingested so far.
    */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir)
      .dropDuplicates("doc_a", "doc_b")

  /** Rewrite both stores to their read-side replay-dedup fixpoints
    * ([[Stores.compactDedup]]); reads before and after see the same
    * relations.
    */
  def compact(spark: SparkSession, indexDir: String, pairsDir: String,
              idCol: String): Unit = {
    Stores.compactDedup(spark, indexDir, Seq(idCol))
    Stores.compactDedup(spark, pairsDir, Seq("doc_a", "doc_b"))
  }

}
