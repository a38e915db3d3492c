package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the EXACT set-similarity join
  * ([[graft.ops.Dedup.setSimilarityPairs]]) — the same
  * batch-vs-persistent-index shape as [[ErIngest]]. Each
  * micro-batch is joined against the ACCUMULATED document index
  * (new-vs-old, via [[graft.ops.Dedup.setSimilarityIncremental]], which
  * also covers new-vs-new) and the verified pairs appended; then the
  * batch's documents join the index. Every unordered pair with Jaccard
  * >= threshold is emitted at least once: same-batch pairs by the
  * incremental operator's self leg, cross-batch pairs when the later
  * document probes the earlier corpus.
  *
  * State posture: the index is the plain (id, text) document table,
  * what exact verification needs anyway ([[Stores]] has the store
  * contract);
  * prefixes and the vocabulary order are recomputed per ingest from the
  * accumulated corpus (any total order is lemma-valid, so an
  * implementation that PERSISTS prefix rows under a pinned order is the
  * same operator with a cheaper probe — the batch-mode
  * `setSimilarityIncremental` doc carries that contract).
  *
  * Replay: pair rows are immutable facts keyed by the unordered id
  * pair, so [[pairs]] dedups on read; a replayed
  * document probing its own earlier index copy would fabricate the
  * (id, id) self-pair, which the incremental operator already excludes
  * by id inequality, and duplicate index rows only duplicate candidates
  * (killed by the same dedup) — Jaccard verification runs on every
  * candidate regardless.
  */
object SetSimIngest {

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
      // a replayed record sits in BOTH relations; the old side would pair
      // it with itself — ids are unique per document, so the inequality
      // inside the incremental operator (doc_a != doc_b after the
      // least/greatest normalization) makes the exclusion exact
      Dedup.setSimilarityIncremental(old, recs, idCol, threshold, textCol,
        k, maxBucketSize)
    }

  /** The accumulated verified pairs, replay-deduped — equal to the
    * batch [[graft.ops.Dedup.setSimilarityPairs]] over everything
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
