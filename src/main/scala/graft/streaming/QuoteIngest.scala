package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the quote/containment family (anchor blocking +
  * asymmetric containment verify — [[graft.ops.Dedup.anchorCandidatePairs]]
  * composed with [[graft.ops.Dedup.containmentPairs]]): the last dedup
  * family without an `*Ingest` counterpart before r17. Same
  * batch-vs-persistent-store shape as [[SetSimIngest]], with one
  * structural upgrade: the bottom-k ANCHOR relation is itself the
  * persisted index. A document's anchors are a pure per-document
  * artifact (bottom-`nAnchors` shingle hashes — they never change once
  * computed), so each micro-batch sketches only ITSELF and probes the
  * accumulated anchor store by hash equi-join; the corpus is never
  * re-shingled for blocking. Texts persist beside the anchors because
  * containment VERIFICATION needs the candidate documents' shingle
  * sets — candidate-sized work per batch (the semi-join inside
  * `containmentPairs` touches only candidate ids).
  *
  * Pair coverage: a true pair (u, v) shares an anchor hash. Both in
  * this batch → the batch-internal self leg; v new, u already indexed
  * → the batch-vs-index cross leg; both old → emitted when the later
  * of the two arrived. So [[pairs]] equals the batch composition over
  * everything ingested (QuoteIngestSpec pins stream-vs-batch parity).
  *
  * Replay ([[Stores]] has the delivery contract): a replayed document
  * appends duplicate anchor and text rows; duplicate anchors only
  * duplicate candidates (killed by the per-batch distinct and the read-side pair
  * dedup), the (id, id) self-pair dies on id inequality, and the
  * verify reads texts through dropDuplicates(doc_id) so a redelivered
  * text can never double-count shingle sets (the SetSimIngest replay
  * lesson). The hot-anchor cap is judged on COMBINED batch+index
  * membership per hash ([[graft.ops.Dedup.capBucketsPaired]]).
  *
  * Right-to-be-forgotten: [[purge]] rewrites all three stores through
  * the atomic swap; after it, future batches cannot pair against the
  * purged documents and a re-ingested copy is brand new.
  */
object QuoteIngest {

  def start(docs: DataFrame, anchorDir: String, docsDir: String,
            pairsDir: String, checkpointDir: String, idCol: String,
            textCol: String, nAnchors: Int, threshold: Double, k: Int = 3,
            maxBucketSize: Int = 0): StreamingQuery =
    Stores.start(docs, checkpointDir) { (batch, _) =>
      ingestBatch(batch, anchorDir, docsDir, pairsDir, idCol, textCol,
        nAnchors, threshold, k, maxBucketSize)
    }

  /** One ingest step (also directly usable from a batch scheduler). */
  def ingestBatch(batch: DataFrame, anchorDir: String, docsDir: String,
                  pairsDir: String, idCol: String, textCol: String,
                  nAnchors: Int, threshold: Double, k: Int = 3,
                  maxBucketSize: Int = 0): Unit =
    Stores.materialized(batch.select(col(idCol).as("doc_id"),
        col(textCol).as("text"))) { recs =>
      Stores.materialized(Dedup.docAnchors(recs, "doc_id", nAnchors, "text",
          k)) { newAnchors =>
        // replay-dedup the store read (ADVICE r17): under at-least-once
        // replay the anchor store holds duplicate (ah, doc_id) rows, which
        // would inflate capBucketsPaired's bucket counts — a bucket
        // genuinely under maxBucketSize could be dropped after a replay,
        // silently losing pairs relative to the documented batch parity.
        val oldAnchors = Stores.read(anchorDir, newAnchors)
          .dropDuplicates("ah", "doc_id")
        val (nA, oA) = Dedup.capBucketsPaired(newAnchors, oldAnchors,
          Seq("ah"), maxBucketSize, "QuoteIngest")
        val cross = nA.select(col("ah"), col("doc_id").as("na"))
          .join(oA.select(col("ah"), col("doc_id").as("nb")), Seq("ah"))
        val self = nA.select(col("ah"), col("doc_id").as("na"))
          .join(nA.select(col("ah"), col("doc_id").as("nb")), Seq("ah"))
          .filter(col("na") < col("nb"))
        val cand = cross.unionByName(self)
          .select(least(col("na"), col("nb")).as("doc_a"),
            greatest(col("na"), col("nb")).as("doc_b"))
          .filter(col("doc_a") =!= col("doc_b"))
          .distinct()
        // one text per id even under replay — duplicate rows would inflate
        // nothing (shingle sets are per-id distinct) but cost double work
        val allDocs = Stores.read(docsDir, recs).unionByName(recs)
          .dropDuplicates("doc_id")
        Dedup.containmentPairs(allDocs, cand, "doc_id", k, threshold, "text")
          .write.mode("append").parquet(pairsDir)
        newAnchors.write.mode("append").parquet(anchorDir)
        recs.write.mode("append").parquet(docsDir)
      }
    }

  /** The accumulated verified containment pairs, replay-deduped —
    * equal to the batch `containmentPairs(docs, anchorCandidatePairs(
    * docs, nAnchors), ...)` over everything ingested so far.
    */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir)
      .dropDuplicates("doc_a", "doc_b")

  /** Right-to-be-forgotten over all three stores (anchor index by
    * doc_id, document store by doc_id, pairs by either side), each
    * rewritten through the atomic swap. Returns rows removed per path.
    */
  def purge(spark: SparkSession, ids: DataFrame, anchorDir: String,
            docsDir: String, pairsDir: String): Map[String, Long] =
    NearDupIngest.purge(spark, ids,
      indexDirs = Seq(anchorDir), pairsDirs = Seq(pairsDir),
      docsDirs = Seq(docsDir))

  /** Store hygiene (the family-wide compact face): rewrite both stores
    * to their read-side replay-dedup fixpoints through the atomic swap
    * ([[Stores.compactDedup]]) — replayed deliveries and append-file
    * fragmentation collapse; reads before and after see the same
    * relations.
    */
  def compact(spark: SparkSession, pairsDir: String, anchorDir: String,
              docsDir: String): Unit = {
    Stores.compactDedup(spark, pairsDir, Seq("doc_a", "doc_b"))
    Stores.compactDedup(spark, anchorDir, Seq("ah", "doc_id"))
    Stores.compactDedup(spark, docsDir, Seq("doc_id"))
  }

}
