package graft.streaming

import graft.ops.EntityResolution
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming entity resolution: the streaming face of the exact
  * edit-distance join ([[graft.ops.EntityResolution]]), same
  * batch-vs-persistent-index shape as [[NearDupIngest]]. Each
  * micro-batch of (id, string) records is segment-indexed, probed
  * against the ACCUMULATED index (new-vs-old) plus itself
  * (new-vs-new), verified pairs appended; then the batch's own segment
  * rows join the index. Every unordered pair within distance `d` is
  * emitted exactly once per delivery: same-batch pairs by the
  * id-ordered self-join, cross-batch pairs when the later record
  * probes the earlier one's index rows.
  *
  * The index is [[graft.ops.EntityResolution.indexSegments]]'s
  * relation; the store contract is in [[Stores]]. Replay: pair rows are
  * immutable facts keyed by the unordered id pair, so [[pairs]]
  * normalizes and dedups on read; duplicate INDEX rows only duplicate
  * candidates (killed by the same dedup), never fabricate a pair —
  * levenshtein verification runs on every candidate regardless.
  */
object ErIngest {

  def start(records: DataFrame, indexDir: String, pairsDir: String,
            checkpointDir: String, idCol: String, strCol: String,
            d: Int, maxBucketSize: Int = 0): StreamingQuery =
    Stores.start(records, checkpointDir) { (batch, _) =>
      ingestBatch(batch, indexDir, pairsDir, idCol, strCol, d,
        maxBucketSize)
    }

  /** One ingest step (also directly usable from a batch scheduler). */
  def ingestBatch(batch: DataFrame, indexDir: String, pairsDir: String,
                  idCol: String, strCol: String, d: Int,
                  maxBucketSize: Int = 0): Unit = {
    val recs = batch.select(col(idCol), col(strCol))
    Stores.probeAndAppend(
        EntityResolution.indexSegments(recs, idCol, strCol, d),
        indexDir, pairsDir) { (iOld, _) =>
      val cross = EntityResolution
        .editDistanceJoinIndexed(iOld, recs, idCol, strCol, d, maxBucketSize)
        // a REPLAYED record finds its own earlier index rows — the one
        // way at-least-once delivery could fabricate a pair (id, id, 0);
        // ids are unique per record, so dropping self-matches is exact
        .filter(col(idCol) =!= col("index_id"))
        .select(col(idCol).as("id_a"), col("index_id").as("id_b"),
          col("dist"))
      cross.unionByName(EntityResolution
        .editDistanceSelfJoin(recs, idCol, strCol, d, maxBucketSize))
    }
  }

  /** The accumulated verified pairs, normalized to id_a < id_b and
    * replay-deduped — equal to the batch
    * [[graft.ops.EntityResolution.editDistanceSelfJoin]] over everything
    * ingested so far.
    */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame =
    spark.read.parquet(pairsDir)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("dist"))
      .dropDuplicates("id_a", "id_b")

  /** Rewrite both stores to their read-side replay-dedup fixpoints
    * ([[Stores.compactDedup]]); reads before and after see the same
    * relations.
    */
  def compact(spark: SparkSession, indexDir: String,
              pairsDir: String): Unit = {
    // one segment row per (record, position); dist is deterministic per
    // pair, so the raw-orientation key is exact
    Stores.compactDedup(spark, indexDir, Seq("index_id", "i"))
    Stores.compactDedup(spark, pairsDir, Seq("id_a", "id_b"))
  }

}
