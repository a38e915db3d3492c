package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of EPOCH-AWARE mixture sampling
  * ([[graft.ops.Dedup.weightedSampleWithEpochs]]) — the last sampler
  * without batch/streaming symmetry. The rate table is computed ONCE in
  * batch from a reference corpus ([[graft.ops.Dedup.temperatureMixEpochRates]])
  * and persisted; each document micro-batch joins the re-read
  * (domain-count-sized, broadcast) rates and appends its epoch-exploded
  * copies to the mixed corpus — the batch-vs-stored-artifact
  * shape of [[NearDupIngest]] / [[DeconIngest]] / [[ScoringIngest]].
  *
  * Per-document copy count is a pure function of (group pct, md5(id)) —
  * no cross-document state — so micro-batched output equals the batch
  * operator on the union EXACTLY, for any batch boundaries (spec-pinned).
  * Re-mixing under new rates just overwrites `ratesDir`; the next batch
  * picks the new mixture up, no stream restart.
  *
  * Replay ([[Stores]] has the delivery contract): replays append
  * duplicate (id, epoch) rows, which readers dedup when exactness
  * matters.
  */
object MixIngest {

  def start(docs: DataFrame, ratesDir: String, outDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            groupCol: String = "source"): StreamingQuery =
    Stores.start(docs, checkpointDir) { (batch, _) =>
      ingestBatch(batch, ratesDir, outDir, idCol, groupCol)
    }

  def ingestBatch(batch: DataFrame, ratesDir: String, outDir: String,
                  idCol: String, groupCol: String): Unit = {
    val rates = batch.sparkSession.read.parquet(ratesDir)
    Dedup.weightedSampleWithEpochs(batch, idCol, groupCol, rates)
      .write.mode("append").parquet(outDir)
  }
  /** Store hygiene (the family-wide compact face): rewrite the mixed
    * corpus to one row per (id, epoch) — the documented reader dedup
    * key — through the atomic swap, collapsing replayed deliveries and
    * append-file fragmentation.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, outDir: String,
              idCol: String = "doc_id"): Unit =
    Stores.compactDedup(spark, outDir, Seq(idCol, "epoch"))

}
