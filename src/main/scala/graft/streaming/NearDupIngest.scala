package graft.streaming

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming near-dup ingestion: the streaming face of fuzzy dedup. Each
  * micro-batch of documents is MinHash-banded and LSH-joined against a
  * PERSISTENT band-index table (plus batch-internal), then appended to
  * that index — so the near-dup candidate set grows with the corpus while
  * every batch pays only O(batch x bucket density), never a corpus
  * self-join. This is [[Stores.probeAndAppend]] driving
  * [[graft.ops.Dedup.incrementalLshCandidates]]'s join shape with the
  * index side read from storage instead of recomputed.
  *
  * The index is [[graft.ops.Dedup.bandIndex]]'s relation (at production
  * scale: bucketed by `sig`); the store contract is in [[Stores]]. Replay:
  * candidate pairs are a SET (downstream verification dedups via
  * `distinct`, as [[graft.ops.Dedup.jaccardVerify]] already does), and
  * duplicate index rows only produce duplicate candidates, never wrong
  * ones.
  */
object NearDupIngest {

  /** Start the ingestion stream: `docs` must carry `idCol` + `textCol`.
    * Candidate pairs (doc_a, doc_b) are appended to `pairsDir`; the band
    * index accumulates in `indexDir`. `maxBucketSize` > 0 arms the
    * combined-count hot-bucket backstop per ingest (the streaming face of
    * the same hazard: a flood arriving over many micro-batches makes the
    * INDEX side of the bucket hot) — capped documents still enter the
    * index, they just skip candidate generation, loudly.
    */
  def start(docs: DataFrame, indexDir: String, pairsDir: String,
            checkpointDir: String, idCol: String = "doc_id",
            numHashes: Int = 16, bands: Int = 4,
            textCol: String = "text", k: Int = 3,
            maxBucketSize: Int = 0): StreamingQuery =
    Stores.start(docs, checkpointDir) { (batch, _) =>
      ingestBatch(batch, indexDir, pairsDir, idCol, numHashes, bands,
        textCol, k, maxBucketSize)
    }

  /** One ingest step (also directly usable from a batch scheduler): band
    * the batch, join new-vs-index and new-vs-new, append pairs, append
    * the batch's bands to the index.
    */
  def ingestBatch(batch: DataFrame, indexDir: String, pairsDir: String,
                  idCol: String, numHashes: Int, bands: Int,
                  textCol: String, k: Int, maxBucketSize: Int = 0): Unit =
    Stores.probeAndAppend(
        Dedup.bandIndex(batch, idCol, numHashes, bands, textCol, k),
        indexDir, pairsDir) { (bOld, bNew) =>
      Dedup.incrementalLshCandidatesIndexed(bOld, bNew, maxBucketSize)
    }

  /** Right-to-be-forgotten purge across a near-dup deployment's
    * persisted stores: drop every index row, pair row and stored
    * document referencing any of `ids` (a one-column relation of doc
    * ids), each store rewritten through the atomic swap
    * ([[graft.pipeline.Pipeline.purgeIds]]). After the purge the
    * stores are indistinguishable from a deployment that NEVER
    * ingested those documents: future batches cannot pair against
    * them, reports cannot mention them, and re-ingesting a copy of a
    * purged text is treated as brand new (spec-pinned). Returns rows
    * removed per store path.
    */
  def purge(spark: org.apache.spark.sql.SparkSession,
            ids: DataFrame,
            indexDirs: Seq[String] = Nil,
            pairsDirs: Seq[String] = Nil,
            docsDirs: Seq[String] = Nil): Map[String, Long] = {
    val byDoc = (indexDirs ++ docsDirs).map(d =>
      d -> graft.pipeline.Pipeline.purgeIds(spark, d, ids, Seq("doc_id")))
    val byPair = pairsDirs.map(d =>
      d -> graft.pipeline.Pipeline.purgeIds(spark, d, ids,
        Seq("doc_a", "doc_b")))
    (byDoc ++ byPair).toMap
  }

  /** Compact an append-grown table (band index, pairs, or document
    * store): every micro-batch appends its own small file set, so a
    * long-running ingest accumulates thousands of tiny files and each
    * batch's index read pays the listing + open cost. This rewrites the
    * table into `numFiles` files behind [[graft.pipeline.Pipeline]]'s
    * atomic swap (write to a dot-prefixed temp sibling — invisible to
    * readers — then rename), so a crash mid-compaction never surfaces a
    * half table ([[graft.pipeline.Pipeline.compact]]; run it only while
    * the ingest is stopped, per [[Stores]]). Returns (parquet files
    * before, after).
    */
  def compactTable(spark: org.apache.spark.sql.SparkSession, dir: String,
                   numFiles: Int): (Int, Int) = {
    val before = Stores.parquetFiles(spark, dir)
    if (before > 0) graft.pipeline.Pipeline.compact(spark, dir, numFiles)
    (before, Stores.parquetFiles(spark, dir))
  }


  /** Verified streaming ingestion: like [[start]], but the pipeline also
    * maintains a DOCUMENT store alongside the band index and
    * exact-Jaccard-verifies every batch's candidates against it, so what
    * lands in `verifiedDir` is (doc_a, doc_b, jaccard) at or above
    * `threshold` — the full two-phase fuzzy-dedup contract at ingestion
    * time, not just candidates. Verification cost per batch is
    * O(batch candidates), corpus-independent (the store is semi-joined
    * down to documents appearing in a candidate pair before shingling).
    */
  def startVerified(docs: DataFrame, indexDir: String, docsDir: String,
                    verifiedDir: String, checkpointDir: String,
                    threshold: Double, idCol: String = "doc_id",
                    numHashes: Int = 16, bands: Int = 4,
                    textCol: String = "text", k: Int = 3,
                    maxBucketSize: Int = 0): StreamingQuery =
    Stores.start(docs, checkpointDir) { (batch, _) =>
      ingestVerifiedBatch(batch, indexDir, docsDir, verifiedDir, threshold,
        idCol, numHashes, bands, textCol, k, maxBucketSize)
    }

  def ingestVerifiedBatch(batch: DataFrame, indexDir: String, docsDir: String,
                          verifiedDir: String, threshold: Double,
                          idCol: String, numHashes: Int, bands: Int,
                          textCol: String, k: Int,
                          maxBucketSize: Int = 0): Unit = {
    val batchDocs = batch.select(col(idCol), col(textCol))
    // documents land before the index, so every indexed id has its text
    try Stores.probeAndAppend(
        Dedup.bandIndex(batchDocs, idCol, numHashes, bands, textCol, k),
        indexDir, verifiedDir, batchDocs -> docsDir) { (bOld, bNew) =>
      val cand = Dedup.incrementalLshCandidatesIndexed(bOld, bNew,
        maxBucketSize)
      // the verification corpus = stored docs + this batch (not yet
      // written); jaccardVerify semi-joins it down to candidate members
      // before the shingle explode, so this union is never scanned in full
      val store = Stores.read(docsDir, batchDocs).unionByName(batchDocs)
      Dedup.jaccardVerify(store, cand, idCol, k, threshold, textCol)
    }
    finally batch.sparkSession.catalog.clearCache() // jaccardVerify's persists
  }

  // ---- SimHash family ----------------------------------------------------

  /** Streaming SimHash near-dup ingestion — same batch-vs-index
    * shape as [[start]], for the Hamming sketch family. The persisted
    * index rows ([[graft.ops.Dedup.simhashBandIndex]]) carry the full
    * sketch halves, so the batch-vs-index join emits VERIFIED pairs
    * (hamming <= maxHamming) directly, not just candidates.
    */
  def startSimhash(docs: DataFrame, indexDir: String, pairsDir: String,
                   checkpointDir: String, idCol: String = "doc_id",
                   textCol: String = "text", maxHamming: Int = 3,
                   maxBucketSize: Int = 0): StreamingQuery =
    Stores.start(docs, checkpointDir) { (batch, _) =>
      ingestSimhashBatch(batch, indexDir, pairsDir, idCol, textCol,
        maxHamming, maxBucketSize)
    }

  def ingestSimhashBatch(batch: DataFrame, indexDir: String, pairsDir: String,
                         idCol: String, textCol: String, maxHamming: Int,
                         maxBucketSize: Int = 0): Unit =
    Stores.probeAndAppend(
        Dedup.simhashBandIndex(Dedup.simhash(batch, idCol, textCol)),
        indexDir, pairsDir) { (bOld, bNew) =>
      Dedup.incrementalSimhashPairsIndexed(bOld, bNew, maxHamming,
        maxBucketSize)
    }

  // ---- Embedding family --------------------------------------------------

  /** Streaming embedding near-dup ingestion: each micro-batch of
    * (vec_id, embedding) rows is SRP-bucketed, cosine-verified against
    * the persisted [[graft.ops.Similarity.srpIndex]] (whose rows carry
    * embedding + norm, so verification is inline), and appended to it.
    */
  def startEmbedding(vecs: DataFrame, indexDir: String, pairsDir: String,
                     checkpointDir: String, planes: Int, dim: Int,
                     threshold: Double,
                     maxBucketSize: Int = 0): StreamingQuery =
    Stores.start(vecs, checkpointDir) { (batch, _) =>
      ingestEmbeddingBatch(batch, indexDir, pairsDir, planes, dim,
        threshold, maxBucketSize)
    }

  def ingestEmbeddingBatch(batch: DataFrame, indexDir: String,
                           pairsDir: String, planes: Int, dim: Int,
                           threshold: Double,
                           maxBucketSize: Int = 0): Unit =
    Stores.probeAndAppend(Similarity.srpIndex(batch, planes, dim),
        indexDir, pairsDir) { (bOld, bNew) =>
      Similarity.incrementalSrpNearDupIndexed(bOld, bNew, threshold,
        maxBucketSize)
    }

  // ---- Semantic (SemDeDup) family ------------------------------------

  /** Streaming SemDeDup ingestion: each micro-batch of
    * (vec_id, embedding) rows is assigned to its k-means cell under the
    * FROZEN `codebook` (the one the persisted
    * [[graft.ops.Similarity.semanticIndex]] was built with —
    * [[graft.ops.Similarity.kmeansTrain]] on the seed corpus, stored
    * alongside the index), cosine-verified against the index within its
    * cell, and appended to it. Same batch-vs-index shape as
    * [[startEmbedding]], with a learned data-dependent bucketer instead
    * of SRP hyperplanes: cell assignment is deterministic per row GIVEN
    * the codebook, which is why the codebook must stay frozen across
    * batches (re-training mid-stream would re-cell the already-indexed
    * corpus; periodic re-trains rebuild the index offline, standard IVF
    * maintenance).
    */
  def startSemantic(vecs: DataFrame, indexDir: String, pairsDir: String,
                    checkpointDir: String, codebook: DataFrame,
                    threshold: Double,
                    maxBucketSize: Int = 0): StreamingQuery =
    Stores.start(vecs, checkpointDir) { (batch, _) =>
      ingestSemanticBatch(batch, indexDir, pairsDir, codebook, threshold,
        maxBucketSize)
    }

  def ingestSemanticBatch(batch: DataFrame, indexDir: String,
                          pairsDir: String, codebook: DataFrame,
                          threshold: Double,
                          maxBucketSize: Int = 0): Unit =
    Stores.probeAndAppend(Similarity.semanticIndex(batch, codebook),
        indexDir, pairsDir) { (bOld, bNew) =>
      Similarity.incrementalSrpNearDupIndexed(bOld, bNew, threshold,
        maxBucketSize)
    }
}
