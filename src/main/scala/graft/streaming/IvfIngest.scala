package graft.streaming

import graft.ops.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming index maintenance for the IVF ANN family
  * ([[graft.ops.Similarity.ivfTopKIndexed]]): a production vector-search
  * deployment trains its quantizer once, then ingests embeddings
  * forever — new vectors are ASSIGNED to the frozen codebook (map-side
  * broadcast argmax, corpus touched once per batch) and appended to the
  * stored index; serving reads the accumulated index with
  * corpus-independent per-query cost, exactly as the batch surface
  * does. No retraining on the hot path: codebook drift is a MONITORED
  * property ([[balanceAudit]] — when new data stops fitting the frozen
  * cells, occupancy skew says so and a retrain + reassign is an offline
  * decision), which is how IVF deployments actually run.
  *
  * Replay ([[Stores]] has the delivery contract): assignment is
  * deterministic (frozen codebook, id-ordered ties), so a replayed
  * vector appends a bit-identical index row and [[index]] dedups on
  * vec_id. Purge drops a vector from the stored index through the
  * atomic swap; re-ingesting a copy later is indistinguishable from a
  * first ingest.
  */
object IvfIngest {

  def start(vectors: DataFrame, codebookDir: String, indexDir: String,
            checkpointDir: String): StreamingQuery =
    Stores.start(vectors, checkpointDir) { (batch, _) =>
      ingestBatch(batch, codebookDir, indexDir)
    }

  /** Freeze a trained codebook `(vec_id, embedding)` as the
    * deployment's quantizer (atomic overwrite — a crash mid-write never
    * surfaces a half codebook). Train it with
    * [[graft.ops.Similarity.kmeansTrain]] or any (id, vector) relation.
    */
  def freezeCodebook(codebook: DataFrame, codebookDir: String): Unit =
    graft.pipeline.Pipeline.atomicOverwrite(codebook.sparkSession,
      codebook.select(col("vec_id"), col("embedding")), codebookDir)

  /** One ingest step (also directly usable from a batch scheduler).
    * Input columns: vec_id, embedding. Fails loudly when no codebook
    * has been frozen — assigning against nothing would silently build
    * an unsearchable index.
    */
  def ingestBatch(batch: DataFrame, codebookDir: String,
                  indexDir: String): Unit = {
    val spark = batch.sparkSession
    require(Stores.hasParquet(spark, codebookDir),
      s"IvfIngest: no frozen codebook at $codebookDir — call " +
        "freezeCodebook(trainedCentroids, dir) before ingesting")
    Stores.materialized(batch.select(col("vec_id"), col("embedding"))) {
      recs =>
        Similarity.ivfAssign(recs, spark.read.parquet(codebookDir))
          .write.mode("append").parquet(indexDir)
    }
  }

  /** The accumulated assignment index, replay-deduped — row-identical
    * to [[graft.ops.Similarity.ivfAssign]] over everything ingested
    * (assignment against the frozen codebook is deterministic, so
    * duplicate deliveries append bit-identical rows).
    */
  def index(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(indexDir).dropDuplicates("vec_id")

  /** Serve top-k queries from the accumulated index — the batch
    * [[graft.ops.Similarity.ivfTopKIndexed]] surface over the streaming
    * store; per-query cost rides nprobe cells, never the corpus.
    */
  def serve(spark: SparkSession, codebookDir: String, indexDir: String,
            queries: DataFrame, nprobe: Int, k: Int): DataFrame =
    Similarity.ivfTopKIndexed(index(spark, indexDir),
      spark.read.parquet(codebookDir), queries, nprobe, k)

  /** Codebook-drift monitor: per-cell occupancy of the accumulated
    * index plus the skew summary a retrain decision reads — max/mean
    * occupancy ratio and the hottest cell's share. A frozen quantizer
    * serving drifted data shows up here as runaway skew (everything new
    * piles into a few cells), degrading probe selectivity long before
    * recall collapses.
    */
  def balanceAudit(spark: SparkSession, indexDir: String): DataFrame =
    occupancy(index(spark, indexDir))

  private def occupancy(index: DataFrame): DataFrame = {
    val occ = index
      .groupBy(col("centroid_id")).agg(count(lit(1)).as("n_vectors"))
    val tot = occ.agg(sum(col("n_vectors")).as("__n"),
      count(lit(1)).as("__cells"), max(col("n_vectors")).as("__max"))
    occ.crossJoin(broadcast(tot))
      .select(col("centroid_id"), col("n_vectors"),
        round(col("n_vectors").cast("double") / col("__n"), 6)
          .as("share"),
        round(col("__max").cast("double") * col("__cells") / col("__n"), 6)
          .as("skew_ratio"))
  }

  /** Right-to-be-forgotten: drop vectors from the stored index through
    * the atomic swap. Returns rows removed.
    */
  def purge(spark: SparkSession, vecIds: DataFrame,
            indexDir: String): Long =
    graft.pipeline.Pipeline.purgeIds(spark, indexDir, vecIds,
      Seq("vec_id"))

  /** Rewrite the index to its read-side fixpoint — one row per vec_id
    * ([[Stores.compactDedup]]). The store grows only by replayed
    * deliveries (assignment is deterministic, so duplicates are
    * bit-identical and [[index]] dedups them on read), so compaction
    * here is file/size hygiene, not a correctness dependency.
    */
  def compact(spark: SparkSession, indexDir: String): Unit =
    Stores.compactDedup(spark, indexDir, Seq("vec_id"))

  /** The retrain half of the drift loop — [[balanceAudit]] is the
    * SIGNAL (runaway occupancy skew says the frozen quantizer no
    * longer fits the ingested data), this is the MECHANISM: re-run
    * Lloyd ([[graft.ops.Similarity.kmeansTrain]]) over the stored
    * index's own vectors seeded from the CURRENT codebook, freeze the
    * result atomically, and rebuild the whole index against it through
    * the swap — after which [[serve]] is row-identical to batch
    * `ivfTopKWith` under the new codebook (spec-pinned).
    *
    * Audit-gated: when `minSkew > 1` the retrain only fires if the
    * index's current skew_ratio (max/mean cell occupancy) reaches it —
    * the scheduled-maintenance posture: call retrain on a timer, pay
    * the two table rewrites only when the audit says the quantizer
    * drifted. Returns true iff a retrain ran.
    *
    * Seeding is DATA-DRIVEN, not the stale codebook: Lloyd seeded at
    * the drifted centroids provably cannot split a hot cell (its
    * members are never attracted by the dead neighbors, so the skewed
    * fixpoint is stable — observed directly in the spec). Instead the
    * same k seeds are drawn evenly across the index's id order via a
    * distributed quantile sketch (`approxQuantile` — no global sort,
    * no collect of the corpus), which places seed mass where the DATA
    * is: a cell holding most of the corpus gets several seeds and
    * splits; duplicate/collapsed seeds die as standard Lloyd dead
    * centroids, so k never grows.
    *
    * Offline by design (the documented IVF deployment discipline): run
    * QUIESCED, like [[compact]] — the index vectors are snapshotted
    * eagerly before either swap, and `atomicOverwrite`'s append guard
    * aborts if a live writer races the rebuild. Scale posture: train
    * cost is maxIters broadcast-assign scans of the index (the corpus
    * is never self-joined), the codebook is driver-sized by definition,
    * and the rebuild is one more assign scan — all linear passes.
    */
  def retrain(spark: SparkSession, codebookDir: String, indexDir: String,
              maxIters: Int = 10, minSkew: Double = 0.0): Boolean = {
    require(Stores.hasParquet(spark, codebookDir),
      s"IvfIngest.retrain: no frozen codebook at $codebookDir")
    val codebook = spark.read.parquet(codebookDir)
    val stored = Stores.read(indexDir, Similarity.ivfAssign(codebook, codebook))
      .dropDuplicates("vec_id")
    // a never-written store, or one of empty parquet files (empty
    // micro-batches), gates off: max over zero cells is null, and
    // retraining from zero vectors would freeze an EMPTY codebook over
    // the real one
    val skewRow = occupancy(stored).agg(max(col("skew_ratio"))).head()
    if (skewRow.isNullAt(0)) return false
    if (skewRow.getDouble(0) < minSkew) return false
    // eager snapshot: both swaps below invalidate the stored files, so
    // the training relation must be materialized with its lineage cut
    // before either runs
    val vecs = stored.select(col("vec_id"), col("embedding"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val k = codebook.count().toInt
    // k seeds spread evenly over the id order: quantile cutpoints at
    // the BUCKET MIDPOINTS (i+0.5)/k from a sketch aggregate, then the
    // first vector at or past each cutpoint — two linear passes, no
    // global sort. Midpoint ranks keep each seed well inside its slice
    // of the id range, so a cutpoint landing a few ranks off (sketch
    // error) still seeds the same region; an empty slice just yields
    // one seed fewer, which Lloyd absorbs as a dead centroid.
    val cuts = vecs.stat.approxQuantile("vec_id",
      (0 until k).map(i => (i + 0.5) / k).toArray, 0.001)
    val bucket = cuts.foldLeft(lit(0))((acc, c) =>
      acc + when(col("vec_id") >= c, 1).otherwise(0))
    val seedIds = vecs.select(col("vec_id"), bucket.as("__b"))
      .filter(col("__b") >= 1)
      .groupBy(col("__b")).agg(min(col("vec_id")).as("vec_id"))
      .select(col("vec_id"))
    val seeds = vecs.join(seedIds, Seq("vec_id"), "left_semi")
    val cb = Similarity.kmeansTrain(vecs, seeds, maxIters)
    // Stage the NEW index generation fully (eager, lineage cut) BEFORE
    // either store swap (ADVICE r20): the two atomicOverwrites cannot be
    // made jointly atomic across directories, but materializing the
    // rebuilt index first shrinks the codebook/index mismatch window
    // from "a distributed ivfAssign job that can die or be aborted by
    // the append guard" to two back-to-back driver-side renames.
    // Contract for the residual window: a retrain that did not return
    // true must be RE-RUN TO COMPLETION before serving — serve() against
    // a half-swapped pair probes the wrong cells without a loud signal.
    val newIndex = Similarity.ivfAssign(vecs, cb).localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    freezeCodebook(cb, codebookDir)
    graft.pipeline.Pipeline.atomicOverwrite(spark, newIndex, indexDir)
    vecs.unpersist()
    true
  }

}
