package graft.streaming

import graft.pipeline.Pipeline
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

/** How every streaming ingest talks to its stores — the one copy of the
  * contract each `*Ingest` family relies on. A family is its operator
  * call, its store keys and its own replay argument on top of this.
  *
  *  - '''Start.''' [[start]] runs the family's batch step under
  *    `foreachBatch` with a checkpoint directory. There is no Spark
  *    streaming state: every store is an ordinary parquet directory
  *    (at production scale, a transactional table format), so state is
  *    storage-bounded, survives restarts, and is shared with the batch
  *    operators that produce the same relations.
  *  - '''Materialize first.''' A batch relation that feeds several
  *    writes is persisted and counted BEFORE any store read
  *    ([[materialized]]): the batch is computed once, serially, and the
  *    store read cannot race or observe the batch's own appends.
  *  - '''Append order.''' Derived rows (pairs, audit, release rows) are
  *    appended before the index ([[probeAndAppend]]): a batch that dies
  *    between the two is replayed against an index that does not hold
  *    it yet, so nothing it should have paired with is skipped.
  *  - '''Release.''' The persisted batch is unpersisted in `finally`, so
  *    a failed batch leaves nothing cached behind its query's restart.
  *  - '''Dedup on read.''' `foreachBatch` is at-least-once for plain-file
  *    sinks: a retried batch appends its rows again. Every store's reads
  *    therefore drop duplicates by the store's keys — content keys for
  *    immutable facts (pairs, documents, index rows), (epoch_id, key)
  *    for additive per-epoch partials, so a replayed epoch counts once.
  *    A transactional sink upgrades this to exactly-once without
  *    touching the logic.
  *  - '''Compaction''' ([[compactDedup]] for the read-side dedup
  *    fixpoint, [[rewrite]] for a family's own fold) rewrites a store
  *    through [[graft.pipeline.Pipeline.atomicOverwrite]], and runs only
  *    while the store's query is STOPPED: rows a live ingest appends
  *    between the read and the swap belong to the old generation, and
  *    the swap-time guard aborts loudly (store untouched) rather than
  *    lose them. Compacting a never-written store does nothing.
  *  - '''Never written''' reads as a typed empty relation ([[read]]).
  *    A store whose last swap was interrupted between its two renames
  *    is restored first; the ingest and compaction that do so are the
  *    store's single writer under the quiesce contract above.
  */
private[streaming] object Stores {

  /** Start `rows` as a stream whose every micro-batch runs
    * `f(batch, epochId)`.
    */
  def start(rows: DataFrame, checkpointDir: String)
           (f: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .foreachBatch { (batch: Dataset[Row], epoch: Long) => f(batch, epoch) }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Number of parquet files directly under `dir` (0 when missing). */
  def parquetFiles(spark: SparkSession, dir: String): Int = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Whether `dir` holds at least one parquet file — has this store ever
    * been written?
    */
  def hasParquet(spark: SparkSession, dir: String): Boolean =
    parquetFiles(spark, dir) > 0

  /** [[hasParquet]], after restoring a generation an interrupted swap
    * left stashed.
    */
  private def written(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    Pipeline.restoreInterruptedSwap(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    hasParquet(spark, dir)
  }

  /** The store at `dir`, or an empty relation with `like`'s schema when
    * the store has never been written (a first batch probes nothing).
    * Restores an interrupted swap first, so it belongs on ingest paths,
    * not on concurrent report reads.
    */
  def read(dir: String, like: DataFrame): DataFrame = {
    val spark = like.sparkSession
    if (written(spark, dir)) spark.read.parquet(dir) else like.limit(0)
  }

  /** Persist and materialize `rel`, run `body` over it, and release it
    * whether or not `body` succeeds.
    */
  def materialized[A](rel: DataFrame)(body: DataFrame => A): A = {
    val fresh = rel.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      fresh.count()
      body(fresh)
    } finally fresh.unpersist()
  }

  /** The index-probe step: materialize the batch's index rows, append
    * `probe(storedIndex, batchIndex)` to `pairsDir`, then each of
    * `alsoAppend` to its store, then the batch's rows to `indexDir`.
    */
  def probeAndAppend(batchIndex: DataFrame, indexDir: String,
                     pairsDir: String, alsoAppend: (DataFrame, String)*)
                    (probe: (DataFrame, DataFrame) => DataFrame): Unit =
    materialized(batchIndex) { fresh =>
      probe(read(indexDir, fresh), fresh)
        .write.mode("append").parquet(pairsDir)
      alsoAppend.foreach { case (rows, dir) =>
        rows.write.mode("append").parquet(dir)
      }
      fresh.write.mode("append").parquet(indexDir)
    }

  /** Rewrite the store at `dir` to `shape(store)` through the atomic
    * swap; a never-written store is left alone. Returns whether it ran.
    */
  def rewrite(spark: SparkSession, dir: String)
             (shape: DataFrame => DataFrame): Boolean = {
    val ran = written(spark, dir)
    if (ran)
      Pipeline.atomicOverwrite(spark, shape(spark.read.parquet(dir)), dir)
    ran
  }

  /** Rewrite `dir` to its read-side replay-dedup fixpoint — one row per
    * `keys` tuple, in `numFiles` files when positive. Exact for stores
    * whose reads already drop duplicates by `keys`; collapses replayed
    * deliveries and the one-file-per-append fragmentation.
    */
  def compactDedup(spark: SparkSession, dir: String, keys: Seq[String],
                   numFiles: Int = 0): Unit =
    rewrite(spark, dir) { t =>
      val deduped = t.dropDuplicates(keys)
      if (numFiles > 0) deduped.repartition(numFiles) else deduped
    }
}
