package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of [[graft.ops.MarketBasket]] — continuously
  * maintained frequent co-purchase pairs over a stream of completed
  * baskets.
  *
  * Contract: each basket arrives WHOLE within one micro-batch (the
  * "completed order" stream — an order is emitted when it closes, not
  * item-by-item). Under that contract the per-epoch partials compose
  * exactly: item supports and pair co-counts are both additive over
  * disjoint basket sets, so the merged report equals the batch
  * [[graft.ops.MarketBasket.frequentPairs]] over every basket ever
  * ingested, bit-for-bit (spec-pinned). A basket split across epochs
  * would undercount its cross-epoch pairs — that is a CONTRACT
  * violation, not a merge bug, and the doc says so loudly.
  *
  * Scale shape per epoch: the pair materialization is bounded by the
  * same `maxBasketSize` cap as the batch face (applied per epoch —
  * exact, because baskets are whole), and the downward-closure prune
  * deliberately does NOT run per epoch: an item infrequent in one
  * epoch may be frequent overall, so pruning is only sound at report
  * time. The batch face's prune is an optimization, not a semantic.
  *
  * Replay (at-least-once) safety: partials are deterministic functions
  * of batch content, appended epoch-keyed; [[report]] collapses
  * duplicates on (epoch_id, key) before summing — the `IvmIngest`
  * pattern.
  */
object BasketIngest {

  def start(rows: DataFrame, basketCol: String, itemCol: String,
      storeDir: String, checkpointDir: String,
      maxBasketSize: Int = 100000): StreamingQuery =
    Stores.start(rows, checkpointDir)(
      ingestBatch(_, basketCol, itemCol, storeDir, _, maxBasketSize))

  def ingestBatch(batch: DataFrame, basketCol: String, itemCol: String,
      storeDir: String, epochId: Long,
      maxBasketSize: Int = 100000): Unit = {
    val b = batch.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .filter(col("basket").isNotNull && col("item").isNotNull)
      .distinct()
    val sizes = b.groupBy(col("basket")).agg(count(lit(1)).as("basket_n"))
    val kept = b.join(sizes.filter(col("basket_n") <= maxBasketSize)
      .select("basket"), Seq("basket"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER) // feeds supports, pairs AND the basket count
    kept.groupBy(col("item")).agg(count(lit(1)).as("n"))
      .withColumn("epoch_id", lit(epochId))
      .write.mode("append").parquet(s"$storeDir/supports")
    kept.select(col("basket"), col("item").as("item_a"))
      .join(kept.select(col("basket"), col("item").as("item_b")),
        Seq("basket"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("co"))
      .withColumn("epoch_id", lit(epochId))
      .write.mode("append").parquet(s"$storeDir/pairs")
    // the loud cap audit, epoch-keyed like everything else
    sizes.filter(col("basket_n") > maxBasketSize)
      .withColumn("epoch_id", lit(epochId))
      .write.mode("append").parquet(s"$storeDir/capped")
  }

  /** The maintained frequent-pair relation —
    * `(item_a, item_b, n_a, n_b, co_n)`, identical to the batch
    * `frequentPairs` over everything ingested (closure prune applied
    * here, at report time, where it is sound).
    */
  def report(spark: SparkSession, storeDir: String,
      minSupport: Long): DataFrame = {
    val support = spark.read.parquet(s"$storeDir/supports")
      .dropDuplicates("epoch_id", "item")
      .groupBy(col("item")).agg(sum(col("n")).as("n"))
    val freq = support.filter(col("n") >= minSupport)
    spark.read.parquet(s"$storeDir/pairs")
      .dropDuplicates("epoch_id", "item_a", "item_b")
      .groupBy(col("item_a"), col("item_b")).agg(sum(col("co")).as("co_n"))
      .filter(col("co_n") >= minSupport)
      .join(broadcast(freq.select(col("item").as("item_a"),
        col("n").as("n_a"))), Seq("item_a"))
      .join(broadcast(freq.select(col("item").as("item_b"),
        col("n").as("n_b"))), Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"),
        col("co_n"))
  }

  /** Collapse physical replay duplicates in both stores (epochs stay
    * separate — the [[IvmIngest]] rule). [[report]] is unchanged.
    */
  def compact(spark: SparkSession, storeDir: String,
      numFiles: Int = 4): Unit = {
    Stores.compactDedup(spark, s"$storeDir/supports",
      Seq("epoch_id", "item"), numFiles)
    Stores.compactDedup(spark, s"$storeDir/pairs",
      Seq("epoch_id", "item_a", "item_b"), numFiles)
  }
}
