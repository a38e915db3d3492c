package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the release data card
  * ([[graft.ops.Corpus.dataCard]]) — the running per-(source, lang)
  * ingestion totals an intake dashboard reads while a crawl streams in.
  *
  * Shape: each micro-batch reduces to slice-keyed PARTIALS (docs,
  * char/token sums, length extremes — all mergeable aggregates) and
  * appends them to a persistent partials table KEYED BY EPOCH ID;
  * [[report]] re-aggregates the partials into the running card.
  *
  * Idempotency under at-least-once replay (the `LineDedupIngest`
  * lesson): a replayed epoch re-appends byte-identical partial rows —
  * additive counts would silently double. `report` therefore dedups
  * partials on (epoch_id, slice) before merging, which is exact because
  * a batch's partials are a deterministic function of its content.
  *
  * DISTINCT counts (`n_distinct_texts` / `dup_rate`) don't merge from
  * scalar partials — they need the KEY SETS. With a `keysDir`, each
  * epoch also appends its batch's distinct (slice, content-hash) rows;
  * `report` re-distincts them across epochs, so the streamed card
  * matches the batch card BIT-FOR-BIT, including under replay (a
  * replayed epoch re-appends the same keys; the distinct absorbs them —
  * idempotent BY CONSTRUCTION, the `SubstrDedupIngest` `(s, own)`
  * pattern). [[compactKeys]] periodically collapses the append-grown
  * duplicates to one row per (slice, hash). The key set is
  * corpus-sized — that is the honest floor for EXACT distinct counts;
  * it stores 16-byte hashes, not text, and never shuffles payloads.
  * Without a `keysDir` the card carries the mergeable columns only.
  */
object StatsIngest {

  def start(docs: DataFrame, statsDir: String, checkpointDir: String,
            sourceCol: String = "source", langCol: String = "lang",
            textCol: String = "text",
            keysDir: Option[String] = None): StreamingQuery =
    Stores.start(docs, checkpointDir)(
      ingestBatch(_, statsDir, _, sourceCol, langCol, textCol, keysDir))

  def ingestBatch(batch: DataFrame, statsDir: String, epochId: Long,
                  sourceCol: String, langCol: String, textCol: String,
                  keysDir: Option[String] = None): Unit = {
    graft.functions.GraftFunctions.register(batch.sparkSession)
    val lt = lower(col(textCol))
    batch.select(col(sourceCol), col(langCol),
        length(col(textCol)).cast("long").as("__chars"),
        size(call_function("graft_word_grams", lt, lit(1), lit(false),
          lit(true))).cast("long").as("__toks"))
      .groupBy(col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__chars")).as("sum_chars"),
        sum(col("__toks")).as("sum_toks"),
        min(col("__chars")).as("min_chars"),
        max(col("__chars")).as("max_chars"))
      .withColumn("epoch_id", lit(epochId))
      .write.mode("append").parquet(statsDir)
    keysDir.foreach { kd =>
      batch.select(col(sourceCol), col(langCol), md5(lt).as("h"))
        .distinct()
        .withColumn("epoch_id", lit(epochId))
        .write.mode("append").parquet(kd)
    }
  }

  /** Collapse the append-grown duplicate (slice, hash) keys to one row
    * each (min epoch as provenance) — run periodically, like any ingest
    * index compaction (same atomic-swap contract as
    * [[SubstrDedupIngest.compactIndex]]). Purely an amortization:
    * [[report]] is correct before and after.
    */
  def compactKeys(spark: SparkSession, keysDir: String,
                  sourceCol: String = "source", langCol: String = "lang",
                  numFiles: Int = 8): Unit =
    Stores.rewrite(spark, keysDir)(
      _.groupBy(col(sourceCol), col(langCol), col("h"))
        .agg(min(col("epoch_id")).as("epoch_id"))
        .repartition(numFiles))

  /** The running card from the persisted partials — safe to read at any
    * time, including mid-ingest. With `keysDir`, the FULL batch card
    * (distinct counts and dup rates included), bit-for-bit equal to
    * [[graft.ops.Corpus.dataCard]] over everything ingested.
    */
  def report(spark: SparkSession, statsDir: String,
             sourceCol: String = "source",
             langCol: String = "lang",
             keysDir: Option[String] = None): DataFrame = {
    val merged = spark.read.parquet(statsDir)
      .dropDuplicates("epoch_id", sourceCol, langCol)
      .groupBy(col(sourceCol), col(langCol))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_chars")).as("total_chars"),
        sum(col("sum_toks")).as("total_tokens"),
        min(col("min_chars")).as("min_chars"),
        max(col("max_chars")).as("max_chars"))
      .withColumn("avg_tokens",
        round(col("total_tokens").cast("double") / col("n_docs"), 6))
    keysDir match {
      case None => merged
      case Some(kd) =>
        val distincts = spark.read.parquet(kd)
          .select(col(sourceCol), col(langCol), col("h")).distinct()
          .groupBy(col(sourceCol), col(langCol))
          .agg(count(lit(1)).as("n_distinct_texts"))
        merged.join(distincts, Seq(sourceCol, langCol))
          .withColumn("dup_rate",
            round(lit(1.0) -
              col("n_distinct_texts").cast("double") / col("n_docs"), 6))
          .withColumn("token_share",
            round(col("total_tokens").cast("double") /
              sum(col("total_tokens")).over(Window.partitionBy()), 6))
          .select(col(sourceCol), col(langCol), col("n_docs"),
            col("n_distinct_texts"), col("total_chars"),
            col("total_tokens"), col("min_chars"), col("max_chars"),
            col("avg_tokens"), col("dup_rate"), col("token_share"))
    }
  }
}
