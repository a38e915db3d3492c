package graft.pipeline

import graft.metrics.EtlMetrics
import graft.ops.{Aggregations, Cleaning, Quality}
import graft.sources.{BrewerySource, Extractor, IteratorBrewerySource}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The 4-stage medallion driver with REAL materialization — the Spark
  * re-expression of the reference's Airflow DAG
  * (airflow/dags/brewery_pipeline.py:32-56):
  *
  *   extract (landing JSON pages) -> bronze (overwrite parquet)
  *   -> silver (partitionBy location, overwrite; quarantine APPEND)
  *   -> gold (two aggregate tables).
  *
  * Stage boundaries are files on disk, like the reference (XCom only ever
  * carried paths). Writes use atomic overwrite (temp dir + rename,
  * reference helpers.py:363-417 — Delta's only feature actually exercised).
  *
  * Scale notes (100 TB):
  *  - The F1 split is computed from the MATERIALIZED bronze table: the
  *    expensive upstream work (extract + source joins) runs exactly once;
  *    the silver and quarantine sinks are two pushdown-filtered scans of
  *    columnar bronze (complementary predicates), not two recomputations
  *    of the source plan (fixes the round-1 double-compute).
  *  - The silver partition key `location` is country-dominant-skewed;
  *    `maxRecordsPerFile` bounds file sizes and AQE handles the shuffle
  *    skew. A salting suffix (location=XX/part=N) is the escape hatch if a
  *    single partition exceeds a task's write throughput — not needed at
  *    fixture scale.
  *  - Quarantine accumulates ACROSS runs (reference bronze_to_silver
  *    .py:191's append) but each run owns a `run=<runTag>` subdir written
  *    with atomic overwrite: a retried stage rewrites its own subdir
  *    instead of double-appending, so every stage body below is
  *    idempotent and safe to wrap in [[retry]] (which all four are —
  *    reference brewery_pipeline.py:18-19 retries per task). Callers
  *    wanting cross-run accumulation pass distinct runTags; the
  *    partition-discovery read of the quarantine root unions them.
  */
object Pipeline {

  final case class Layout(root: String) {
    val landing = s"$root/landing"
    val bronze = s"$root/bronze"
    val silver = s"$root/silver"
    val quarantine = s"$root/quarantine"
    def gold(name: String) = s"$root/gold/$name"
  }

  final case class RunResult(
      landingFiles: Int, bronzeRows: Long, bronzeBytes: Long,
      silverRows: Long, quarantineRows: Long, goldRows: Map[String, Long])

  /** Per-stage retry wrapper (reference brewery_pipeline.py:18-19:
    * retries=3, 5-min delay; delay injectable for tests).
    */
  def retry[T](attempts: Int, delayMillis: Long = 0,
               sleeper: Long => Unit = Thread.sleep)(body: => T): T = {
    var n = 0
    while (true) {
      try return body
      catch {
        case e: Throwable =>
          n += 1
          if (n >= attempts) throw e
          if (delayMillis > 0) sleeper(delayMillis)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Atomic overwrite: write to a temp sibling, rename the old table
    * ASIDE, rename the new one in, then drop the old (reference
    * helpers.py:363-417). A crash at any point leaves either the old or
    * the new COMPLETE table recoverable — the previous committed data is
    * never deleted before its replacement is in place. (Append sinks like
    * quarantine keep plain append mode — schema evolution across versions
    * is the caller's concern there.)
    */
  /** Right-to-be-forgotten purge: rewrite the parquet table at `path`
    * dropping every row whose value in ANY of `idCols` appears in
    * `ids` (single column, any name), through the crash-safe atomic
    * swap. Returns the number of rows removed. The anti joins
    * broadcast the purge list — a purge request is user-sized, never
    * corpus-sized — so the rewrite is one scan of the table. A
    * missing/empty table purges zero rows (idempotent by nature:
    * purging twice is the same rewrite).
    */
  def purgeIds(spark: SparkSession, path: String, ids: DataFrame,
               idCols: Seq[String], numFiles: Int = 0): Long = {
    require(idCols.nonEmpty, "purgeIds needs at least one id column")
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new HPath(path))) return 0L
    val purge = org.apache.spark.sql.functions.broadcast(
      ids.toDF("__purge_id").distinct().localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val before = spark.read.parquet(path).localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val keep = idCols.foldLeft(before) { (d, c) =>
      d.join(purge, d(c) === org.apache.spark.sql.functions.col("__purge_id"), "left_anti")
    }
    val kept = if (numFiles > 0) keep.repartition(numFiles) else keep
    val nBefore = before.count()
    atomicOverwrite(spark, kept, path)
    nBefore - spark.read.parquet(path).count()
  }

  /** Recursive non-hidden data-file listing of a store directory —
    * the generation snapshot [[atomicOverwrite]]'s concurrent-append
    * guard diffs. Hidden (`.`/`_`-prefixed) components are skipped the
    * same way Hadoop's listing filter hides them from readers.
    */
  private[graft] def listDataFiles(fs: FileSystem,
                                   dest: HPath): Set[String] = {
    if (!fs.exists(dest)) return Set.empty
    val root = fs.makeQualified(dest)
    val out = scala.collection.mutable.Set.empty[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next().getPath
      // hidden if any component BELOW the store root is ./_-prefixed
      // (partition dirs may nest); the root's own name is exempt
      val hidden = Iterator.iterate(f)(_.getParent)
        .takeWhile(p => p != null && p != root)
        .exists(p => p.getName.startsWith(".") || p.getName.startsWith("_"))
      if (!hidden && f.getName.endsWith(".parquet")) out += f.toString
    }
    out.toSet
  }

  /** The pre-swap half of the concurrent-append guard: files present
    * under `dest` now but absent from the `before` snapshot were
    * appended by a live writer while the replacement table was being
    * computed — the swap would silently delete them. Abort loudly
    * instead (the old generation stays fully intact). Factored out so
    * the guard is unit-testable without staging a real race.
    */
  private[graft] def guardConcurrentAppends(fs: FileSystem, dest: HPath,
                                            before: Set[String],
                                            path: String): Unit = {
    val extras = listDataFiles(fs, dest) -- before
    if (extras.nonEmpty)
      throw new IllegalStateException(
        s"[graft] atomicOverwrite($path): ${extras.size} data file(s) " +
          "were appended to the store while the replacement table was " +
          "being written (e.g. " + extras.head + ") — a live ingest is " +
          "still running. Swapping now would silently delete those " +
          "rows, so the overwrite is ABORTED and the store left " +
          "untouched; quiesce the ingest (stop the StreamingQuery) " +
          "before compacting.")
  }

  private def stashOf(dest: HPath): HPath =
    new HPath(dest.getParent, "." + dest.getName + ".__old")

  /** Undo a swap interrupted between its two renames: when `dest` is
    * missing and its stash sibling exists, the stash holds the last
    * committed generation, so it is renamed back. Called from the store's
    * write paths, under the quiesce contract below.
    */
  private[graft] def restoreInterruptedSwap(fs: FileSystem,
                                            dest: HPath): Unit = {
    val old = stashOf(dest)
    if (!fs.exists(dest) && fs.exists(old))
      require(fs.rename(old, dest), s"restore of stashed $dest failed")
  }

  /** Crash-safe full-table replacement via tmp-write + rename.
    *
    * Concurrency contract: writers must be QUIESCED for the duration —
    * an overwrite is a statement about the whole table, meaningless
    * under concurrent appends. The guard below enforces the common
    * violation (a live streaming ingest appending during a compact):
    * the dest listing is snapshotted before the replacement is
    * computed and re-checked immediately before the swap; any file
    * that appeared in between aborts the swap with the old generation
    * intact. Residual exposure is the rename itself (microseconds) vs
    * the minutes-long tmp write — not a substitute for quiescing, but
    * it turns the silent-data-loss case into a loud error.
    */
  def atomicOverwrite(spark: SparkSession, df: DataFrame, path: String,
                      partitionBy: Seq[String] = Nil,
                      maxRecordsPerFile: Long = 5000000): Unit = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dest = new HPath(path)
    // dot-prefixed siblings: Hadoop's hidden-file filter excludes them
    // from every listing/partition-discovery read, so a crash between the
    // tmp write and the swap can never surface a half table (or a phantom
    // `run=<tag>.__tmp` partition under an appended root) to readers
    val tmp = new HPath(dest.getParent, "." + dest.getName + ".__tmp")
    val old = stashOf(dest)
    restoreInterruptedSwap(fs, dest)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    val beforeWrite = listDataFiles(fs, dest)
    val w = df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(tmp.toString)
    try guardConcurrentAppends(fs, dest, beforeWrite, path)
    catch { case e: Throwable => fs.delete(tmp, true); throw e }
    val hadPrev = fs.exists(dest)
    if (hadPrev) require(fs.rename(dest, old), s"stash of previous $path failed")
    require(fs.rename(tmp, dest), s"atomic swap failed for $path")
    if (hadPrev) fs.delete(old, true)
    // drop every cache that references the swapped path — file-listing
    // indexes AND persisted plans built over the old files (CacheManager
    // matches plans structurally, so a post-swap read of the same path
    // would otherwise be served a cached relation whose unmaterialized
    // partitions point at the deleted generation; surfaced by the r19
    // compact-face specs as FAILED_READ_FILE.FILE_NOT_EXIST)
    spark.catalog.refreshByPath(path)
  }

  /** Small-files compaction — the maintenance job every long-lived
    * 100 TB table needs: streaming/incremental appends accumulate
    * thousands of KB-sized parquet files whose per-file open/footer
    * cost eventually dominates scans. Rewrites the table to
    * `numFiles` files per partition-or-table through the same
    * crash-safe [[atomicOverwrite]] swap — readers see the old or the
    * new COMPLETE table, never a half-compacted mix. Content is
    * byte-identical by construction (a pure repartition, no
    * column/row change).
    */
  def compact(spark: SparkSession, path: String, numFiles: Int,
              partitionBy: Seq[String] = Nil,
              mergeSchema: Boolean = false): Unit = {
    // mergeSchema for tables whose appended generations evolved the
    // schema: a single-footer read could silently drop a late column
    // from the ENTIRE rewritten table — the one way compaction can
    // destroy data
    val df = spark.read.option("mergeSchema", mergeSchema.toString)
      .parquet(path)
    val laid =
      if (partitionBy.nonEmpty)
        df.repartition(numFiles, partitionBy.map(org.apache.spark.sql
          .functions.col): _*)
      else df.repartition(numFiles)
    atomicOverwrite(spark, laid, path, partitionBy)
  }

  /** Partition-scoped UPSERT — the parquet-lake answer to MERGE INTO
    * for a day/shard-partitioned table: only the partitions the updates
    * actually touch are rewritten (each through its own crash-safe
    * [[atomicOverwrite]] swap); every other partition's files are left
    * PHYSICALLY untouched. At 100 TB this is the difference between a
    * maintenance job proportional to the day's changes and one
    * proportional to the table. Update rows replace current rows on
    * `keyCols` within their partition; new partition values create new
    * directories. The affected-partition list is `collect`ed — it is
    * change-sized (days touched), never table-sized.
    */
  def upsertPartitioned(spark: SparkSession, path: String,
                        updates: DataFrame, keyCols: Seq[String],
                        partitionCol: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val affected = updates.select(col(partitionCol)).distinct()
      .collect().map(_.get(0))
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    affected.foreach { pv =>
      val pdir = s"$path/$partitionCol=$pv"
      val up = updates.filter(col(partitionCol) === lit(pv))
        .drop(partitionCol)
      val merged =
        if (fs.exists(new HPath(pdir))) {
          val cur = spark.read.parquet(pdir)
          cur.join(up.select(keyCols.map(col): _*), keyCols, "left_anti")
            .unionByName(up)
        } else up
      // materialize BEFORE the swap: the merged plan reads the very
      // files the overwrite replaces
      atomicOverwrite(spark, merged.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER), pdir)
    }
  }

  /** Partition-scoped DELETE — targeted row purge (the GDPR/right-to-be-
    * forgotten maintenance job): partitions containing matches are
    * rewritten without the matching rows; all other partitions' files
    * are left physically untouched. Affected partitions are found
    * through a partition-pruned scan when `predicate` constrains
    * `partitionCol`, a full scan of the predicate columns otherwise.
    */
  def deleteWherePartitioned(spark: SparkSession, path: String,
                             predicate: org.apache.spark.sql.Column,
                             partitionCol: String): Unit = {
    import org.apache.spark.sql.functions.col
    val affected = spark.read.parquet(path).filter(predicate)
      .select(col(partitionCol)).distinct().collect().map(_.get(0))
    affected.foreach { pv =>
      val pdir = s"$path/$partitionCol=$pv"
      // the partition-dir read has no partition column; re-attach it so
      // the predicate (which may reference it) evaluates correctly
      val cur = spark.read.parquet(pdir)
        .withColumn(partitionCol,
          org.apache.spark.sql.functions.lit(pv))
      val kept = cur.filter(!predicate).drop(partitionCol)
      atomicOverwrite(spark, kept.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER), pdir)
    }
  }

  /** Full run against the driver fixtures: the fixture source replays the
    * bronze-shaped rows as paginated JSON (offline stand-in for the REST
    * connector — swap in [[graft.sources.HttpBrewerySource]] online).
    * Pages stream through `toLocalIterator` — driver memory is
    * page-bounded, never the whole corpus (a retry restarts the iterator).
    */
  def run(spark: SparkSession, sfDir: String, outRoot: String,
          metrics: EtlMetrics = EtlMetrics.quiet(),
          perPage: Int = 200, csvGold: Boolean = false,
          runTag: String = "batch0"): RunResult = {
    val lay = Layout(outRoot)
    val sourceDf = Breweries.bronze(spark, sfDir)
    val source = new IteratorBrewerySource(() => {
      import scala.jdk.CollectionConverters._
      sourceDf.toJSON.toLocalIterator().asScala
    })
    run(spark, source, sourceDf.schema, lay, metrics, perPage, csvGold,
      runTag, retryDelayMillis = 0)
  }

  def run(spark: SparkSession, source: BrewerySource,
          schema: org.apache.spark.sql.types.StructType, lay: Layout,
          metrics: EtlMetrics, perPage: Int,
          csvGold: Boolean, runTag: String,
          retryDelayMillis: Long): RunResult = {

    // Metric discipline under retry: `timed` stays INSIDE the retry so
    // every attempt records its status + duration (the reference's
    // per-attempt ETLMetricsContext semantics); DATA metrics (records /
    // bytes / gauges / page counts) are emitted once, AFTER the stage's
    // retry boundary, so a failed-then-retried attempt can never
    // double-count them.
    def stage[T](body: => T): T = retry(3, retryDelayMillis)(body)

    // Stage 1 — extract: driver-side paginated fetch into the landing zone.
    // Idempotent under retry: extract() wipes the landing dir first and a
    // page-1 fetch resets sequential sources.
    val files = stage { metrics.timed("extract_brewery_data") {
      Extractor.extract(source, lay.landing, perPage, batchTag = "fixture")
    }}
    metrics.incCounter("brewery_etl_extract_pages_total", by = files.size.toDouble)

    // Stage 2 — landing -> bronze: union-all of page files (schema-on-read),
    // ingestion metadata, overwrite write, read-back verification (S10).
    val (bronzeRows, bronzeBytes, bronzeFields) = stage { metrics.timed("landing_to_bronze") {
      // FAILFAST: the reference raises on an unreadable/corrupt landing
      // file (landing_to_bronze.py:146-154) rather than skipping it.
      // (Its `finally` also bumps the failure counter on every file —
      // a reference bug we deliberately do not replicate.)
      val landing = spark.read.schema(schema)
        .option("multiLine", true).option("mode", "FAILFAST")
        .json(lay.landing)
      val bronze = Cleaning.withIngestionMetadata(
        landing, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
      atomicOverwrite(spark, bronze, lay.bronze)
      val (rows, bytes) = Extractor.readBack(spark, lay.bronze)
      (rows, bytes, bronze.schema.fields.length)
    }}
    metrics.setGauge("brewery_etl_transform_schema_fields_count",
      bronzeFields.toDouble)
    metrics.recordsProcessed("landing_to_bronze", bronzeRows)
    metrics.bytesProcessed("landing_to_bronze", bronzeBytes)

    // Stage 3 — bronze -> silver + quarantine: ONE materialized input, two
    // complementary pushdown-filtered sinks. Executor-side input metrics
    // recorded alongside the dir-size gauge.
    val (silverRows, quarantineRows, silverParts) = stage { metrics.timed("bronze_to_silver") {
      graft.metrics.SparkIoMetrics.measure(spark, metrics, "bronze_to_silver") {
      val bronze = spark.read.parquet(lay.bronze)
      Quality.requireColumns(bronze, Breweries.KeyFields)
      val (cleaned, quarantine) = Breweries.silverSplit(bronze)
      // per-run subdir + atomic overwrite: cross-run APPEND semantics via
      // distinct runTags, but a RETRY of this stage rewrites instead of
      // double-appending
      atomicOverwrite(spark, quarantine, s"${lay.quarantine}/run=$runTag")
      atomicOverwrite(spark, cleaned, lay.silver, partitionBy = Seq("location"))
      val sRows = spark.read.parquet(lay.silver).count()
      val qRows = spark.read.parquet(lay.quarantine).count()
      val parts = spark.read.parquet(lay.silver)
        .select("location").distinct().count()
      (sRows, qRows, parts)
      }
    }}
    metrics.recordsProcessed("bronze_to_silver", silverRows)
    metrics.setGauge("brewery_etl_silver_partitions_count", silverParts.toDouble)
    metrics.incCounter("brewery_etl_records_discarded_total",
      Map("operation" -> "bronze_to_silver"), quarantineRows.toDouble)

    // Stage 4 — silver -> gold: the two reference aggregations, one
    // partial+final hash-agg each over the partitioned silver table.
    // csvGold also writes header'd CSV next to the parquet (the reference
    // README documents CSV gold outputs its code never wrote — offered
    // behind a flag, SURVEY §3).
    val goldRows = stage { metrics.timed("silver_to_gold") {
      val silver = spark.read.parquet(lay.silver)
      val aggs = Map(
        "by_type_location" -> Aggregations.goldByTypeLocation(silver),
        "by_location" -> Aggregations.goldByLocation(silver))
      aggs.map { case (name, df) =>
        atomicOverwrite(spark, df, lay.gold(name))
        if (csvGold)
          df.coalesce(1).write.mode("overwrite").option("header", true)
            .csv(lay.gold(name) + "_csv")
        name -> spark.read.parquet(lay.gold(name)).count()
      }
    }}
    goldRows.foreach { case (name, n) =>
      metrics.recordsProcessed(s"gold_$name", n)
    }

    RunResult(files.size, bronzeRows, bronzeBytes, silverRows,
      quarantineRows, goldRows)
  }
}
