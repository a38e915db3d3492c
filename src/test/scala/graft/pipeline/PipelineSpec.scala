package graft.pipeline

import graft.SparkSpec
import graft.metrics.EtlMetrics
import graft.sources.IteratorBrewerySource
import java.nio.file.Files
import org.apache.spark.sql.types.{StringType, StructField, StructType}

class PipelineSpec extends SparkSpec {

  private val brewerySchema = StructType(Seq("id", "name", "brewery_type",
    "city", "state", "country", "website_url")
    .map(StructField(_, StringType)))

  /** `n` in-memory brewery rows as JSON; rows for which `invalid` holds
    * have a null `id` (a key field, so they go to quarantine).
    */
  private def breweryRows(n: Int, invalid: Int => Boolean): IteratorBrewerySource =
    new IteratorBrewerySource(() => Iterator.tabulate(n) { i =>
      val id = if (invalid(i)) "null" else s""""b$i""""
      s"""{"id":$id,"name":"Brew $i","brewery_type":"micro","city":"c${i % 5}",""" +
        s""""state":"s${i % 3}","country":"k${i % 4}","website_url":"brew$i.example"}"""
    })

  private def runOn(source: IteratorBrewerySource, out: String,
                    metrics: EtlMetrics, runTag: String): Pipeline.RunResult =
    Pipeline.run(spark, source, brewerySchema, Pipeline.Layout(out), metrics,
      perPage = 50, csvGold = false, runTag = runTag, retryDelayMillis = 0)

  test("full medallion run materializes every layer with conserved counts") {
    val out = Files.createTempDirectory("graft_pipe_").toString
    val metrics = EtlMetrics.quiet()
    val res = Pipeline.run(spark, sf0001, out, metrics)

    assert(res.landingFiles == 1) // 150 bronze rows, perPage 200
    assert(res.bronzeRows == 150 && res.bronzeBytes > 0)
    // conservation: silver + quarantine == bronze
    assert(res.silverRows + res.quarantineRows == res.bronzeRows)
    assert(res.goldRows("by_type_location") > 0)
    assert(res.goldRows("by_location") > 0)

    // silver is partitioned by location on disk (Hive-style dirs)
    val silverDirs = new java.io.File(s"$out/silver").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(silverDirs.nonEmpty && silverDirs.forall(_.startsWith("location=")))

    // gold read-back equals the in-memory aggregation
    val gold = spark.read.parquet(s"$out/gold/by_location")
    assert(gold.columns.toSet ==
      Set("location", "state", "city", "brewery_count"))

    // reference-compatible metric names were recorded
    val snap = metrics.snapshot()
    assert(snap.keys.exists(_.startsWith("brewery_etl_operations_total")))
    assert(snap.keys.exists(_.startsWith("brewery_etl_records_processed_total")))
    assert(metrics.durationCount("brewery_etl_processing_duration_seconds",
      Map("operation" -> "bronze_to_silver")) == 1)
    // executor-side input accounting captured real bytes through the stage
    assert(metrics.counter("brewery_etl_data_processed_bytes",
      Map("operation" -> "bronze_to_silver_input")) > 0)
  }

  test("csvGold flag writes header'd CSV alongside the parquet gold") {
    val out = Files.createTempDirectory("graft_pipe_").toString
    Pipeline.run(spark, sf0001, out, csvGold = true)
    val csv = spark.read.option("header", true)
      .csv(s"$out/gold/by_location_csv")
    assert(csv.columns.toSet == Set("location", "state", "city", "brewery_count"))
    assert(csv.count() == spark.read.parquet(s"$out/gold/by_location").count())
  }

  test("quarantine accumulates across runTags; a re-run of one tag is idempotent") {
    val out = Files.createTempDirectory("graft_pipe_").toString
    val r1 = Pipeline.run(spark, sf0001, out, runTag = "r1")
    val r2 = Pipeline.run(spark, sf0001, out, runTag = "r2")
    // cross-run accumulation (the reference's append semantics)
    assert(r2.silverRows == r1.silverRows)
    assert(r2.quarantineRows == 2 * r1.quarantineRows)
    // a RETRY of the same tag overwrites its own subdir: no double-append
    val r2again = Pipeline.run(spark, sf0001, out, runTag = "r2")
    assert(r2again.quarantineRows == r2.quarantineRows)
  }

  test("records_discarded_total adds only each run's own quarantine") {
    val out = Files.createTempDirectory("graft_pipe_").toString
    val metrics = EtlMetrics.quiet()
    val r1 = Pipeline.run(spark, sf0001, out, metrics, runTag = "r1")
    val r2 = Pipeline.run(spark, sf0001, out, metrics, runTag = "r2")
    // quarantineRows is cumulative across runTags, so q1 + q2 = r2's
    val q1 = r1.quarantineRows
    val q2 = r2.quarantineRows - r1.quarantineRows
    assert(q1 > 0 && q2 > 0)
    assert(metrics.counter("brewery_etl_records_discarded_total",
      Map("operation" -> "bronze_to_silver")) == (q1 + q2).toDouble)
  }

  test("atomic overwrite leaves no temp dir and swaps content completely") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_atomic_").toString + "/t"
    Pipeline.atomicOverwrite(spark, Seq(1, 2, 3).toDF("x"), path)
    Pipeline.atomicOverwrite(spark, Seq(9).toDF("x"), path)
    assert(spark.read.parquet(path).count() == 1)
    assert(!new java.io.File(path + ".__tmp").exists())
  }

  test("atomic overwrite aborts loudly when a live writer appends mid-rewrite") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)

    // guard unit faces: unchanged listing passes, an appended data file
    // trips it, hidden (./_-prefixed) siblings are invisible
    val p1 = Files.createTempDirectory("graft_guard_").toString + "/t"
    Seq(1, 2, 3).toDF("x").write.parquet(p1)
    val snap = Pipeline.listDataFiles(fs, new HPath(p1))
    assert(snap.nonEmpty && snap.forall(_.endsWith(".parquet")))
    Pipeline.guardConcurrentAppends(fs, new HPath(p1), snap, p1) // no-op
    val hiddenDir = new java.io.File(p1, ".t.__tmp"); hiddenDir.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(hiddenDir, "part-x.parquet").toPath, Array[Byte](1))
    Pipeline.guardConcurrentAppends(fs, new HPath(p1), snap, p1) // still
    Seq(4).toDF("x").write.mode("append").parquet(p1)
    val e = intercept[IllegalStateException](
      Pipeline.guardConcurrentAppends(fs, new HPath(p1), snap, p1))
    assert(e.getMessage.contains("quiesce"))

    // end-to-end: a replacement whose MATERIALIZATION drops a new file
    // into the store (the live-ingest-during-compact race) must abort
    // the swap with the old generation fully intact and no tmp debris
    val p2 = Files.createTempDirectory("graft_guard2_").toString + "/t"
    Seq(1, 2, 3).toDF("x").write.parquet(p2)
    val origFiles = new java.io.File(p2).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val racing = spark.read.parquet(p2).as[Int].map { x =>
      val f = new java.io.File(p2, s"zz_live_$x.parquet")
      if (!f.exists()) java.nio.file.Files.write(f.toPath, Array[Byte](1))
      x
    }.toDF("x")
    intercept[IllegalStateException](
      Pipeline.atomicOverwrite(spark, racing, p2))
    val after = new java.io.File(p2).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(origFiles.subsetOf(after), "old generation must stay intact")
    assert(!new java.io.File(p2 + ".__tmp").exists() &&
      !new java.io.File(new java.io.File(p2).getParent, ".t.__tmp")
        .exists(), "aborted swap must clean its tmp")
  }

  test("compact: small files collapse to the target count, content byte-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = Files.createTempDirectory("graft_compact_").toString + "/t"
    // 32 tiny appends — the streaming-ingest small-files shape
    (1 to 32).foreach(i =>
      Seq((i.toLong, s"row$i")).toDF("id", "v")
        .write.mode("append").parquet(path))
    def dataFiles() = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles() >= 32)
    val before = spark.read.parquet(path)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    Pipeline.compact(spark, path, numFiles = 4)
    assert(dataFiles() <= 4, s"still ${dataFiles()} files")
    val after = spark.read.parquet(path)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(after == before)
    // partitioned table: compaction preserves the directory layout
    val p2 = Files.createTempDirectory("graft_compact2_").toString + "/t"
    (1 to 16).foreach(i =>
      Seq((i.toLong, i % 2, s"row$i")).toDF("id", "part", "v")
        .write.mode("append").partitionBy("part").parquet(p2))
    Pipeline.compact(spark, p2, numFiles = 2, partitionBy = Seq("part"))
    val dirs = new java.io.File(p2).listFiles()
      .filter(_.getName.startsWith("part="))
    assert(dirs.length == 2)
    dirs.foreach(d => assert(
      d.listFiles().count(_.getName.endsWith(".parquet")) <= 2))
    assert(spark.read.parquet(p2).filter(col("part") === 1).count() == 8)
  }

  test("schema evolution: mergeSchema unifies appended generations, old rows null-extend") {
    import spark.implicits._
    // a long-lived ingest table: generation 2 adds a column — the
    // 100 TB reality where old files are never rewritten
    val path = Files.createTempDirectory("graft_evo_").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("append").parquet(path)
    Seq((3L, "c", 0.5)).toDF("id", "v", "score")
      .write.mode("append").parquet(path)
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.schema.fieldNames.toSet == Set("id", "v", "score"))
    val rows = merged.select("id", "v", "score")
      .as[(Long, String, Option[Double])].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(0.5))))
    // compaction of the evolved table goes through the merged schema
    // (plain read would resolve a single footer and could drop the
    // new column depending on file order — compact must not)
    Pipeline.compact(spark,  path, numFiles = 1,
      mergeSchema = true)
    val after = spark.read.parquet(path)
    assert(after.schema.fieldNames.toSet == Set("id", "v", "score"))
    assert(after.count() == 3)
  }

  test("upsert/delete rewrite ONLY the touched partitions, others physically untouched") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = Files.createTempDirectory("graft_maint_").toString + "/t"
    Seq((1L, 1, "a"), (2L, 1, "b"), (3L, 2, "c"), (4L, 3, "d"))
      .toDF("id", "day", "v")
      .write.partitionBy("day").parquet(path)
    def files(day: Int) = new java.io.File(s"$path/day=$day").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).sorted.toSeq
    val (d1Before, d3Before) = (files(1), files(3))

    // upsert: replace id=3 in day 2, add id=5 in brand-new day 4
    Pipeline.upsertPartitioned(spark, path,
      Seq((3L, 2, "c2"), (5L, 4, "e")).toDF("id", "day", "v"),
      keyCols = Seq("id"), partitionCol = "day")
    val afterUp = spark.read.parquet(path)
      .select("id", "day", "v").as[(Long, Int, String)]
      .collect().sortBy(_._1).toSeq
    assert(afterUp == Seq((1L, 1, "a"), (2L, 1, "b"), (3L, 2, "c2"),
      (4L, 3, "d"), (5L, 4, "e")))
    assert(files(1) == d1Before, "day 1 files must be untouched")
    assert(files(3) == d3Before, "day 3 files must be untouched")

    // delete: purge id=2 (lives in day 1) — day 3 still untouched
    Pipeline.deleteWherePartitioned(spark, path, col("id") === 2L, "day")
    val afterDel = spark.read.parquet(path)
      .select("id", "day", "v").as[(Long, Int, String)]
      .collect().sortBy(_._1).toSeq
    assert(afterDel == Seq((1L, 1, "a"), (3L, 2, "c2"),
      (4L, 3, "d"), (5L, 4, "e")))
    assert(files(3) == d3Before, "day 3 files must survive both ops")
    assert(files(1) != d1Before, "day 1 was rewritten by the delete")
  }

  test("retry wrapper: retries with delay then surfaces the final failure") {
    var tries = 0
    var sleeps = 0
    val got = Pipeline.retry(3, delayMillis = 5, sleeper = _ => sleeps += 1) {
      tries += 1
      if (tries < 3) throw new RuntimeException("boom") else 42
    }
    assert(got == 42 && tries == 3 && sleeps == 2)
    intercept[RuntimeException] {
      Pipeline.retry(2, 0, _ => ())(throw new RuntimeException("always"))
    }
  }

  test("listStatus walk lists the same data files as Hadoop's recursive listing") {
    import spark.implicits._
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val root = Files.createTempDirectory("graft_list_").toString + "/x"
    Seq((1, "a", 10), (2, "b", 20), (3, "a", 30)).toDF("v", "p", "q")
      .write.partitionBy("p", "q").parquet(root)
    // hidden siblings inside the table: a `_SUCCESS` marker (the write
    // left one too), an interrupted swap's tmp and stash, each holding
    // a parquet file a reader must not see
    Seq(s"$root/.x.__tmp", s"$root/.x.__old", s"$root/p=a/.x.__tmp")
      .foreach(d => Seq(9).toDF("v").write.parquet(d))
    Files.write(new java.io.File(s"$root/p=b/_SUCCESS").toPath, Array[Byte]())
    val qroot = fs.makeQualified(new HPath(root))
    val it = fs.listFiles(qroot, true)
    val recursive = Iterator.continually(it).takeWhile(_.hasNext)
      .map(_.next().getPath)
      .filter { f =>
        val hidden = Iterator.iterate(f)(_.getParent)
          .takeWhile(p => p != null && p != qroot)
          .exists(p => p.getName.startsWith(".") || p.getName.startsWith("_"))
        !hidden && f.getName.endsWith(".parquet")
      }.map(_.toString).toSet
    assert(recursive.size >= 3)
    assert(Pipeline.listDataFiles(fs, new HPath(root)) == recursive)
    assert(Pipeline.committedRows(spark, root) == spark.read.parquet(root).count())
    assert(Pipeline.listDataFiles(fs, new HPath(root + "_missing")).isEmpty)
    assert(Pipeline.committedRows(spark, root + "_missing") == 0L)
  }

  test("an all-invalid batch completes with empty silver and gold, all rows quarantined") {
    val out = Files.createTempDirectory("graft_pipe_").toString
    val metrics = EtlMetrics.quiet()
    val res = runOn(breweryRows(120, _ => true), out, metrics, "r1")
    assert(res.bronzeRows == 120)
    assert(res.silverRows == 0)
    assert(metrics.gauge("brewery_etl_silver_partitions_count") == 0.0)
    assert(res.goldRows == Map("by_type_location" -> 0L, "by_location" -> 0L))
    assert(res.quarantineRows == res.bronzeRows)
    assert(metrics.counter("brewery_etl_records_discarded_total",
      Map("operation" -> "bronze_to_silver")) == res.bronzeRows.toDouble)
  }

  test("a run starts only its write jobs, and its read-back equals Spark's counts") {
    import org.apache.spark.graft.ListenerDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val out = Files.createTempDirectory("graft_pipe_").toString
    // a stale hidden swap dir holding rows: readers skip it, so must the
    // footer read-back of the quarantine root
    Seq(("stale", 1)).toDF("id", "n").write.parquet(s"$out/quarantine/.run=r2.__tmp")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val invalid = (i: Int) => i % 7 == 0
    val metrics = EtlMetrics.quiet()
    ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val r1 = try runOn(breweryRows(400, invalid), out, metrics, "r1")
    finally {
      ListenerDrain.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get() <= 7, s"${jobs.get()} jobs")

    // every RunResult field and the partition gauge equal what Spark's
    // own reads of the written tables report
    def checkReadBack(r: Pipeline.RunResult, tag: String): Unit = {
      def count(sub: String) = spark.read.parquet(s"$out/$sub").count()
      assert(r == Pipeline.RunResult(8, count("bronze"), r.bronzeBytes,
        count("silver"), count("quarantine"),
        Map("by_type_location" -> count("gold/by_type_location"),
          "by_location" -> count("gold/by_location"))), tag)
      assert(r.bronzeBytes > 0, tag)
      assert(metrics.gauge("brewery_etl_silver_partitions_count") ==
        spark.read.parquet(s"$out/silver").select("location").distinct()
          .count().toDouble, tag)
    }
    checkReadBack(r1, "r1")
    val r2 = runOn(breweryRows(400, invalid), out, metrics, "r2")
    checkReadBack(r2, "r2")
    val q = (0 until 400).count(invalid).toLong
    assert(r1.bronzeRows == 400 && r1.quarantineRows == q &&
      r2.quarantineRows == 2 * q && r2.silverRows == 400 - q)
    assert(metrics.counter("brewery_etl_records_discarded_total",
      Map("operation" -> "bronze_to_silver")) == 2.0 * q)
  }
}
