package graft.perfbench

import graft.{SparkEntry, Tables}
import graft.metrics.EtlMetrics
import graft.ops.{Corpus, Dedup, QualityModel, TextAnalysis}
import graft.pipeline.Pipeline
import graft.queries.BuildMemo
import graft.sources.IteratorBrewerySource
import graft.streaming.NearDupIngest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** One benchmark run: set up a session, generate the workload's inputs
  * from the seed, run one warm-up unit, then run a fixed
  * number of units back to back from a single driver thread: as many as
  * fill `--seconds` at the workload's nominal unit time. Every unit's
  * output is checked. With `--trace 1` half the window runs untraced
  * and half runs under the benchmark's own SparkListener, and the run
  * reports per-layer metrics instead of end-to-end ones.
  *
  * The result (metrics, attempted/failed units, and the material the
  * DuckDB checks in run.py need) is written as JSON to `--out`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String, cores: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m("out"),
      m.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt)
  }

  // ---- sizes: each unit of work ---------------------------------------

  /** Brewery rows per `medallion` unit (250 landing pages of 200). */
  val MedallionRows = 50000L
  /** Documents in the `corpus_release` corpus. */
  val CorpusDocs = 500

  // ---- metric names -----------------------------------------------------

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "heap_retained_mb" -> "MiB")

  val PerLayer: Seq[(String, String)] = Seq(
    "run_s.samples" -> "count", "unit_cpu_s" -> "s", "heap_peak_mb" -> "MiB",
    "host.steal_frac" -> "ratio",
    "failed_frac" -> "ratio", "write_amp" -> "ratio",
    "trace.untraced_run_s" -> "s", "trace.traced_run_s" -> "s",
    "trace.overhead_s" -> "s",
    "sources.extract_s" -> "s", "sources.pages" -> "count",
    "sources.landing_mb" -> "MiB",
    "pipeline.landing_to_bronze_s" -> "s", "pipeline.bronze_to_silver_s" -> "s",
    "pipeline.silver_to_gold_s" -> "s",
    "pipeline.landing_to_bronze_jobs" -> "count",
    "pipeline.bronze_to_silver_jobs" -> "count",
    "pipeline.silver_to_gold_jobs" -> "count",
    "pipeline.written_mb" -> "MiB", "pipeline.files_written" -> "count",
    "ops.dedup_s" -> "s", "ops.decon_s" -> "s", "ops.gopher_s" -> "s",
    "ops.qclf_s" -> "s", "ops.curation_s" -> "s", "ops.publish_s" -> "s",
    "ops.steps_sum_s" -> "s", "ops.lsh_verified_per_candidate" -> "ratio",
    "ops.survivor_frac" -> "ratio",
    "queries.memo_mb" -> "MiB", "queries.memo_residual_mb" -> "MiB",
    "streaming.ingest_s" -> "s", "streaming.ingest_jobs" -> "count") ++
    Seq("spark.jobs", "spark.stages", "spark.tasks").map(_ -> "count") ++
    Seq("spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
      "spark.cpu_util" -> "ratio", "spark.input_mb" -> "MiB",
      "spark.shuffle_read_mb" -> "MiB", "spark.shuffle_write_mb" -> "MiB",
      "spark.spill_mb" -> "MiB", "spark.output_mb" -> "MiB", "jvm.gc_s" -> "s")

  // ---- session ----------------------------------------------------------

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Builds the session and runs one trivial job on it. The set-up
    * time runs from JVM start (the runtime MXBean's start time) until
    * that job has finished: JVM start, class loading, the SparkContext
    * and the first job.
    */
  def setup(a: Args): (SparkSession, Double) = {
    val s = session(a.cores, a.work)
    s.range(0, 1000, 1, a.cores).selectExpr("sum(id)").collect()
    val t = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    System.err.println(f"[perfbench] session ready $t%.3f s after JVM start")
    (s, t)
  }

  // ---- bookkeeping ------------------------------------------------------

  final class Tally {
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer[String]()

    /** Runs one unit: a throw or a failed check counts as a failure. */
    def unit[T](label: String)(body: => (T, Option[String])): Option[T] = {
      attempted += 1
      try {
        val (out, problem) = body
        problem.foreach { p => failed += 1; failures += s"$label: $p" }
        Some(out)
      } catch {
        case e: Throwable =>
          failed += 1
          failures += s"$label: threw $e"
          System.err.println(s"[perfbench] $label threw: $e")
          e.printStackTrace()
          None
      }
    }
  }

  /** Peak heap: the most heap left live after any collection since the
    * last `take()`, from the collectors' GC notifications.
    */
  final class HeapWatch {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    @volatile var peakLive = 0L
    private val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, h: Any): Unit =
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
          val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (live > peakLive) peakLive = live
        }
    }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: javax.management.NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))

    /** The peak since the previous call, in MiB; starts a new one. */
    def take(): Double = { val p = peakLive; peakLive = 0L; p / 1048576.0 }

    def stop(): Unit =
      emitters.foreach(e => try e.removeNotificationListener(listener) catch { case _: Throwable => () })
  }

  /** One measured unit: its position in the window, its wall and
    * process-CPU seconds, the CPU seconds the hypervisor took from the
    * machine's vCPUs meanwhile (its steal time, all vCPUs summed), its
    * peak heap in MiB, and the heap in MiB still in use after the full
    * GC that precedes it: what the earlier units left behind.
    */
  final case class Sample(k: Int, wall: Double, cpu: Double, steal: Double,
                          heapMb: Double = 0.0, retainedMb: Double = 0.0)

  private val memBean = java.lang.management.ManagementFactory.getMemoryMXBean

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** The machine's steal seconds so far: the eighth field of the `cpu`
    * line of /proc/stat, in clock ticks of 1/100 s. 0 where there is
    * no such file.
    */
  def stealSeconds(): Double = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try parseSteal(src.getLines().next()) finally src.close()
  } catch { case _: java.io.IOException => 0.0 }

  def parseSteal(cpuLine: String): Double = {
    val f = cpuLine.trim.split("\\s+")
    require(f.head == "cpu" && f.length > 8, s"not the cpu line of /proc/stat: $cpuLine")
    f(8).toDouble / 100.0
  }

  /** Runs `units` units back to back, so every run measures the same
    * unit positions after the warm-up. Like graft.Bench, each unit
    * starts after a full GC (untimed), so garbage and cleanup left by
    * the previous unit are not billed to it. CPU is the whole
    * process's: driver, executor threads, JIT and GC. Units that threw
    * yield no sample.
    */
  def window(units: Int, heap: HeapWatch)(unit: Int => Option[Double]): Seq[Sample] = {
    val out = mutable.ArrayBuffer[Sample]()
    for (k <- 0 until units) {
      System.gc()
      val retained = memBean.getHeapMemoryUsage.getUsed / 1048576.0
      heap.take()
      val (c0, s0) = (osBean.getProcessCpuTime, stealSeconds())
      unit(k).foreach(t => out += Sample(k, t, (osBean.getProcessCpuTime - c0) / 1e9,
        stealSeconds() - s0, heap.take(), retained))
    }
    def show(f: Sample => Double) = out.map(u => f"${f(u)}%.3f").mkString(", ")
    System.err.println(s"[perfbench] unit wall s: ${show(_.wall)}; cpu s: ${show(_.cpu)}; " +
      s"steal s: ${show(_.steal)}; peak heap MiB: ${show(_.heapMb)}; " +
      s"retained heap MiB: ${show(_.retainedMb)}")
    out.toSeq
  }

  /** Wall seconds per unit over a window: the window's wall time over
    * its unit count. The host's per-core speed drifts from second to
    * second, and the mean over the whole window averages that drift out
    * better than the median of a few units does.
    */
  def wallPerUnit(samples: Seq[Sample]): Double = samples.map(_.wall).sum / samples.size

  /** Process CPU seconds per unit over a window, likewise. JIT
    * compilation and concurrent GC land in whichever unit happens to be
    * running, so the total over fixed unit positions repeats better
    * than any one unit.
    */
  def cpuPerUnit(samples: Seq[Sample]): Double = samples.map(_.cpu).sum / samples.size

  /** Stolen share of the machine's CPU time over a window. */
  def stealFrac(samples: Seq[Sample], cores: Int): Double =
    samples.map(_.steal).sum / (samples.map(_.wall).sum * cores)

  // ---- workloads ----------------------------------------------------------

  /** A workload: input generation, one checked unit, and the per-layer
    * metrics its traced units and extra probes yield.
    */
  trait Workload {
    /** Unit wall seconds on a quiet 4-CPU host after the warm-up; with
      * `--seconds` it fixes how many units a window measures.
      */
    def nominalUnitS: Double
    /** Measured units per window: as many as fill `seconds` nominally,
      * at least 2.
      */
    def units(seconds: Double): Int = math.max(2, math.round(seconds / nominalUnitS).toInt)
    def prepare(): Unit
    /** One unit; returns its wall seconds. `traced` units also record
      * their per-layer detail.
      */
    def unit(k: Int, traced: Boolean, tally: Tally): Option[Double]
    /** Per-layer metrics after the traced units. */
    def layers(trace: Trace): Map[String, Double] = Map.empty
    /** Run-level metrics of the traced run (write_amp). */
    def summary(): Map[String, Double] = Map.empty
    /** Material for the DuckDB checks in run.py (a JSON object). */
    def checks(): String = "{}"
    /** Called after the warm-up, before any measured unit. */
    def beforeWindow(): Unit = ()
    /** Failed checks of the extra probes `layers` ran. */
    val probeProblems = mutable.ArrayBuffer[String]()
  }

  final class Medallion(spark: SparkSession, a: Args) extends Workload {
    private val root = s"${a.work}/medallion"
    def nominalUnitS: Double = 4.0
    private val lay = Pipeline.Layout(root)
    private lazy val exp = Gen.expected(a.seed, MedallionRows)
    private val stageNames = Seq("extract_brewery_data", "landing_to_bronze",
      "bronze_to_silver", "silver_to_gold")
    private val stageS = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    private val stageJobs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    private var pages = 0.0
    private var landingBytes = 0L
    private var writtenBytes = 0L
    private var filesWritten = 0
    var trace: Option[Trace] = None

    def prepare(): Unit = { exp; () }

    /** The stage-end sink: each `brewery_etl_processing_duration_seconds`
      * event closes a stage, so the jobs since the previous one are
      * that stage's jobs.
      */
    private def sink(): String => Unit = trace match {
      case None => _ => ()
      case Some(t) =>
        var last = t.snapshot(spark).jobs
        line => {
          Medallion.StageEnd.findFirstMatchIn(line).foreach { g =>
            val now = t.snapshot(spark).jobs
            stageS.getOrElseUpdate(g.group(1), mutable.ArrayBuffer()) += g.group(2).toDouble
            stageJobs.getOrElseUpdate(g.group(1), mutable.ArrayBuffer()) += (now - last).toDouble
            last = now
          }
        }
    }

    def unit(k: Int, traced: Boolean, tally: Tally): Option[Double] =
      tally.unit(s"medallion unit $k") {
        Fs.deleteTree(root)
        val metrics = new EtlMetrics(if (traced) sink() else _ => ())
        val source = new IteratorBrewerySource(() => Gen.breweryJson(a.seed, MedallionRows))
        val t0 = System.nanoTime()
        val res = Pipeline.run(spark, source, Gen.BrewerySchema, lay, metrics,
          perPage = 200, csvGold = false, runTag = "batch0", retryDelayMillis = 0L)
        val t = secs(t0)
        pages = metrics.counter("brewery_etl_extract_pages_total")
        landingBytes = Fs.dataBytes(lay.landing)
        val outDirs = Seq(lay.bronze, lay.silver, lay.quarantine, s"$root/gold")
        writtenBytes = outDirs.map(Fs.dataBytes).sum
        filesWritten = outDirs.map(d => Fs.dataFiles(d).size).sum
        (t, Medallion.check(res,
          metrics.counter("brewery_etl_records_discarded_total",
            Map("operation" -> "bronze_to_silver")), exp))
      }

    override def layers(t: Trace): Map[String, Double] = {
      Medallion.missingStages(stageNames, stageS.keySet.toSet).foreach(probeProblems += _)
      def med(m: mutable.Map[String, mutable.ArrayBuffer[Double]], k: String) =
        m.get(k).filter(_.nonEmpty).map(b => Stats.median(b.toSeq)).getOrElse(0.0)
      Map(
        "sources.extract_s" -> med(stageS, "extract_brewery_data"),
        "sources.pages" -> pages,
        "sources.landing_mb" -> landingBytes / 1048576.0,
        "pipeline.written_mb" -> writtenBytes / 1048576.0,
        "pipeline.files_written" -> filesWritten.toDouble) ++
        stageNames.tail.flatMap(s => Seq(
          s"pipeline.${s}_s" -> med(stageS, s),
          s"pipeline.${s}_jobs" -> med(stageJobs, s)))
    }

    override def summary(): Map[String, Double] =
      if (landingBytes > 0) Map("write_amp" -> writtenBytes.toDouble / landingBytes)
      else Map.empty
  }

  object Medallion {
    /** The sink line `EtlMetrics.timed` emits when a stage ends. */
    val StageEnd =
      "duration brewery_etl_processing_duration_secondsMap\\(operation -> ([a-z_]+)\\) = ([0-9.E-]+) s".r

    /** A traced run must have captured every stage's end event from the
      * `EtlMetrics` sink; otherwise its per-stage metrics would read 0
      * as if the stage had not run.
      */
    def missingStages(stages: Seq[String], captured: Set[String]): Option[String] = {
      val missing = stages.filterNot(captured)
      if (missing.isEmpty) None
      else Some(s"no stage-end event captured for ${missing.mkString(", ")}")
    }

    /** The output check of one `Pipeline.run`: planted invalid rows are
      * exactly the quarantine rows and the discarded counter, and the
      * gold tables hold one row per distinct generated key.
      */
    def check(res: Pipeline.RunResult, discarded: Double,
              exp: Gen.Expected): Option[String] = {
      val problems = Seq(
        (res.bronzeRows == exp.rows) -> s"bronze rows ${res.bronzeRows} != ${exp.rows}",
        (res.quarantineRows == exp.invalid) ->
          s"quarantine rows ${res.quarantineRows} != planted ${exp.invalid}",
        (discarded == exp.invalid.toDouble) ->
          s"records_discarded_total $discarded != planted ${exp.invalid}",
        (res.silverRows == exp.rows - exp.invalid) ->
          s"silver rows ${res.silverRows} != ${exp.rows - exp.invalid}",
        (res.goldRows.get("by_type_location").contains(exp.goldByTypeLocation)) ->
          s"gold by_type_location ${res.goldRows.get("by_type_location")} != ${exp.goldByTypeLocation}",
        (res.goldRows.get("by_location").contains(exp.goldByLocation)) ->
          s"gold by_location ${res.goldRows.get("by_location")} != ${exp.goldByLocation}")
        .collect { case (false, msg) => msg }
      if (problems.isEmpty) None else Some(problems.mkString("; "))
    }
  }

  final class CorpusRelease(spark: SparkSession, a: Args) extends Workload {
    private val dir = s"${a.work}/inputs/corpus"
    private val query = "llm_corpus_prep_publish"
    def nominalUnitS: Double = 9.0
    private val manifests = mutable.ArrayBuffer[Seq[Row]]()
    private val memoMb = mutable.ArrayBuffer[Double]()
    private val residualMb = mutable.ArrayBuffer[Double]()

    /** Writes the corpus, then tells run.py (through `corpus.ready`)
      * that it can compute the DuckDB reference manifest; that runs
      * during the warm-up unit.
      */
    def prepare(): Unit = {
      Gen.writeCorpus(spark, a.seed, CorpusDocs, dir)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"${a.work}/oracle.sql"),
        SparkEntry.oracleSql(query).getBytes("UTF-8"))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"${a.work}/corpus.ready"),
        dir.getBytes("UTF-8"))
    }

    /** Waits (up to two minutes) until run.py has finished the DuckDB
      * reference, so it never competes with measured units for CPU.
      */
    override def beforeWindow(): Unit = {
      val done = java.nio.file.Paths.get(s"${a.work}/oracle.done")
      val t0 = System.nanoTime()
      while (!java.nio.file.Files.exists(done) && secs(t0) < 120) Thread.sleep(100)
      System.err.println(f"[perfbench] waited ${secs(t0)}%.2f s for the DuckDB reference")
    }

    /** Drops every cached plan and persisted block, which is where the
      * BuildMemo artifacts of a finished unit live. BuildMemo keeps its
      * entries for a session until the SparkContext stops, and every
      * unit's session shares this context, so without this the blocks
      * of all earlier units would stay in storage.
      */
    private def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    /** One chain in a fresh session: BuildMemo keys on the session, so
      * no manifest built by an earlier unit is reused. Only a weak
      * reference to the session leaves this method.
      */
    private def chain(): (Seq[Row], Double, java.lang.ref.WeakReference[SparkSession]) = {
      val s = spark.newSession()
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(query)(s, dir).collect().toSeq
      val t = secs(t0)
      memoMb += BuildMemo.retainedBytes(s) / 1048576.0
      (rows, t, new java.lang.ref.WeakReference(s))
    }

    def unit(k: Int, traced: Boolean, tally: Tally): Option[Double] =
      tally.unit(s"corpus_release unit $k") {
        val (rows, t, session) = chain()
        if (traced) {
          // what the program still holds for a session its caller has
          // dropped: BuildMemo bytes while anything keeps it reachable
          System.gc()
          residualMb += Option(session.get).map(BuildMemo.retainedBytes).getOrElse(0L) / 1048576.0
        }
        release()
        manifests += rows
        (t, CorpusRelease.check(rows))
      }

    private def checkpoint(df: DataFrame): DataFrame =
      df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)

    /** The release chain step by step through its public graft.ops
      * calls, with the chain's arguments, each step materialized and
      * timed on its own.
      */
    override def layers(t: Trace): Map[String, Double] = {
      val s = spark.newSession()
      val docs = Tables.documents(s, dir)
      val times = mutable.LinkedHashMap[String, Double]()
      def step[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val out = body
        times(name) = secs(t0)
        out
      }
      val keptIds = step("dedup") {
        checkpoint(Dedup.nearDupKeepFirst(docs, "doc_id", numHashes = 16,
          bands = 4, threshold = 0.5, maxBucketSize = 64).select(col("doc_id")))
      }
      val flagged = step("decon") {
        checkpoint(TextAnalysis.contaminationReport(docs,
          docs.filter(col("source") === "src9"), "doc_id", "text", n = 8))
      }
      val gated = step("gopher") {
        val kept = docs.join(keptIds, Seq("doc_id"), "left_semi")
        checkpoint(TextAnalysis.gopherFilter(
          TextAnalysis.removeFlagged(kept, flagged, "doc_id"), "doc_id", "text",
          requireStopWords = false))
      }
      val topIds = step("qclf") {
        val sk = checkpoint(QualityModel.featureSketch(docs, "doc_id", "text",
          when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 1)
            .otherwise(0), dim = 64))
        val w = QualityModel.trainHashedLogRegWith(sk, "doc_id", lr = 0.5, iters = 3)
        checkpoint(QualityModel.keepTopScoredWith(docs, "doc_id", sk, w,
          quantile = 0.5).select(col("doc_id")))
      }
      val curated = step("curation") {
        checkpoint(TextAnalysis.curationFilter(
          gated.join(topIds, Seq("doc_id"), "left_semi"), "doc_id", "text",
          minTokens = 20, maxTokens = 2000, minQuality = 0.1,
          maxRepetition = 0.2, keepLang = "en").select(col("doc_id")))
      }
      val manifest = step("publish") {
        val rel = docs.join(curated, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("text"))
        Corpus.publishRelease(rel, "doc_id", "text", nShards = 8,
          s"${a.work}/publish_steps").collect().toSeq
      }
      val candidates = Dedup.lshCandidatePairs(docs, "doc_id", numHashes = 16,
        bands = 4, maxBucketSize = 64).count()
      val verified = Dedup.fuzzy(docs, "doc_id", numHashes = 16, bands = 4,
        threshold = 0.5, maxBucketSize = 64).count()
      val survivors = manifest.map(_.getAs[Long]("n_docs")).sum
      if (manifests.nonEmpty && key(manifest) != key(manifests.head))
        probeProblems += "step-by-step chain manifest differs from the query's"

      // graft.streaming: the corpus arriving as two micro-batches through
      // the near-dup ingest; its candidate pairs must equal the batch
      // LSH candidates over the whole corpus
      val base = s"${a.work}/stream"
      Fs.deleteTree(base)
      val j0 = t.snapshot(spark).jobs
      val ts = System.nanoTime()
      Seq(0, 1).foreach { b =>
        NearDupIngest.ingestBatch(docs.filter(col("doc_id") % 2 === b),
          s"$base/index", s"$base/pairs", "doc_id", numHashes = 16, bands = 4,
          textCol = "text", k = 3)
      }
      val ingestS = secs(ts)
      val ingestJobs = t.snapshot(spark).jobs - j0
      def pairs(df: DataFrame) = {
        val (x, y) = (col(df.columns(0)), col(df.columns(1)))
        df.select(least(x, y).as("a"), greatest(x, y).as("b")).distinct()
      }
      val streamed = pairs(s.read.parquet(s"$base/pairs"))
      val batch = pairs(Dedup.lshCandidatePairs(docs, "doc_id", numHashes = 16, bands = 4))
      if (!(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty))
        probeProblems += "streamed near-dup candidate pairs differ from the batch LSH candidates"
      release()
      times.map { case (k, v) => s"ops.${k}_s" -> v }.toMap ++ Map(
        "ops.steps_sum_s" -> times.values.sum,
        "ops.lsh_verified_per_candidate" ->
          (if (candidates > 0) verified.toDouble / candidates else 0.0),
        "ops.survivor_frac" -> survivors.toDouble / CorpusDocs,
        "queries.memo_mb" -> (if (memoMb.isEmpty) 0.0 else Stats.median(memoMb.toSeq)),
        "queries.memo_residual_mb" -> (if (residualMb.isEmpty) 0.0 else residualMb.max),
        "streaming.ingest_s" -> ingestS, "streaming.ingest_jobs" -> ingestJobs.toDouble)
    }

    private def key(rows: Seq[Row]): Seq[String] =
      rows.map(r => Seq("shard", "n_docs", "n_chars", "checksum")
        .map(c => String.valueOf(r.getAs[Any](c))).mkString("|")).sorted

    override def checks(): String = {
      val ms = manifests.map(rows => rows.map { r =>
        Json.arr(Seq(Json.num(r.getAs[Int]("shard").toDouble),
          Json.num(r.getAs[Long]("n_docs").toDouble),
          Json.num(r.getAs[Long]("n_chars").toDouble),
          Json.str(r.getAs[String]("checksum"))))
      }).map(Json.arr)
      Json.obj(Seq("manifests" -> Json.arr(ms.toSeq)))
    }
  }

  object CorpusRelease {
    /** Every shard of the published release must read back identically. */
    def check(rows: Seq[Row]): Option[String] =
      if (rows.isEmpty) Some("empty release manifest")
      else {
        val bad = rows.filterNot(r => r.getAs[Boolean]("readback_match"))
        if (bad.isEmpty) None
        else Some(s"${bad.size} shard(s) without readback_match: " +
          bad.map(_.getAs[Int]("shard")).mkString(","))
      }
  }

  // ---- the run ----------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val a = parse(argv)
    val (spark, setupS) = setup(a)
    val tally = new Tally
    val trace = new Trace
    val w: Workload = a.workload match {
      case "medallion" => new Medallion(spark, a)
      case "corpus_release" => new CorpusRelease(spark, a)
      case other => sys.error(s"unknown workload $other")
    }
    val tg = System.nanoTime()
    w.prepare()
    System.err.println(f"[perfbench] inputs generated in ${secs(tg)}%.2f s")

    // warm-up unit (checked, not timed): JIT, codegen, file listing
    System.err.print("[perfbench] warm-up: ")
    val heap = new HeapWatch
    window(1, heap)(_ => w.unit(-1, traced = false, tally))
    w.beforeWindow()

    val metrics = mutable.LinkedHashMap[String, Double]()
    if (!a.trace) {
      val samples = window(w.units(a.seconds), heap)(k => w.unit(k, traced = false, tally))
      System.err.println(s"[perfbench] run_s ${Stats.summarize(samples.map(_.wall)).render("s")}")
      val retainedMb = Stats.median(samples.map(_.retainedMb))
      System.err.println(f"[perfbench] heap retained between units, median $retainedMb%.1f MiB; " +
        f"peak live after GC, median over units ${Stats.median(samples.map(_.heapMb))}%.1f MiB")
      System.err.println(f"[perfbench] per unit ${wallPerUnit(samples)}%.3f s wall, " +
        f"${cpuPerUnit(samples)}%.3f s cpu; steal ${stealFrac(samples, a.cores)}%.4f of the machine's CPU time")
      metrics ++= Seq("setup_s" -> setupS, "run_s" -> wallPerUnit(samples),
        "heap_retained_mb" -> retainedMb)
    } else {
      // traced and untraced units alternate in ABBA order, so a JIT
      // warm-up trend across the window weighs on both halves alike; the
      // listener is attached only for traced units
      w match {
        case m: Medallion => m.trace = Some(trace)
        case _ =>
      }
      def isTraced(k: Int) = k % 4 == 1 || k % 4 == 2
      var d = Trace.Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      val samples = window(4, heap) { k =>
        if (!isTraced(k)) w.unit(k, traced = false, tally)
        else {
          spark.sparkContext.addSparkListener(trace)
          val s0 = trace.snapshot(spark)
          val r = w.unit(k, traced = true, tally)
          d = d + (trace.snapshot(spark) - s0)
          spark.sparkContext.removeSparkListener(trace)
          r
        }
      }
      val (traced, untraced) = samples.partition(u => isTraced(u.k))
      spark.sparkContext.addSparkListener(trace)
      val layerMetrics = w.layers(trace)
      w.probeProblems.foreach { p =>
        tally.attempted += 1; tally.failed += 1; tally.failures += p }
      val (um, tm) = (Stats.median(untraced.map(_.wall)), Stats.median(traced.map(_.wall)))
      // a layer the workload does not exercise reads 0
      metrics ++= PerLayer.map(_._1 -> 0.0)
      metrics ++= Trace.engineMetrics(d, traced.map(_.wall).sum, a.cores, traced.size).map(m => m._1 -> m._2)
      metrics ++= layerMetrics
      metrics ++= w.summary()
      metrics ++= Seq("run_s.samples" -> untraced.size.toDouble,
        "unit_cpu_s" -> cpuPerUnit(untraced), "heap_peak_mb" -> Stats.median(untraced.map(_.heapMb)),
        "host.steal_frac" -> stealFrac(samples, a.cores),
        "trace.untraced_run_s" -> um, "trace.traced_run_s" -> tm,
        "trace.overhead_s" -> (tm - um),
        "failed_frac" -> tally.failed.toDouble / math.max(1, tally.attempted))
      System.err.println(s"[perfbench] untraced run_s ${Stats.summarize(untraced.map(_.wall)).render("s")}, " +
        s"traced run_s ${Stats.summarize(traced.map(_.wall)).render("s")}")
    }

    val declared = if (a.trace) PerLayer else EndToEnd
    val units = declared.toMap
    val out = Json.obj(Seq(
      "attempted" -> tally.attempted.toString,
      "failed" -> tally.failed.toString,
      "failures" -> Json.arr(tally.failures.toSeq.map(Json.str)),
      "metrics" -> Json.obj(declared.map(_._1).map(n =>
        n -> Json.obj(Seq("value" -> Json.num(metrics(n)), "unit" -> Json.str(units(n)))))),
      "checks" -> w.checks()))
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out), out.getBytes("UTF-8"))
    tally.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    heap.stop()
    spark.stop()
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
