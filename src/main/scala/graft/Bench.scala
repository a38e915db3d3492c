package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Declared

/** Benchmark harness (BASELINE.md protocol): per query, one warmup run
  * then the MEDIAN of 3 timed runs; every run fully materializes the
  * result through the `noop` sink so Catalyst cannot prune away the
  * measured work (a bare `.count()` would column-prune projections).
  * Failures are loud: the failing query is reported in an `errors` map and
  * the process exits non-zero — a broken query can never "improve" the
  * bench.
  *
  * After a clean full sweep, a fixed 10-query CANARY subset is re-timed
  * so the artifact carries its own host-noise factor: each canary entry
  * is `[first-pass median, end-of-sweep median]` and `canary_ratio` is
  * their sum ratio — a ratio well above 1 means the measurement window
  * drifted underneath the sweep (shared-host contention), not that the
  * code regressed.
  */
object Bench {

  private type Times = collection.Map[String, Double]

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The committed anchor: one clean full sweep on this host, the
    * baseline the outlier/drift re-time blocks judge against. Read from
    * the working directory (the repo root under sbt and tools/run_main.sh).
    */
  private[graft] val AnchorPath = "BENCH_ANCHOR.json"

  private val LastRunPath = "BENCH_FULL_LASTRUN.json"
  private val LatestPath = "BENCH_FULL_LATEST.json"

  /** Whether a run writes its full artifact to LATEST as well as to
    * LASTRUN (every run, failure evidence included): only a CLEAN (rc 0)
    * FULL (unfiltered) sweep, so an anchor copied from LATEST can never
    * come from a failed or partial run. The trailing summary line's
    * `full_queries_in` names LATEST by the same predicate and LASTRUN
    * otherwise, never a file this run did not write.
    */
  private[graft] def writesLatest(rc: Int, filtered: Boolean): Boolean =
    rc == 0 && !filtered

  /** Wall budget of the end-of-sweep re-time pass, seconds. */
  private val RetimeBudgetS = 600

  private def readText(path: String): Option[String] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) None
    else Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
  }

  /** First group of `re` in the artifact text at `path`; a missing field
    * fails loudly — a corrupt anchor must not read as "no baseline".
    */
  private def field(path: String, txt: String, re: String): String =
    re.r.findFirstMatchIn(txt).map(_.group(1)).getOrElse(
      throw new IllegalArgumentException(s"$path does not parse: no match for $re"))

  private def queriesIn(path: String, txt: String): Map[String, Double] =
    "\"([^\"]+)\":([0-9.eE+-]+)".r
      .findAllMatchIn(field(path, txt, "\"queries\":\\{([^}]*)\\}"))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** Per-query medians of a bench artifact, parsed from its
    * `"queries":{...}` object (files written by this program, so the
    * shape is known: simple-identifier keys, plain numeric values).
    * Empty map when the file is absent; a present file without that
    * object throws.
    */
  private[graft] def readLastRunQueries(path: String): Map[String, Double] =
    readText(path).fold(Map.empty[String, Double])(queriesIn(path, _))

  /** Adjudication baseline for the outlier/drift re-time blocks: the
    * anchor's per-query medians, only when it was taken with this run's
    * `cpus` and `sf` — a baseline from another host or scale would
    * re-time queries for the machine, not the code. None (with one
    * stderr line saying why) when the anchor is absent or from another
    * setup; throws when it is present but does not parse. The rolling
    * BENCH_FULL_LATEST.json is never read: a regression an earlier sweep
    * wrote there would read flat in every later one.
    */
  private[graft] def adjudicationBaseline(cpus: Int, sf: String,
      path: String = AnchorPath): Option[Map[String, Double]] =
    readText(path).map(txt => (queriesIn(path, txt),
        field(path, txt, "\"cpus\":(\\d+)").toInt,
        field(path, txt, "\"sf\":\"([^\"]*)\""))) match {
      case Some((queries, `cpus`, `sf`)) => Some(queries)
      case other =>
        val why = other.fold(s"$path is absent") { case (_, aCpus, aSf) =>
          s"$path was taken at cpus=$aCpus sf=$aSf, this run is cpus=$cpus sf=$sf" }
        System.err.println(s"[bench] no adjudication: $why")
        None
    }

  private def timeOnce(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Cumulative GC wall time (ms) across all collectors — the counter
    * whose per-query DELTA the artifact records (VERDICT r19 task 2:
    * the re-time blocks could exonerate host-window noise but not
    * distinguish it from JVM/session pressure at minute N of a
    * 326-query sweep; gap3's 7.8x end-of-sweep blow-up was
    * undecidable from the artifact alone).
    */
  private[graft] def gcTotalMs(): Long = {
    val it = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.iterator()
    var s = 0L
    while (it.hasNext) s += math.max(0L, it.next().getCollectionTime)
    s
  }

  /** Heap in use right now, MiB. */
  private[graft] def heapUsedMb(): Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) >> 20
  }

  /** Total bytes under one of [[Session.localDirs]] (shuffle + spill
    * files), MiB — when the scratch is tmpfs (/dev/shm), spill volume
    * is RAM pressure the heap counters can't see. Session-level only:
    * at sweep end the dir can hold 100k+ files, so this walks once per
    * artifact, not per query.
    */
  private[graft] def dirUsedMb(path: String): Long =
    try {
      val root = java.nio.file.Paths.get(path)
      if (!java.nio.file.Files.isDirectory(root)) 0L
      else {
        var bytes = 0L
        java.nio.file.Files.walkFileTree(root,
          new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
            override def visitFile(f: java.nio.file.Path,
                attrs: java.nio.file.attribute.BasicFileAttributes) = {
              bytes += attrs.size()
              java.nio.file.FileVisitResult.CONTINUE
            }
            override def visitFileFailed(f: java.nio.file.Path,
                e: java.io.IOException) =
              java.nio.file.FileVisitResult.CONTINUE
          })
        bytes >> 20
      }
    } catch { case _: Throwable => 0L }

  /** One measured query: warmup, then `runs` timed materializations
    * with the session-wide GC counter sampled around them — gcMs is
    * the GC wall time billed DURING this query's timed samples, heapMb
    * the post-query heap in use, storageMb the block-manager bytes
    * (memory + disk) still pinned by persistent RDDs after the query
    * (VERDICT r20 task 3: memo-held memory must be attributable from
    * the artifact — a heap reading alone cannot separate garbage from
    * deliberately pinned checkpoint blocks). Shared by the sweep, the
    * canary, and both re-time blocks so every number in the artifact
    * carries the same telemetry.
    */
  private[graft] final case class Measured(samples: Seq[Double],
                                           gcMs: Long, heapMb: Long,
                                           storageMb: Long) {
    def median: Double = samples.sorted.apply(samples.size / 2)
  }

  /** Block-manager bytes (memory + disk) held by persistent RDDs right
    * now, MiB — cached relations plus localCheckpoint/BuildMemo blocks.
    */
  private[graft] def storageUsedMb(spark: SparkSession): Long =
    try {
      spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum >> 20
    } catch { case _: Throwable => 0L }

  private[graft] def measureQuery(spark: SparkSession, sfDir: String, runs: Int,
                           fn: (SparkSession, String) => DataFrame)
      : Measured = {
    // measurement hygiene: don't let garbage from earlier queries'
    // plans/broadcasts bill GC pauses to this one (observed 5x skew
    // on late queries in a 40-query session without this)
    System.gc()
    materialize(fn(spark, sfDir)) // warmup: JIT, codegen, file listing
    // drop persisted sketches between runs: intra-query caching is part
    // of the operator design and belongs in the measurement; CROSS-run
    // cache hits (identical plan -> cache manager match) would not
    spark.catalog.clearCache()
    val gc0 = gcTotalMs()
    val samples = Seq.fill(runs) {
      val t = timeOnce(materialize(fn(spark, sfDir)))
      spark.catalog.clearCache()
      t
    }
    Measured(samples, gcTotalMs() - gc0, heapUsedMb(), storageUsedMb(spark))
  }

  /** The adjudicated per-query map (VERDICT r21 task 6): first-pass
    * medians with every outlier/drift re-timed query overwritten by its
    * end-of-sweep median — later blocks win, insertion order preserved.
    * Spec-pinned (BenchTelemetrySpec).
    */
  private[graft] def adjudicatedMap(first: Times, retimed: Times,
                                    drifted: Times): Times =
    first ++ retimed ++ drifted

  /** `{"name":[gc_ms,heap_mb,storage_mb],...}` — the per-query JVM
    * block's exact shape (spec-pinned; the third element is new in r21,
    * see storageUsedMb).
    */
  private[graft] def jvmJson(
      m: collection.Map[String, (Long, Long, Long)]): String =
    m.map { case (k, (g, h, s)) => s""""$k":[$g,$h,$s]""" }
      .mkString("{", ",", "}")

  /** Locale-pinned 3-decimal seconds: the default-locale `f"%.3f"` emits
    * a comma decimal separator under e.g. de_DE, which would corrupt the
    * one-line JSON contract.
    */
  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", java.lang.Double.valueOf(v))

  /** A JSON string literal of `s`, for the bench artifact and Verify's
    * oracle json. Escapes ALL control chars: exception text and query SQL
    * regularly carry newlines or tabs, which would break the JSON.
    */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{"key":value,...}` of `m` with each value rendered by `v`. */
  private def obj[V](m: collection.Map[String, V])(v: V => String): String =
    m.map { case (k, x) => s"${jstr(k)}:${v(x)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Session.local()
    val cpus = spark.sparkContext.defaultParallelism

    // Optional comma-separated filter for targeted profiling runs.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Read BEFORE the sweep: a corrupt anchor fails the run up front.
    val baseline = adjudicationBaseline(cpus, sfDir)
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // per-query JVM telemetry: (gc_ms during the timed samples,
    // post-query heap-used MiB) for the first pass; `jvmEnd` records
    // the same for every end-of-sweep re-measurement (canary/re-time) —
    // together they let a verdict decide window-vs-session-pressure
    // from this one artifact
    val jvm = scala.collection.mutable.LinkedHashMap[String, (Long, Long, Long)]()
    val jvmEnd = scala.collection.mutable.LinkedHashMap[String, (Long, Long, Long)]()
    SparkEntry.declared.filter(d => only.forall(_.contains(d.name)))
      .foreach { case Declared(name, plan, _) =>
      try {
        val m = measureQuery(spark, sfDir, runs, plan)
        times += name -> m.median
        jvm += name -> ((m.gcMs, m.heapMb, m.storageMb))
        System.err.println(s"[bench] $name median=${f3(m.median)} s  " +
          s"(${m.samples.map(f3).mkString(", ")})  gc=${m.gcMs}ms " +
          s"heap=${m.heapMb}MiB storage=${m.storageMb}MiB")
      } catch {
        case e: Throwable =>
          errors += name -> e.toString.take(200)
          System.err.println(s"[bench] FAILED $name: $e")
          e.printStackTrace()
      }
    }
    // the re-time blocks run only after a clean sweep
    val adjudicating = baseline.filter(_ => errors.isEmpty)

    // ---- artifact emission, PHASE 1 ----
    // Everything the one-line stdout contract needs is known right here,
    // before any end-of-sweep adjudication: the canary/re-time blocks
    // only ADD metadata, they never change the first-pass map. So the
    // stdout line and the files are written NOW, and re-written
    // (enriched) after adjudication; a run killed mid re-time still
    // leaves its full first-pass artifact.
    val qs = obj(times)(_.toString)
    // compact variant (3-decimal seconds): keeps the printed line short
    // for consumers that only see the tail of the output
    val qsCompact = obj(times)(f3)
    val es = obj(errors)(jstr)
    val total = times.values.sum
    val rc = if (errors.nonEmpty) 1 else 0
    println(s"""{"metric":"total","value":$total,"unit":"sec","rc":$rc,"queries":$qsCompact,"errors":$es,"n_failed":${errors.size},"n_queries":${times.size},"sf":"$sfDir"}""")
    System.out.flush()

    val latest = writesLatest(rc, only.isDefined)
    // Artifact writer, shared by phase 1 (post-sweep, adjudication
    // blocks still empty) and phase 2 (enriched): reads the mutable
    // telemetry state at CALL time; which files it writes is
    // [[writesLatest]]'s call.
    def emitFiles(canaryEnd: Times, canaryRatioJs: String, retimed: Times,
                  drifted: Times): Unit = {
      // canary/retimed/drifted blocks: per query [first-pass median,
      // end-of-sweep median]; canary_ratio is null when the canary never
      // ran
      def pairs(m: Times) = m.map { case (k, v) =>
        s"${jstr(k)}:[${f3(times(k))},${f3(v)}]" }.mkString("{", ",", "}")
      // JVM blocks: "jvm" = first-pass per-query [gc_ms, heap_mb,
      // storage_mb], "jvm_end" = the same for every end-of-sweep
      // re-measurement, "jvm_session" = counters at emit time — a
      // re-time that blows up WITH a gc/heap spike is session pressure,
      // one that blows up on flat telemetry is the host window
      val jvmSessionJs = s"""{"gc_total_ms":${gcTotalMs()},""" +
        s""""heap_used_mb":${heapUsedMb()},""" +
        s""""heap_max_mb":${Runtime.getRuntime.maxMemory() >> 20},""" +
        s""""storage_mb":${storageUsedMb(spark)},""" +
        s""""scratch_mb":${Session.localDirs.map(dirUsedMb).sum}}"""
      // queries_adjudicated: the first-pass map with every outlier/drift
      // re-timed query OVERWRITTEN by its end-of-sweep median — the
      // spike-free per-query map a comparison should read. "queries"
      // stays the untouched first-pass map.
      val adjJs = obj(adjudicatedMap(times, retimed, drifted))(f3)
      val baselineJs = adjudicating.map(_ => jstr(AnchorPath)).getOrElse("null")
      val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","rc":$rc,"cpus":$cpus,"baseline":$baselineJs,"queries":$qs,"errors":$es,"canary":${pairs(canaryEnd)},"canary_ratio":$canaryRatioJs,"retimed":${pairs(retimed)},"drifted":${pairs(drifted)},"queries_adjudicated":$adjJs,"jvm":${jvmJson(jvm)},"jvm_end":${jvmJson(jvmEnd)},"jvm_session":$jvmSessionJs,"n_failed":${errors.size},"n_queries":${times.size},"sf":${jstr(sfDir)}}"""
      def writeLine(path: String): Unit =
        try java.nio.file.Files.write(java.nio.file.Paths.get(path),
          (fullJson + "\n").getBytes("UTF-8"))
        catch { case e: Throwable =>
          System.err.println(s"[bench] could not write $path: $e") }
      writeLine(LastRunPath)
      if (latest) writeLine(LatestPath)
    }
    // phase 1: full artifacts on disk BEFORE any adjudication runs
    emitFiles(Map.empty, "null", Map.empty, Map.empty)

    // End-of-sweep adjudication runs under a wall budget: a window that
    // triggers 20 outlier re-times of the slowest queries, each a warmup
    // + 3 timed runs, could otherwise outlive any caller's timeout. Two
    // caps: a query whose first-pass median exceeded 10 s is re-timed
    // with ONE run (its signal is whole seconds; a median of 3 buys noise
    // rejection only at sub-second scale), and the whole pass stops
    // loudly once the budget is spent.
    val adjDeadline = System.nanoTime() + RetimeBudgetS * 1000000000L
    def budgetLeft(): Boolean = System.nanoTime() < adjDeadline
    def adjRuns(first: Double): Int = if (first > 10.0) 1 else runs

    // Canary re-run: re-timing a fixed subset (dedup/LSH, TPC-H, events,
    // the pipeline) at the END of a clean full sweep makes the artifact
    // itself carry the window's noise: each canary records [first-pass,
    // end-of-sweep] medians, and canary_ratio (sum end / sum first) >> 1
    // means the WINDOW drifted — same code, same data, minutes apart —
    // not the queries.
    val canaryNames = Seq("dedup_fuzzy", "dedup_fuzzy_keep_best",
      "dedup_fuzzy_kept", "dedup_guarded_kept", "dedup_minhash_pairs",
      "tpch_q1_pricing", "tpch_q5_region_volume", "events_funnel",
      "events_asof_join", "pipeline_gold_readback",
      // pinned after a past end-of-sweep anomaly (first-pass 4.6 s,
      // re-time 29.2 s): as a canary it gets a [first, end] pair in
      // EVERY artifact, with jvm/jvm_end telemetry, so a recurrence is
      // adjudicable in-file
      "events_seq_patterns_gap3")
    val canaryEnd = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (errors.isEmpty && only.isEmpty) {
      canaryNames.filter(times.contains).foreach { name =>
        try {
          val m = measureQuery(spark, sfDir, runs, SparkEntry.queries(name))
          canaryEnd += name -> m.median
          jvmEnd += name -> ((m.gcMs, m.heapMb, m.storageMb))
          System.err.println(
            s"[bench] canary $name first=${f3(times(name))} " +
              s"end=${f3(m.median)} s gc=${m.gcMs}ms heap=${m.heapMb}MiB")
        } catch { case e: Throwable =>
          // a canary failure must not fail a clean sweep — the canary is
          // noise METADATA; the sweep already proved the query runs
          System.err.println(s"[bench] canary FAILED $name: $e")
        }
      }
    }
    // canary_ratio is JSON null when the canary never ran (filtered run,
    // errors, or every canary threw): "not measured" must stay
    // distinguishable from a measured clean window
    val canaryRatioJs =
      if (canaryEnd.isEmpty) "null"
      else f3(canaryEnd.values.sum /
        math.max(1e-9, canaryEnd.keys.map(times).sum))

    // Shared end-of-sweep re-time for the two adjudicator blocks:
    // candidates above `ratio` x their anchor value, capped at the `cap`
    // worst ratios — if MANY queries exceed the trigger, the window
    // itself drifted, which canary_ratio already stamps. Entries already
    // in the canary set (or, for the drift block, already outlier-re-timed
    // via `skip`) reuse that end-of-sweep median — same semantics, no
    // duplicate work.
    def retimeWorst(ratio: Double, cap: Int, label: String,
        skip: collection.Set[String])
        : scala.collection.mutable.LinkedHashMap[String, Double] = {
      val out = scala.collection.mutable.LinkedHashMap[String, Double]()
      val base = adjudicating.getOrElse(return out)
      val cands = times.toSeq
        .filter { case (n, t) =>
          base.get(n).exists(prev => t > ratio * prev) && t >= 0.5 &&
            !skip.contains(n) }
        .sortBy { case (n, t) => -(t / math.max(base(n), 1e-9)) }
      if (cands.size > cap)
        System.err.println(s"[bench] ${cands.size} queries read >${ratio}x " +
          s"$AnchorPath — $label-re-timing only the $cap worst " +
          "(window drift; see canary_ratio)")
      cands.take(cap).foreach { case (name, first) =>
        canaryEnd.get(name) match {
          case Some(end) => out += name -> end
          case None if !budgetLeft() =>
            // budget exhaustion is loud but not fatal: the first-pass
            // map and phase-1 artifacts already exist; what's lost is
            // only this outlier's in-file exoneration
            System.err.println(s"[bench] $label $name SKIPPED — " +
              s"adjudication budget (${RetimeBudgetS}s) spent")
          case None =>
            try {
              val m = measureQuery(spark, sfDir, adjRuns(first),
                SparkEntry.queries(name))
              out += name -> m.median
              jvmEnd += name -> ((m.gcMs, m.heapMb, m.storageMb))
              System.err.println(s"[bench] $label $name first=${f3(first)} " +
                s"end=${f3(m.median)} s (baseline=${f3(base(name))}) " +
                s"gc=${m.gcMs}ms heap=${m.heapMb}MiB")
            } catch { case e: Throwable =>
              System.err.println(s"[bench] $label retime FAILED $name: $e")
            }
        }
      }
      out
    }

    // Per-query outlier re-time: any query whose first-pass median is
    // > 2x its anchor value gets ONE end-of-sweep re-time in the SAME
    // artifact, so a ">2x regression?" question is answered without
    // cross-file adjudication.
    val retimed = retimeWorst(2.0, 20, "retime", Set.empty)

    // Slow-DRIFT re-time: the >2x trigger misses the band where real
    // movement often lives (1.25-2x under a clean canary). Any query
    // >1.25x its anchor value that the outlier block did not already
    // re-time gets ONE end-of-sweep re-time.
    val drifted = retimeWorst(1.25, 10, "drift", retimed.keySet)

    // phase 2: re-emit the artifacts enriched with the adjudication
    // blocks (canary/retimed/drifted/jvm_end + final session counters).
    // The stdout "total" line was already printed before adjudication —
    // deliberately NOT printed again, so consumers see exactly one line
    // with metric "total"; everything adjudication adds rides the files
    // and the trailing total_summary line below.
    emitFiles(canaryEnd, canaryRatioJs, retimed, drifted)
    // trailing summary line: short enough to ALWAYS fit the tail window,
    // carries the coverage count and the pointer to the full map. Metric
    // name is DISTINCT from the per-query line's "total" so a consumer
    // summing metric lines can never double-count the suite time.
    println(s"""{"metric":"total_summary","value":${f3(total)},"unit":"sec","n_queries":${times.size},"n_failed":${errors.size},"canary_ratio":$canaryRatioJs,"n_retimed":${retimed.size},"n_drifted":${drifted.size},"sf":"$sfDir","full_queries_in":"${if (latest) LatestPath else LastRunPath}"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
