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

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Per-query medians of a PRIOR bench artifact, parsed from its
    * `"queries":{...}` object (files written by this program, so the
    * shape is known: simple-identifier keys, plain numeric values).
    * The outlier/drift baseline main() feeds it is
    * BENCH_FULL_LATEST.json — the last CLEAN FULL run, deliberately
    * not LASTRUN (ADVICE r17: the messages and the file must agree).
    * Empty map when the file is absent/unreadable — first run on a
    * fresh checkout simply has no baseline.
    */
  private[graft] def readLastRunQueries(path: String): Map[String, Double] =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val start = txt.indexOf("\"queries\":{")
      if (start < 0) Map.empty
      else {
        val open = txt.indexOf('{', start)
        val close = txt.indexOf('}', open)
        val body = txt.substring(open + 1, close)
        val entry = "\"([^\"]+)\":([0-9.eE+-]+)".r
        entry.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }

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
  private[graft] def adjudicatedMap(
      first: collection.Map[String, Double],
      retimed: collection.Map[String, Double],
      drifted: collection.Map[String, Double])
      : collection.Map[String, Double] =
    first ++ retimed ++ drifted

  /** `{"name":[gc_ms,heap_mb,storage_mb],...}` — the per-query JVM
    * block's exact shape (spec-pinned; the third element is new in r21,
    * see storageUsedMb).
    */
  private[graft] def jvmJson(
      m: collection.Map[String, (Long, Long, Long)]): String =
    m.map { case (k, (g, h, s)) => s""""$k":[$g,$h,$s]""" }
      .mkString("{", ",", "}")

  /** Round number inferred from committed driver artifacts: the driver
    * writes BENCH_r{N}.json AFTER this bench runs, so during round N the
    * highest on disk is N-1.
    */
  private[graft] def inferRound(): Int = {
    val re = "BENCH_r(\\d+)\\.json".r
    val seen = Option(new java.io.File(".").listFiles()).toSeq.flatten
      .flatMap(f => re.findFirstMatchIn(f.getName).map(_.group(1).toInt))
    if (seen.isEmpty) 0 else seen.max + 1
  }

  /** Adjudication baseline for the outlier/drift re-time blocks: the last
    * CLOSED round's per-query medians (`BENCH_LOCAL_r{N-1}.json`, the
    * closing-sweep copy committed with round N-1), falling back to the
    * rolling `BENCH_FULL_LATEST.json` only for queries absent from it
    * (new this round, so no closed-round value exists). Baselining on
    * rolling LATEST was the r18 blind spot: an earlier same-round sweep
    * writes a regressed value into LATEST and the regression reads flat
    * in every later sweep — exactly how the 2.1x dedup_quotes_removed
    * escaped both blocks (VERDICT r18 task 2).
    */
  private[graft] def adjudicationBaseline(): (String, Map[String, Double]) = {
    val closedPath = s"BENCH_LOCAL_r${inferRound() - 1}.json"
    val closed = readLastRunQueries(closedPath)
    val latest = readLastRunQueries("BENCH_FULL_LATEST.json")
    val name =
      if (closed.nonEmpty) s"$closedPath (+LATEST for new queries)"
      else "BENCH_FULL_LATEST.json"
    (name, latest ++ closed)
  }

  /** Locale-pinned 3-decimal seconds: the default-locale `f"%.3f"` emits
    * a comma decimal separator under e.g. de_DE, which would corrupt the
    * one-line JSON contract.
    */
  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", java.lang.Double.valueOf(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Session.local()

    // Optional comma-separated filter for targeted profiling runs.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Previous per-query medians for the outlier/drift re-time blocks:
    // the last CLOSED round's artifact, falling back to LATEST only for
    // queries new this round (see adjudicationBaseline). Read BEFORE the
    // sweep (this run may overwrite LATEST).
    val (baselineName, baseline) = adjudicationBaseline()
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

    // ---- artifact emission, PHASE 1 (VERDICT r20 task 2) ----
    // Everything the driver's one-line contract needs is known right
    // here, before any end-of-sweep adjudication: the canary/re-time
    // blocks only ADD metadata, they never change the first-pass map.
    // r20's driver window proved the old order fatal: a timeout mid
    // re-time (rc=124) left BENCH_r20.json with parsed:null even though
    // the sweep itself was complete. So the canonical stdout line and
    // the full-map files are written NOW, and re-written (enriched)
    // after adjudication; a killed adjudication pass can no longer cost
    // the round its bench artifact.

    // escape ALL control chars: exception text regularly carries newlines,
    // which would break the one-line JSON contract exactly on failures
    def jstr(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val qs = times.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    // compact variant (3-decimal seconds): the driver's bench artifact
    // keeps only the last ~2000 chars of output, so every byte of the
    // printed line costs visible per-query entries in the record
    val qsCompact = times.map { case (k, v) => s"${jstr(k)}:${f3(v)}" }
      .mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = times.values.sum
    val rc = if (errors.nonEmpty) 1 else 0
    println(s"""{"metric":"total","value":$total,"unit":"sec","rc":$rc,"queries":$qsCompact,"errors":$es,"n_failed":${errors.size},"n_queries":${times.size},"sf":"$sfDir"}""")
    System.out.flush()

    // Artifact writer, shared by phase 1 (post-sweep, adjudication
    // blocks still empty) and phase 2 (enriched): reads the mutable
    // telemetry state at CALL time. LASTRUN is always written (failure
    // evidence included); LATEST only on a CLEAN run, so a gate ratio
    // anchored to it can never seed from a failed/partial bench (the
    // r12 lesson); round-stamped summary only for clean FULL runs.
    val round = inferRound()
    def emitFiles(canaryEnd: collection.Map[String, Double],
                  canaryRatio: Option[Double],
                  retimed: collection.Map[String, Double],
                  drifted: collection.Map[String, Double]): Unit = {
      // canary block: per query [first-pass median, end-of-sweep median];
      // ratio is null when the canary never ran. retimed/drifted: same
      // [first, end] shape for the outlier (>2x) and slow-drift
      // (1.25-2x) re-time bands.
      val canaryJs = canaryEnd.map { case (k, v) =>
        s"${jstr(k)}:[${f3(times(k))},${f3(v)}]" }.mkString("{", ",", "}")
      val canaryRatioJs = canaryRatio.map(f3).getOrElse("null")
      val retimedJs = retimed.map { case (k, v) =>
        s"${jstr(k)}:[${f3(times(k))},${f3(v)}]" }.mkString("{", ",", "}")
      val driftedJs = drifted.map { case (k, v) =>
        s"${jstr(k)}:[${f3(times(k))},${f3(v)}]" }.mkString("{", ",", "}")
      // JVM blocks (VERDICT r19 task 2): "jvm" = first-pass per-query
      // [gc_ms, heap_mb, storage_mb], "jvm_end" = the same for every
      // end-of-sweep re-measurement, "jvm_session" = counters at emit
      // time — a re-time that blows up WITH a gc/heap spike is session
      // pressure, one that blows up on flat telemetry is the host window
      val jvmSessionJs = s"""{"gc_total_ms":${gcTotalMs()},""" +
        s""""heap_used_mb":${heapUsedMb()},""" +
        s""""heap_max_mb":${Runtime.getRuntime.maxMemory() >> 20},""" +
        s""""storage_mb":${storageUsedMb(spark)},""" +
        s""""scratch_mb":${Session.localDirs.map(dirUsedMb).sum}}"""
      // queries_adjudicated (VERDICT r21 task 6): the first-pass map
      // with every outlier/drift re-timed query OVERWRITTEN by its
      // end-of-sweep median — the spike-free per-query map a
      // round-over-round comparison should read, emitted first-class so
      // no consumer has to re-derive it from the retimed/drifted blocks.
      // Additions only: "queries" stays the untouched first-pass map.
      val adjudicated = adjudicatedMap(times, retimed, drifted)
      val adjJs = adjudicated.map { case (k, v) =>
        s"${jstr(k)}:${f3(v)}" }.mkString("{", ",", "}")
      val canaryFields =
        s""""canary":$canaryJs,"canary_ratio":$canaryRatioJs,"retimed":$retimedJs,"drifted":$driftedJs,"queries_adjudicated":$adjJs,"jvm":${jvmJson(jvm)},"jvm_end":${jvmJson(jvmEnd)},"jvm_session":$jvmSessionJs"""
      val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","rc":$rc,"queries":$qs,"errors":$es,$canaryFields,"n_failed":${errors.size},"n_queries":${times.size},"sf":"$sfDir"}"""
      def writeLine(path: String, line: String): Unit =
        try {
          val out = new java.io.PrintWriter(path, "UTF-8")
          try out.println(line) finally out.close()
        } catch { case e: Throwable =>
          System.err.println(s"[bench] could not write $path: $e") }
      writeLine("BENCH_FULL_LASTRUN.json", fullJson)
      if (rc == 0 && only.isEmpty) writeLine("BENCH_FULL_LATEST.json", fullJson)
      val summaryJson =
        s"""{"metric":"total","value":${f3(total)},"unit":"sec","rc":$rc,"queries":$qsCompact,"errors":$es,$canaryFields,"n_failed":${errors.size},"n_queries":${times.size},"sf":"$sfDir"}"""
      writeLine("BENCH_SUMMARY_LASTRUN.json", summaryJson)
      if (rc == 0 && only.isEmpty)
        writeLine(s"BENCH_SUMMARY_r$round.json", summaryJson)
    }
    // phase 1: full artifacts on disk BEFORE any adjudication runs
    emitFiles(Map.empty, None, Map.empty, Map.empty)

    // End-of-sweep adjudication runs under a wall budget (VERDICT r20
    // task 2): r20's driver window triggered 20 outlier re-times of the
    // WORST (slowest) queries, each a warmup + 3 timed runs — the pass
    // alone outlived the driver's timeout. Two caps: a query whose
    // first-pass median exceeded 10 s is re-timed with ONE run (its
    // signal is whole seconds; a median of 3 buys noise rejection only
    // at sub-second scale), and the whole pass stops loudly once the
    // budget is spent.
    val retimeBudgetS = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_RETIME_BUDGET_S", "600").toDouble
    val adjDeadline = System.nanoTime() + (retimeBudgetS * 1e9).toLong
    def budgetLeft(): Boolean = System.nanoTime() < adjDeadline
    def adjRuns(first: Double): Int = if (first > 10.0) 1 else runs

    // Canary re-run (r15 verdict task 4): the fuzzy-dedup family twice
    // inflated 2-3.7x in driver bench windows while same-code local runs
    // stayed <=1.2x — ambient host contention, but each time it cost a
    // cross-artifact adjudication. Re-timing a fixed 10-query subset
    // (dedup/LSH, TPC-H, events, the pipeline) at the END of the sweep
    // makes the artifact itself carry the window's noise: each canary
    // records [first-pass, end-of-sweep] medians, and canary_ratio
    // (sum end / sum first) >> 1 means the WINDOW drifted — same code,
    // same data, minutes apart — not the queries.
    val canaryNames = Seq("dedup_fuzzy", "dedup_fuzzy_keep_best",
      "dedup_fuzzy_kept", "dedup_guarded_kept", "dedup_minhash_pairs",
      "tpch_q1_pricing", "tpch_q5_region_volume", "events_funnel",
      "events_asof_join", "pipeline_gold_readback",
      // pinned after its r19 driver-window anomaly (first-pass 4.6 s,
      // end-of-sweep re-time 29.2 s — the only unexplained >2x): as a
      // canary it gets a [first, end] pair in EVERY artifact, with
      // jvm/jvm_end telemetry, so a recurrence is adjudicable in-file
      "events_seq_patterns_gap3")
    val canaryEnd = scala.collection.mutable.LinkedHashMap[String, Double]()
    // SPARK_GRAFT_BENCH_CANARY=force exercises the canary on a filtered
    // profiling run (normally it only runs after a clean FULL sweep)
    if (errors.isEmpty &&
        (only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_CANARY"))) {
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
    // canary_ratio is None — emitted as JSON null — when the canary never
    // ran (filtered run, errors, or every canary threw): "not measured"
    // must stay distinguishable from a measured clean window (ADVICE r16)
    val canaryRatio: Option[Double] =
      if (canaryEnd.isEmpty) None
      else Some(canaryEnd.values.sum /
        math.max(1e-9, canaryEnd.keys.map(times).sum))

    // Shared end-of-sweep re-time for the two adjudicator blocks (the
    // blocks were near-verbatim copies, ADVICE r18): candidates above
    // `ratio` x their baseline value, capped at the `cap` worst ratios —
    // if MANY queries exceed the trigger, the window itself drifted,
    // which canary_ratio already stamps. Entries already in the canary
    // set (or, for the drift block, already outlier-re-timed via
    // `skip`) reuse that end-of-sweep median — same semantics, no
    // duplicate work.
    def retimeWorst(ratio: Double, cap: Int, label: String,
        skip: collection.Set[String])
        : scala.collection.mutable.LinkedHashMap[String, Double] = {
      val out = scala.collection.mutable.LinkedHashMap[String, Double]()
      if (errors.nonEmpty || baseline.isEmpty) return out
      val cands = times.toSeq
        .filter { case (n, t) =>
          baseline.get(n).exists(prev => t > ratio * prev) && t >= 0.5 &&
            !skip.contains(n) }
        .sortBy { case (n, t) => -(t / math.max(baseline(n), 1e-9)) }
      if (cands.size > cap)
        System.err.println(s"[bench] ${cands.size} queries read >${ratio}x " +
          s"$baselineName — $label-re-timing only the $cap worst " +
          "(window drift; see canary_ratio)")
      cands.take(cap).foreach { case (name, first) =>
        canaryEnd.get(name) match {
          case Some(end) => out += name -> end
          case None if !budgetLeft() =>
            // budget exhaustion is loud but not fatal: the first-pass
            // map and phase-1 artifacts already exist; what's lost is
            // only this outlier's in-file exoneration
            System.err.println(s"[bench] $label $name SKIPPED — " +
              s"adjudication budget (${retimeBudgetS.toLong}s) spent")
          case None =>
            try {
              val m = measureQuery(spark, sfDir, adjRuns(first),
                SparkEntry.queries(name))
              out += name -> m.median
              jvmEnd += name -> ((m.gcMs, m.heapMb, m.storageMb))
              System.err.println(s"[bench] $label $name first=${f3(first)} " +
                s"end=${f3(m.median)} s (baseline=${f3(baseline(name))}) " +
                s"gc=${m.gcMs}ms heap=${m.heapMb}MiB")
            } catch { case e: Throwable =>
              System.err.println(s"[bench] $label retime FAILED $name: $e")
            }
        }
      }
      out
    }

    // Per-query outlier re-time (r16 verdict task 3): any query whose
    // first-pass median is > 2x its last-closed-round value gets ONE
    // end-of-sweep re-time in the SAME artifact, so a ">2x regression?"
    // question is answered without cross-file adjudication — twice
    // (r15 fuzzy family, r16 guarded_keep_best) driver-window outliers
    // were ambient noise that a local re-run had to prove.
    val retimed = retimeWorst(2.0, 20, "retime", Set.empty)

    // Slow-DRIFT re-time (r17 verdict task 5): the >2x trigger missed
    // the band where r17's real movement lived (the llm_corpus_prep
    // family drifted 1.26-1.63x under a clean canary and went
    // unadjudicated). Any query >1.25x its baseline that the outlier
    // block did not already re-time gets ONE end-of-sweep re-time.
    val drifted = retimeWorst(1.25, 10, "drift", retimed.keySet)

    // phase 2: re-emit the artifacts enriched with the adjudication
    // blocks (canary/retimed/drifted/jvm_end + final session counters).
    // The stdout "total" line was already printed before adjudication —
    // deliberately NOT printed again, so consumers see exactly one line
    // with metric "total"; everything adjudication adds rides the files
    // and the trailing total_summary line below.
    emitFiles(canaryEnd, canaryRatio, retimed, drifted)
    val canaryRatioJs = canaryRatio.map(f3).getOrElse("null")
    // trailing summary line: short enough to ALWAYS fit the tail window,
    // carries the coverage count and the pointer to the full map. Metric
    // name is DISTINCT from the per-query line's "total" so a consumer
    // summing metric lines can never double-count the suite time.
    println(s"""{"metric":"total_summary","value":${f3(total)},"unit":"sec","n_queries":${times.size},"n_failed":${errors.size},"canary_ratio":$canaryRatioJs,"n_retimed":${retimed.size},"n_drifted":${drifted.size},"sf":"$sfDir","full_queries_in":"BENCH_FULL_LATEST.json"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
