package graft.tools

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: scale-up stress probe. Replicates the fixture corpora k-fold
  * (ids offset per copy; texts salted so copies are near- but not
  * exact-duplicates across replicas) and times the sketch-based operators,
  * answering "does the candidate volume stay linear?" with data instead of
  * hope.
  *
  * Usage: runMain graft.tools.ScaleProbe <sfDir> <k> [probe,probe,...]
  * (the optional third arg filters probes by name, for targeted re-runs)
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val k = args(1).toInt
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val spark = graft.Session.local()

    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val n0 = docs0.count()
    // replica r: ids offset, text prefixed with a replica token so
    // replicas are distinct documents (prefix changes leading shingles)
    val docs = (0 until k).map { r =>
      docs0.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
        concat(lit(s"r$r "), col("text")).as("text"))
    }.reduce(_ unionByName _)
    docs.write.format("noop").mode("overwrite").save()

    // keepCache=true for probes serving from a PREBUILT persisted index:
    // clearCache() would silently drop the index and re-bill its build
    // to the serving timer
    def t(name: String, keepCache: Boolean = false)(df: => DataFrame): Unit = {
      if (only.exists(!_.contains(name))) return
      if (!keepCache) spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val rows = df.count()
      println(f"[scale] k=$k%-3d docs=${n0 * k}%-7d $name%-22s " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  ($rows rows)")
    }
    t("minhash_pairs")(Dedup.lshCandidatePairs(docs, "doc_id", 16, 4))
    t("fuzzy")(Dedup.fuzzy(docs, "doc_id", 16, 4, 0.5))
    t("simhash_pairs")(
      Dedup.simhashPairs(Dedup.simhash(docs, "doc_id", "text"), 3))
    // the EXACT prefix-filtered join next to the LSH approximations: the
    // candidate volume is prefix-token-density-bound, so the ladder must
    // stay near the fuzzy family's slope (replicas are distinct docs —
    // prefixes stay diverse as k grows)
    t("setsim_pairs")(Dedup.setSimilarityPairs(docs, "doc_id", 0.5))

    // exact containment self-join: candidate volume rides prefix-token
    // frequency (the container side indexes its FULL token set — no
    // length filter exists for containment), so the ladder watches the
    // slope against the anchor-blocked approximation's
    if (only.exists(_.contains("containment_exact"))) {
      t("containment_exact")(
        Dedup.containmentSelfPairs(docs, "doc_id", 0.5))
      t("containment_anchored")(
        Dedup.containmentPairs(docs,
          Dedup.anchorCandidatePairs(docs, "doc_id", 8),
          "doc_id", k = 3, threshold = 0.5))
    }

    // word-set mode (k = 1): the DEGENERATE regime for prefix filtering
    // — the fixture's 31-word vocabulary makes every prefix token
    // corpus-common (r16 with plain AllPairs prefixes: 12.3M candidates
    // / 60 s at sf0.1). The PPJoin asymmetric-prefix + length +
    // positional filters must measurably bound the candidate set, so
    // this probe reports the candidate COUNT next to the timing.
    if (only.exists(_.contains("setsim_words"))) {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val (cand, _) = Dedup.setSimilarityCandidates(docs, "doc_id", 0.5,
        "text", 1, 0)
      val nc = cand.count()
      println(f"[scale] k=$k%-3d docs=${n0 * k}%-7d setsim_words_cands   " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  ($nc candidates)")
      t("setsim_words")(
        Dedup.setSimilarityPairs(docs, "doc_id", 0.5, k = 1))
    }

    // WEIGHTED (multiset) family (r18), on the DIVERSE k=3 shingle
    // universe — the blocking-slope measurement (the word-universe
    // declared queries are output-bound by construction, like
    // dedup_setsim_words: 12M true pairs at sf0.1/k1, so their ladder
    // would measure output writing, not candidate growth). Replicas are
    // weighted near-dups of each other, so output grows ~k^2 * n0 while
    // candidates must stay prefix-token-density-bound; the incremental
    // rungs pay one batch (replica 0) against the rest as corpus — the
    // per-ingest price.
    if (only.exists(o => o.contains("setsim_weighted") ||
        o.contains("containment_weighted"))) {
      if (only.exists(_.contains("setsim_weighted")))
        t("setsim_weighted")(
          Dedup.weightedSetSimilarityPairs(docs, "doc_id", 0.5, k = 3))
      if (only.exists(_.contains("containment_weighted")))
        t("containment_weighted")(
          Dedup.weightedContainmentPairs(docs, "doc_id", 0.5, k = 3))
      if (k >= 2 && only.exists(_.contains("setsim_weighted")))
        t("setsim_weighted_incr")(
          Dedup.weightedSetSimilarityIncremental(
            docs.filter(col("doc_id") >= 10000000L),
            docs.filter(col("doc_id") < 10000000L),
            "doc_id", 0.5, k = 3))
      if (k >= 2 && only.exists(_.contains("containment_weighted")))
        t("containment_weighted_incr")(
          Dedup.weightedContainmentIncremental(
            docs.filter(col("doc_id") >= 10000000L),
            docs.filter(col("doc_id") < 10000000L),
            "doc_id", 0.5, k = 3))
    }

    // stage attribution of weightedContainmentPairs (r18 verdict task 5:
    // the k=4 rung looked superlinear) — the triangles_attr discipline:
    // reimplement the operator's stages with per-stage timers and
    // persisted cuts so each stage bills only its own compute. Differs
    // from the operator only in persisting `rows` (so the candidate
    // join doesn't re-bill the suffix-weight window) and skipping the
    // no-op bucket cap.
    if (only.exists(_.contains("containment_w_attr"))) {
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val eps = 1e-9
      val th = 0.5
      graft.functions.GraftFunctions.register(spark)
      spark.catalog.clearCache(); System.gc()
      var t0 = System.nanoTime()
      val tf = docs.select(col("doc_id"),
          explode(coalesce(call_function("graft_word_grams",
            lower(col("text")), lit(3), lit(false)),
            typedLit(Seq.empty[String]))).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf")).persist(sl)
      val nTf = tf.count()
      println(f"[scale] k=$k%-3d cw_tf                 " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  ($nTf rows)")
      t0 = System.nanoTime()
      val freq = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
      val docTokens = tf.join(freq, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(
            struct(col("df"), col("w"), col("tf")))).as("ts"),
          sum(col("tf")).as("sw")).persist(sl)
      val nDt = docTokens.count()
      println(f"[scale] k=$k%-3d cw_doctokens          " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  ($nDt rows)")
      t0 = System.nanoTime()
      val rows = docTokens.select(col("doc_id"), col("sw"),
          posexplode(col("ts")).as(Seq("p0", "pt")))
        .withColumn("suffw", col("sw") - sum(col("pt.tf")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col("p0"))) + col("pt.tf"))
        .select(col("doc_id"), col("sw"), col("suffw"),
          col("pt.w").as("w"), col("pt.tf").as("tf")).persist(sl)
      val nRows = rows.count()
      println(f"[scale] k=$k%-3d cw_suffw_rows         " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  ($nRows rows)")
      t0 = System.nanoTime()
      val prefix = rows.filter(col("suffw").cast("double") >=
        lit(th) * col("sw") - lit(eps))
      val matches = prefix.select(col("w"), col("doc_id").as("na"),
          col("sw").as("sa"), col("suffw").as("fa"), col("tf").as("ta"))
        .join(rows.select(col("w"), col("doc_id").as("nb"),
          col("sw").as("sb"), col("suffw").as("fb"), col("tf").as("tb")),
          Seq("w"))
        .filter(col("sa") < col("sb") ||
          (col("sa") === col("sb") && col("na") < col("nb")))
        .persist(sl)
      val nMatch = matches.count()
      println(f"[scale] k=$k%-3d cw_match_rows         " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  ($nMatch rows)")
      t0 = System.nanoTime()
      val cand = matches
        .groupBy(col("na"), col("nb"))
        .agg(sum(least(col("ta"), col("tb"))).as("ms"),
          min(struct(col("fa"), col("ta"), col("fb"), col("tb")))
            .as("lastr"),
          first(col("sa")).as("sa"))
        .filter((col("ms") +
            least(col("lastr.fa") - col("lastr.ta"),
              col("lastr.fb") - col("lastr.tb"))).cast("double") >=
          lit(th) * col("sa") - lit(eps))
        .select(least(col("na"), col("nb")).as("doc_a"),
          greatest(col("na"), col("nb")).as("doc_b"))
        .persist(sl)
      val nCand = cand.count()
      println(f"[scale] k=$k%-3d cw_cand_suffixfilt    " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  ($nCand pairs)")
      t0 = System.nanoTime()
      val docArrs = tf.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("w"), col("tf"))))
          .as("wt"))
        .select(col("doc_id"),
          expr("transform(wt, x -> x.w)").as("ws"),
          expr("transform(wt, x -> x.tf)").as("tfs"))
        .persist(sl)
      val nArr = docArrs.count()
      println(f"[scale] k=$k%-3d cw_doc_arrays         " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  ($nArr rows)")
      t0 = System.nanoTime()
      val sums = docTokens.select(col("doc_id"), col("sw"))
      val m = cand
        .join(broadcast(docArrs.select(col("doc_id").as("doc_a"),
          col("ws").as("wsa"), col("tfs").as("tfa"))), Seq("doc_a"))
        .join(broadcast(docArrs.select(col("doc_id").as("doc_b"),
          col("ws").as("wsb"), col("tfs").as("tfb"))), Seq("doc_b"))
        .withColumn("m", call_function("graft_woverlap",
          col("wsa"), col("tfa"), col("wsb"), col("tfb")))
        .drop("wsa", "tfa", "wsb", "tfb")
        .join(sums.select(col("doc_id").as("doc_a"), col("sw").as("sa")),
          Seq("doc_a"))
        .join(sums.select(col("doc_id").as("doc_b"), col("sw").as("sb")),
          Seq("doc_b"))
        .filter(greatest(col("m").cast("double") / col("sa"),
          col("m").cast("double") / col("sb")) >= th)
      val nVer = m.count()
      println(f"[scale] k=$k%-3d cw_verify_merge       " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  ($nVer pairs)")
    }

    // per-ingest serving cost: a FIXED batch (replica 0, n0 docs) joined
    // against a PRE-BUILT index over the rest — what a production ingest
    // pays per batch once the index exists (index build excluded from the
    // timer; it is amortized across the corpus lifetime). Should stay
    // ~flat as k grows: the join is bucket-density-bound, not
    // corpus-bound.
    if (k >= 2 && only.forall(_.contains("incr_ingest_join"))) {
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val batch0 = docs.filter(col("doc_id") < 10000000L)
      val corpusRest = docs.filter(col("doc_id") >= 10000000L)
      val idx = Dedup.bandIndex(corpusRest, "doc_id", 16, 4).persist(sl)
      idx.count()
      val bNew = Dedup.bandIndex(batch0, "doc_id", 16, 4).persist(sl)
      bNew.count()
      t("incr_ingest_join", keepCache = true)(
        Dedup.incrementalLshCandidatesIndexed(idx, bNew))
      idx.unpersist(); bNew.unpersist()
    }

    // the guarded production composition end-to-end (exact collapse +
    // capped fuzzy + cluster resolution + keep-first) — the replica
    // corpus is ~100% NEAR-dups (worst case for resolution: one giant
    // pair set, nothing exact-collapsible)
    t("guarded_keepfirst")(
      Dedup.nearDupKeepFirst(docs, "doc_id", 16, 4, 0.5, maxBucketSize = 1000))

    // the guarded composition with the QUALITY-AWARE keeper: identical
    // sketch/resolution work to keep-first plus one candidate-sized
    // score join — cost must track guarded_keepfirst, not diverge
    t("guarded_keepbest")(
      Dedup.nearDupKeepBest(docs.withColumn("n_chars", length(col("text"))),
        "doc_id", 16, 4, 0.5, col("n_chars"), maxBucketSize = 1000))

    // chunk -> shard -> pack layout: chunking is map-only (one explode),
    // packing one window per shard — the whole manifest must scale with
    // the corpus scan
    t("training_layout") {
      val chunks = graft.ops.TextAnalysis.chunkDocuments(docs, "doc_id",
          "text", chunkTokens = 16, overlap = 8)
        .withColumn("chunk_uid",
          graft.ops.TextAnalysis.chunkUid(col("doc_id"), col("chunk_idx")))
        .withColumn("shard", (Dedup.hashBucket(col("chunk_uid")) % 8).cast("int"))
        .withColumn("n_tokens", col("n_tokens").cast("long"))
      graft.ops.TextAnalysis.packBinsSharded(chunks, "shard", "chunk_uid",
        "n_tokens", capacity = 256)
    }

    // release publish: the physical write path (shard-partitioned
    // parquet via atomic swap) + read-back + manifest compare — cost
    // must track the corpus scan; the verify half shuffles only
    // (id, md5) fixed-width rows
    if (only.exists(_.contains("release_publish"))) {
      val out = graft.Scratch.tmpfsDir("graft_spark") + s"/probe_publish_$k"
      t("release_publish")(
        graft.ops.Corpus.publishRelease(docs, "doc_id", "text",
          nShards = 8, outDir = out))
    }

    // END-TO-END release chain (r18 verdict task 7): the one plan a
    // 100-TB deployment actually runs, whole — guarded fuzzy keep-first
    // -> benchmark decon (flags from the RAW corpus) -> Gopher format
    // gate -> classifier top-half gate -> curation -> physical
    // shard-partitioned publish + read-back manifest verify
    // (llm_corpus_prep_publish's exact stage composition). The
    // per-stage ladders above bound each stage alone; this rung watches
    // their COMPOSITION (shared scans, one lazy plan, the publish
    // swap), so an emerging superlinear tail can be attributed to its
    // stage against those ladders. Needs `source` for the decon bench
    // and the classifier labels, so the replication here keeps it.
    if (only.exists(_.contains("publish_chain"))) {
      // lineage cut: the chain stacks dedup + decon + gates + publish on
      // top of this relation, and Catalyst's constraint propagation over
      // a k-way union under that stack OOMs the driver at k=64 — the
      // probe input becomes a plain block scan, like a real deployment's
      // table read
      val docsSrc = (0 until k).map { r =>
        docs0.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
          concat(lit(s"r$r "), col("text")).as("text"), col("source"))
      }.reduce(_ unionByName _).localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val out = graft.Scratch.tmpfsDir("graft_spark") + s"/probe_publish_chain_$k"
      t("publish_chain") {
        val kept = Dedup.nearDupKeepFirst(docsSrc, "doc_id",
          numHashes = 16, bands = 4, threshold = 0.5, maxBucketSize = 64)
        val bench = docs0.filter(col("source") === "src9")
          .select(col("doc_id"), col("text"))
        val flagged = graft.ops.TextAnalysis.contaminationReport(docsSrc,
          bench, "doc_id", "text", n = 8)
        val clean = graft.ops.TextAnalysis.removeFlagged(kept, flagged,
          "doc_id")
        val gated = graft.ops.TextAnalysis.gopherFilter(clean, "doc_id",
          "text", requireStopWords = false)
        val sk = graft.ops.QualityModel.featureSketch(docsSrc, "doc_id",
          "text", when(col("source").isin("src0", "src1", "src2", "src3",
            "src4"), 1).otherwise(0), dim = 64)
        val w = graft.ops.QualityModel.trainHashedLogRegWith(sk, "doc_id",
          lr = 0.5, iters = 3)
        val top = graft.ops.QualityModel.keepTopScoredWith(docsSrc,
          "doc_id", sk, w, quantile = 0.5).select(col("doc_id"))
        val released = gated.join(top, Seq("doc_id"), "left_semi")
        val curated = graft.ops.TextAnalysis.curationFilter(released,
          "doc_id", "text", minTokens = 20, maxTokens = 2000,
          minQuality = 0.1, maxRepetition = 0.2, keepLang = "en")
        val rel = docsSrc.join(curated.select(col("doc_id")),
          Seq("doc_id"), "left_semi").select(col("doc_id"), col("text"))
        graft.ops.Corpus.publishRelease(rel, "doc_id", "text",
          nShards = 8, outDir = out)
      }
    }

    // Hot-bucket cap recall audit at the publish rungs (VERDICT r19
    // task 4): the publish_chain ladder fires the cap loudly at k=64
    // but records nothing about what the cap DROPPED. This probe
    // replays the chain's fuzzy-stage input (same docsSrc replication,
    // same upstream exact collapse) and reports (a) the lshCapAudit
    // row at cap=64 — buckets over cap, band rows inside them, docs
    // skipping detection — and (b) at small k where the uncapped join
    // is feasible, the capped-vs-uncapped VERIFIED-pair counts, i.e.
    // the true pairs the cap actually costs.
    if (only.exists(_.contains("publish_cap_audit"))) {
      val cap = 64
      val docsSrc = (0 until k).map { r =>
        docs0.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
          concat(lit(s"r$r "), col("text")).as("text"))
      }.reduce(_ unionByName _).localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val collapsed = Dedup.exactKeepFirst(docsSrc, "doc_id", "text")
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val audit = Dedup.lshCapAudit(collapsed, "doc_id", 16, 4, cap)
        .collect().head
      println(f"[scale] k=$k%-3d docs=${n0 * k}%-7d publish_cap_audit     " +
        f"cap=$cap buckets=${audit.getLong(1)} hot=${audit.getLong(2)} " +
        f"band_rows_dropped=${audit.getLong(3)} " +
        f"docs_affected=${audit.getLong(4)}")
      spark.catalog.clearCache()
      val capped = Dedup.fuzzy(collapsed, "doc_id", 16, 4, 0.5,
        maxBucketSize = cap)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nCapped = capped.count()
      if (k <= 16) {
        val nUncapped = Dedup.fuzzy(collapsed, "doc_id", 16, 4, 0.5).count()
        val recall = if (nUncapped == 0) 1.0 else nCapped.toDouble / nUncapped
        println(f"[scale] k=$k%-3d docs=${n0 * k}%-7d publish_cap_pairs     " +
          f"capped=$nCapped uncapped=$nUncapped missed=${nUncapped - nCapped} " +
          f"recall=$recall%.4f")
      } else {
        // EXACT missed-pair count without the uncapped self-join: a
        // missed pair must have had ALL its candidate witnesses inside
        // hot buckets, so generating candidates from the hot buckets
        // ALONE (sum of hot-bucket-size^2 rows — bounded, since the
        // hot set is corpus/cap buckets) and verifying them covers
        // every possibly-missed pair; anti-join the capped result
        val banded = Dedup.bandIndex(collapsed, "doc_id", 16, 4)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        banded.count()
        val hot = banded.groupBy(col("band"), col("sig"))
          .agg(count(lit(1)).as("bsz")).filter(col("bsz") > cap)
          .select(col("band"), col("sig"))
        val hb = banded.join(hot, Seq("band", "sig"), "left_semi")
        val candHot = hb.as("a").join(hb.as("b"),
            col("a.band") === col("b.band") &&
              col("a.sig") === col("b.sig") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        val verifiedHot = Dedup.jaccardVerify(collapsed, candHot,
          "doc_id", 3, 0.5)
        val nMissed = verifiedHot
          .join(capped.select(col("doc_a"), col("doc_b")),
            Seq("doc_a", "doc_b"), "left_anti").count()
        val nUncapped = nCapped + nMissed
        println(f"[scale] k=$k%-3d docs=${n0 * k}%-7d publish_cap_pairs     " +
          f"capped=$nCapped uncapped=$nUncapped (=capped+hot-only) " +
          f"missed=$nMissed recall=${nCapped.toDouble / nUncapped}%.4f")
        banded.unpersist()
      }
      capped.unpersist()
    }

    // interleaved multimodal packing: the doc<->media join reduces the
    // payload to octet_length map-side, then one window per shard —
    // must track the corpus scan like training_layout
    if (only.exists(_.contains("interleaved_pack"))) {
      val media = docs.filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id").as("media_id"),
          encode(col("text"), "UTF-8").as("media"))
      t("interleaved_pack")(
        graft.ops.Multimodal.interleavedPack(docs, media, nShards = 8,
          capacity = 512))
    }

    // tf-idf over the k-fold corpus: the (doc, term) sketch relation grows
    // linearly; the vocabulary (term-window side) stays ~fixed
    t("tfidf_topk")(
      graft.ops.TextAnalysis.tfidfTopK(docs, "doc_id", "text", 3))

    // decontamination against a FIXED benchmark (the original src9 slice):
    // the broadcast gram set is constant-size, so cost should track the
    // corpus scan linearly with no join blowup — every replica of a
    // contaminated doc is flagged
    val bench = docs0.filter(col("source") === "src9")
      .select(col("doc_id"), col("text"))
    t("decon_report")(
      graft.ops.TextAnalysis.contaminationReport(docs, bench, "doc_id", "text", 8))
    t("decontaminate")(
      graft.ops.TextAnalysis.decontaminate(docs, bench, "doc_id", "text", 8))
    // the bloom-prefiltered face: same result, but non-overlapping corpus
    // grams die inside the scan instead of probing the exact join — the
    // gap vs `decontaminate` should WIDEN with k (join input is hit-sized,
    // not corpus-gram-sized)
    t("decon_bloom")(
      graft.ops.TextAnalysis.decontaminateBloom(docs, bench, "doc_id", "text", 8))

    // exact-substring (20-token-window) dedup: the window relation grows
    // linearly with the corpus (one row per token position), the
    // per-window min-owner rides the same exchange, and the replica
    // corpus is worst-case (every replica of a doc shares ALL its
    // windows except the salted prefix ones with every other replica)
    t("substring_dedup")(
      graft.ops.TextAnalysis.substringDedup(docs, "doc_id", "text", w = 20))
    // the classical production window (Lee et al. w=50): fewer windows
    // per doc (only >= 50-token docs emit any), wider keys — cost must
    // stay at or under the w=20 row
    t("substring_dedup_w50")(
      graft.ops.TextAnalysis.substringDedup(docs, "doc_id", "text", w = 50))

    // line-level dedup with 50 planted frequent footer lines: the line
    // aggregate and anti-join both grow with the line stream, linearly
    t("line_dedup")(
      graft.ops.TextAnalysis.lineDedup(
        docs.select(col("doc_id"), concat_ws("\n", col("text"),
          concat(lit("footer "), col("doc_id") % 50)).as("text")),
        "doc_id", "text", minDocs = 10))

    // grouped percentiles at corpus scale: the EXACT sort-based
    // percentile buffers each group's values inside single tasks (the
    // known 100 TB OOM face — 5 groups here, so each task holds
    // corpus/5 values); the GK sketch is a bounded-state mergeable
    // partial aggregate whose cost must track the corpus linearly and
    // stay at-or-under the exact row as k grows
    val lenGrouped = docs
      .withColumn("grp", (col("doc_id") % 5).cast("string"))
      .withColumn("len", length(col("text")))
    t("length_stats_exact")(
      graft.ops.TextAnalysis.lengthStats(lenGrouped, "grp", "len"))
    t("length_stats_sketch")(
      graft.ops.TextAnalysis.lengthStatsSketch(lenGrouped, "grp", "len"))

    // the data card's distinct-count faces: exact countDistinct carries
    // every distinct 16-byte hash in aggregation state (corpus-sized
    // for a hot slice); the HLL sketch's state is rsd-bounded — cost
    // must track the scan and stay at-or-under the exact row
    val cardDocs = docs
      .withColumn("source", concat(lit("src"), col("doc_id") % 5))
      .withColumn("lang", lit("en"))
    t("data_card_exact")(
      graft.ops.Corpus.dataCard(cardDocs, "source", "lang"))
    t("data_card_sketch")(
      graft.ops.Corpus.dataCardSketch(cardDocs, "source", "lang"))

    // BM25 over the k-fold corpus: hit volume grows linearly with the
    // corpus; the top-k stays k-sized (TakeOrderedAndProject)
    t("bm25_topk")(
      graft.ops.TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq("spark", "join", "vector"), 10))

    // token-budget sample: the distributed prefix-sum's per-bucket
    // windows grow linearly; the offset relation stays 100 rows
    t("token_budget")(
      Dedup.tokenBudgetSample(docs.withColumn("n_chars", length(col("text"))),
        "doc_id", "n_chars", budget = 75000L * k))

    // materialized sequence packing: per-shard windows (10 shards via a
    // deterministic doc_id bucket) + capacity-bounded per-bin collects —
    // bins grow linearly with the corpus, bin SIZE stays fixed
    t("pack_sequences")(
      graft.ops.TextAnalysis.packSequences(
        docs.withColumn("shard", (col("doc_id") % 10).cast("string"))
          .withColumn("n_chars", length(col("text"))),
        "shard", "doc_id", "text", "n_chars", capacity = 4096))

    // rank fusion: two candidate lists (BM25 top-50 and a quality top-50)
    // fused by RRF — candidate-bound (2 x 50 rows) regardless of corpus
    // size; only the upstream rankers see the full corpus
    t("rrf_fusion") {
      val lex = graft.ops.TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq("spark", "join", "vector"), 50).select(col("doc_id"), col("rnk"))
      val wq = org.apache.spark.sql.expressions.Window
        .orderBy(col("q").desc, col("doc_id"))
      val qual = docs.select(col("doc_id"),
          (length(col("text")) % 97).as("q"))
        .withColumn("rnk", row_number().over(wq)).filter(col("rnk") <= 50)
        .select(col("doc_id"), col("rnk"))
      graft.ops.TextAnalysis.rrfFuse(Seq(lex, qual), "doc_id", "rnk", 60, 20)
    }

    // subword token counting: map-only codegen scan — must track the
    // corpus size linearly with no exchange in the plan
    t("bpe_tokens")(
      graft.ops.TextAnalysis.withBpeTokens(docs, "text")
        .select(col("doc_id"), col("n_bpe_tokens")))

    // per-doc duplicate-gram coverage: one scan, one gram shuffle (the
    // window formulation); on the replica corpus most grams appear in k
    // documents, so the dup flag fires almost everywhere — worst case
    // for the window partition sizes
    t("dup_gram_coverage")(
      graft.ops.TextAnalysis.dupGramCoverage(docs, "doc_id", "text", 5, 2))

    // temperature-scaled mixture sampling end-to-end over 20 synthetic
    // domains: rates are one partial-aggregated corpus pass into a
    // domain-sized table; the sampler is a broadcast join + map-side
    // filter (budget scaled with k so the kept fraction stays constant)
    t("temperature_mix") {
      val d = docs.withColumn("grp", (col("doc_id") % 20).cast("string"))
        .withColumn("n_chars", length(col("text")))
      Dedup.weightedSampleJoined(d, "doc_id", "grp",
        Dedup.temperatureMixRates(d, "grp", col("n_chars"),
          alpha = 0.5, budget = 75000L * k))
    }

    // epoch-aware mixture end-to-end: same shape as temperature_mix but
    // the budget exceeds the corpus (~2.7 epochs), so the sampler also
    // pays the explode — output grows by the epoch factor, still
    // broadcast-join + map-side
    t("epoch_mix") {
      val d = docs.withColumn("grp", (col("doc_id") % 20).cast("string"))
        .withColumn("n_chars", length(col("text")))
      Dedup.weightedSampleWithEpochs(d, "doc_id", "grp",
        Dedup.temperatureMixEpochRates(d, "grp", col("n_chars"),
          alpha = 0.5, budget = 400000L * k, maxEpochs = 3))
    }

    // fuzzy decontamination vs the FIXED src9 benchmark: benchmark bands
    // broadcast; every replica of a benchmark doc is a verified near-dup,
    // so the flagged set grows linearly with k — candidate volume must
    // track that, not corpus^2
    t("fuzzy_decon")(
      graft.ops.TextAnalysis.fuzzyDecontaminate(docs, bench,
        "doc_id", "text"))

    // interpolated bigram LM: the transition sketch shuffles twice (the
    // (prev, cur) and (prev) windows) plus the term join — all sketch-
    // sized, must stay linear
    t("bigram_logprob")(
      graft.ops.TextAnalysis.bigramLogProb(docs, "doc_id", "text"))

    // in-engine classifier training: 3 fixed GD iterations over the
    // persisted hashed-feature sketch; per-iteration cost is one
    // broadcast weight join + two partial aggregates — linear, model
    // state never exceeds 64 rows
    t("qclf_train")(
      graft.ops.QualityModel.trainHashedLogReg(docs, "doc_id", "text",
        when(Dedup.hashBucket(col("doc_id")) < 25, 1).otherwise(0),
        dim = 64, lr = 0.5, iters = 3))

    // BPE training at vocab scale (opt-in: name it in the probe filter;
    // SPARK_GRAFT_BPE_MERGES sets the merge count, default 256). After
    // the single corpus-sized word count, every round is a vocab-sized
    // job + a 1-row collect — per-round cost must be ~corpus-independent
    if (only.exists(_.contains("bpe_train"))) {
      val nMerges = sys.env.get("SPARK_GRAFT_BPE_MERGES")
        .map(_.toInt).getOrElse(256)
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val m = graft.ops.TextAnalysis.trainBpeMerges(docs, "text", nMerges)
      println(f"[scale] k=$k%-3d docs=${n0 * k}%-7d bpe_train/$nMerges%-14s " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  (${m.size} merges)")
    }

    // BPE training against a vocabulary that GROWS with k (each replica
    // suffixes every word, so distinct words ~= 31 * k): the fixture's
    // 31-word vocabulary hits its merge fixpoint at ~110-290 merges, so
    // probing the 1k-merge regime needs this salted corpus. Isolates the
    // per-round vocab-sized job cost from corpus size (opt-in)
    if (only.exists(_.contains("bpe_train_salted"))) {
      val nMerges = sys.env.get("SPARK_GRAFT_BPE_MERGES")
        .map(_.toInt).getOrElse(256)
      val salted = (0 until k).map { r =>
        docs0.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
          regexp_replace(lower(col("text")), "([a-z0-9]+)", s"$$1x$r")
            .as("text"))
      }.reduce(_ unionByName _)
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val m = graft.ops.TextAnalysis.trainBpeMerges(salted, "text", nMerges)
      println(f"[scale] k=$k%-3d docs=${n0 * k}%-7d bpe_train_salted/$nMerges%-7s " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  (${m.size} merges)")
    }

    // per-group budgets over 20 synthetic domains: the per-(group,
    // bucket) windows grow linearly; the broadcast offset relation stays
    // groups x 100 rows at any corpus size
    t("token_budget_by") {
      val g = docs.withColumn("grp", (col("doc_id") % 20).cast("string"))
        .withColumn("n_chars", length(col("text")))
      val budgets = g.select(col("grp")).distinct()
        .withColumn("budget", lit(7500L) * k)
      Dedup.tokenBudgetSampleBy(g, "doc_id", "n_chars", "grp", budgets)
    }

    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val emb = (0 until k).map { r =>
      emb0.select((col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)
    t("srp_neardup")(Similarity.srpNearDupPairs(emb, 8, 64, 0.35))

    // perturbed replicas for the learned-quantizer probes: one dimension
    // bumped 0.05 per replica so copies are distinct but near-identical
    // (identical copies would collapse any learned codebook to the 10
    // distinct seed vectors)
    val embP = (0 until k).map { r =>
      emb0.select((col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        transform(col("embedding"), (v, i) =>
          (v + when(i === lit(r % 64), lit(0.05f)).otherwise(lit(0.0f)))
            .cast("float")).as("embedding"))
    }.reduce(_ unionByName _)

    // SemDeDup end-to-end (train + cell-blocked pairs + resolution +
    // keep-first) on the near-dup replica corpus. The seed grows with
    // the corpus (10 per replica), mirroring an IVF codebook that scales
    // with the collection; true pair volume grows ~k^2 by construction
    // (every replica family is one dense cluster — resolution's worst
    // case)
    t("semantic_keepfirst")(
      Similarity.semanticKeepFirst(embP, "vec_id",
        embP.filter(col("vec_id") % 50 === 0), maxIters = 2,
        threshold = 0.35))

    // IVF-PQ build + serve inline (coarse cells AND PQ codebooks grow
    // with the corpus: 10 x k centroids each): index build is the
    // broadcast cell-assign + PQ encode over one scan; serving touches
    // only probed cells' code rows through broadcast LUTs
    t("ivfpq_topk")(
      Similarity.ivfPqTopK(embP, col("vec_id") % 1000 === 0,
        m = 4, dim = 64, centroidMod = 50, nprobe = 3, k = 10))

    // label-carrying perturbed replicas for the metadata-constrained
    // search probes (embP drops label)
    lazy val embL = (0 until k).map { r =>
      emb0.select((col("vec_id") + lit(r * 10000000L)).as("vec_id"),
        transform(col("embedding"), (v, i) =>
          (v + when(i === lit(r % 64), lit(0.05f)).otherwise(lit(0.0f)))
            .cast("float")).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)

    // radius search: a FIXED 10-query set broadcast against the k-fold
    // corpus — cost must track the corpus scan linearly (BNLJ, zero
    // shuffles); hit volume grows with the replica families by design
    if (only.forall(_.contains("radius_search"))) {
      val qpred = col("vec_id") < 10000000L && col("vec_id") % 50 === 0
      t("radius_search")(
        Similarity.radiusSearch(embL, qpred, threshold = 0.25))
    }

    // farthest-point coreset selection: k_sel map-only scans + argmax
    // aggregates over the k-fold corpus — cost must be linear in the
    // corpus times the (fixed) selection budget, with zero joins
    if (only.exists(_.contains("coreset_fps"))) {
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val embM = embL.persist(sl); embM.count()
      t("coreset_fps", keepCache = true)(
        Similarity.farthestPointSample(embM, k = 8, startId = 0L))
      embM.unpersist()
    }

    // 2D skyline: per-x min aggregate (corpus -> x-cardinality) + two
    // running mins on that small relation + one broadcast join back —
    // cost must track the corpus scan, never a pairwise dominance join
    if (only.exists(_.contains("skyline"))) {
      val p0 = spark.read.parquet(s"$sfDir/part.parquet")
      val pB = (0 until k).map { r =>
        p0.select((col("p_partkey") + lit(r * 10000000L)).as("p_partkey"),
          col("p_size"),
          (col("p_retailprice") + lit(r * 0.01)).as("p_retailprice"))
      }.reduce(_ unionByName _)
      t("skyline")(graft.ops.Aggregations.skyline2D(pB,
        "p_size", "p_retailprice"))
      // CONTINUOUS x (r18): x = the salted price — distinct-x ~= the
      // row count, the regime where r17's single-partition window over
      // distinct x (and its distinct-x-sized broadcast) died; the
      // distributed face must keep this rung on the corpus-scan slope
      t("skyline_cx")(graft.ops.Aggregations.skyline2D(pB,
        "p_retailprice", "p_size"))
      // grouped + continuous x with a HOT group (r18): every replica's
      // rows land in ONE brand for 80% of the corpus — the per-(group,
      // bucket) windows must keep the hot group's scan distributed
      val pHot = pB.withColumn("p_brand",
        when(pmod(hash(col("p_partkey")), lit(5)) < 4, lit("HOT"))
          .otherwise(concat(lit("b"), pmod(col("p_partkey"), lit(20)))))
      t("skyline_cx_by")(graft.ops.Aggregations.skyline2DBy(pHot,
        Seq("p_brand"), "p_retailprice", "p_size"))
    }

    // Poisson bootstrap: the B=32 resample pass is ONE map-side explode
    // + partial agg — cost must be ~linear in corpus x B with a
    // |keys| x B shuffle, at any k
    if (only.exists(_.contains("bootstrap_ci"))) {
      val ev0 = graft.Tables.events(spark, sfDir)
      val evB = (0 until k).map { r =>
        ev0.select((col("event_id") + lit(r * 100000000L)).as("event_id"),
          col("event_type"), col("value"))
      }.reduce(_ unionByName _)
      t("bootstrap_ci")(graft.ops.DataProfile.poissonBootstrapCi(
        evB, "event_type", "value", "event_id", b = 32))
    }

    // event-sequence analytics on a k-fold events corpus (users offset
    // per replica, timestamps untouched): funnel cost is k-1 user-keyed
    // joins + aggregates over the step-filtered stream — linear in the
    // events; retention is one anchor aggregate + one distinct — same
    // bound. Both shuffle fixed-width rows only.
    if (only.forall(o => o.contains("events_funnel") ||
        o.contains("events_retention"))) {
      val ev0 = graft.Tables.events(spark, sfDir) // encoding-normalized ts
      val evP = (0 until k).map { r =>
        ev0.select((col("user_id") + lit(r * 10000000L)).as("user_id"),
          col("event_type"), col("ts"))
      }.reduce(_ unionByName _)
      if (only.forall(_.contains("events_funnel")))
        t("events_funnel")(graft.ops.EventOps.funnel(evP,
          Seq("view", "click", "purchase"), horizonMinutes = 1440))
      if (only.forall(_.contains("events_retention")))
        t("events_retention")(
          graft.ops.EventOps.retention(evP, "signup"))
    }

    // hot-user skew face (r14 verdict tasks 1+7): ONE planted bot user
    // holds ~20% of the ladder corpus — the worst case for every
    // operator that keys state, windows or sorts within user_id
    // (sessionize's running-sum window, funnel's user-keyed joins,
    // retention's anchor join, the as-of family's within-user sorts).
    // Probed three ways per operator: uniform twin, hot, and hot with
    // the loud capUserEvents guard (hash-thinned to 10k events) — the
    // guard row must land back at the uniform row's cost. Opt-in:
    //   runMain graft.tools.ScaleProbe <sf> <k> events_hot_funnel,...
    if (only.exists(_.exists(_.startsWith("events_")))) {
      val ev0 = graft.Tables.events(spark, sfDir)
      val evP0 = (0 until k).map { r =>
        ev0.select((col("user_id") + lit(r * 10000000L)).as("user_id"),
          col("event_type"), col("ts"))
      }.reduce(_ unionByName _)
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // materialize once: the probes time the OPERATOR, not k unions
      val evP = evP0.persist(sl); evP.count()
      val hot = evP.withColumn("user_id",
        when(pmod(hash(col("user_id"), col("ts")), lit(100)) < 20,
          lit(424242424242L)).otherwise(col("user_id")))
        .persist(sl); hot.count()
      val hotCapped = graft.ops.EventOps.capUserEvents(hot,
        maxPerUser = 10000).persist(sl); hotCapped.count()
      val steps = Seq("view", "click", "purchase")
      def fun(df: DataFrame) =
        graft.ops.EventOps.funnel(df, steps, horizonMinutes = 1440)
      t("events_uni_funnel", keepCache = true)(fun(evP))
      t("events_hot_funnel", keepCache = true)(fun(hot))
      t("events_hot_funnel_capped", keepCache = true)(fun(hotCapped))
      t("events_uni_sessionize", keepCache = true)(graft.ops.EventOps.sessionize(evP, 30))
      t("events_hot_sessionize", keepCache = true)(graft.ops.EventOps.sessionize(hot, 30))
      t("events_hot_sessionize_capped", keepCache = true)(
        graft.ops.EventOps.sessionize(hotCapped, 30))
      t("events_uni_retention", keepCache = true)(graft.ops.EventOps.retention(evP, "signup"))
      t("events_hot_retention", keepCache = true)(graft.ops.EventOps.retention(hot, "signup"))
      t("events_hot_retention_capped", keepCache = true)(
        graft.ops.EventOps.retention(hotCapped, "signup"))
      // the four as-of variants share one union-and-carry plan shape
      // (one shuffle on user, one within-partition sort) — the planted
      // user concentrates that sort into one task
      def lp(df: DataFrame) = df.filter(col("event_type") === "purchase")
      def rc(df: DataFrame) = df.filter(col("event_type") === "click")
      def asofAll(tag: String, df: DataFrame): Unit = {
        t(s"events_${tag}_asof", keepCache = true)(graft.ops.Joins.asofBackward(
          lp(df), rc(df), "user_id", "ts", "asof_ts"))
        t(s"events_${tag}_asof_tol", keepCache = true)(graft.ops.Joins.asofBackwardTolerance(
          lp(df), rc(df), "user_id", "ts", "asof_ts", 120))
        t(s"events_${tag}_asof_fwd", keepCache = true)(graft.ops.Joins.asofForward(
          lp(df), rc(df), "user_id", "ts", "asof_ts"))
        t(s"events_${tag}_asof_near", keepCache = true)(graft.ops.Joins.asofNearest(
          lp(df), rc(df), "user_id", "ts", "asof_ts"))
      }
      asofAll("uni", evP)
      asofAll("hot", hot)
      asofAll("hotcap", hotCapped)
      // length-3 sequential patterns: the e2 build fans each user's
      // events out |types|-fold (a 20% bot user costs LINEAR extra
      // build rows, never events³); surrogate event_id keeps the total
      // order deterministic within the probe
      def seq3(df: DataFrame) =
        graft.ops.EventOps.seqPatterns3(df.select(col("user_id"),
          col("event_type"), unix_timestamp(col("ts")).as("tsec"),
          abs(hash(col("ts"), col("event_type"))).cast("long")
            .as("event_id")))
      t("events_uni_seq3", keepCache = true)(seq3(evP))
      t("events_hot_seq3", keepCache = true)(seq3(hot))
      t("events_hotcap_seq3", keepCache = true)(seq3(hotCapped))
      // gap-constrained patterns (r18): the last-predecessor window
      // scan fans each user |types|-fold (pairs: one pass) and
      // |pairs|-fold (triples: two passes) — a 20% bot user costs one
      // hot (user, type) partition sort of its own events, never the
      // events x window-density (or cubed) self-join
      def gap2(df: DataFrame) =
        graft.ops.EventOps.seqPatternsGap(df.select(col("user_id"),
          col("event_type"), unix_timestamp(col("ts")).as("tsec"),
          abs(hash(col("ts"), col("event_type"))).cast("long")
            .as("event_id")), maxGapSeconds = 3600)
      def gap3(df: DataFrame) =
        graft.ops.EventOps.seqPatternsGap3(df.select(col("user_id"),
          col("event_type"), unix_timestamp(col("ts")).as("tsec"),
          abs(hash(col("ts"), col("event_type"))).cast("long")
            .as("event_id")), maxGapSeconds = 3600)
      t("events_uni_seqgap", keepCache = true)(gap2(evP))
      t("events_hot_seqgap", keepCache = true)(gap2(hot))
      t("events_hotcap_seqgap", keepCache = true)(gap2(hotCapped))
      t("events_uni_seqgap3", keepCache = true)(gap3(evP))
      t("events_hot_seqgap3", keepCache = true)(gap3(hot))
      t("events_hotcap_seqgap3", keepCache = true)(gap3(hotCapped))
      Seq(evP, hot, hotCapped).foreach(_.unpersist())
    }

    // graph_triangles residual attribution (r18, verdict task 8): the
    // query is the #2 bench tail post-memo; split its cost into the
    // three stages — co-purchase edge build (memoized in the bench,
    // timed here for the record), degree orientation (two node-degree
    // joins + the localCheckpoint cut), and the wedge + close + count
    // pipeline from the checkpointed oriented list — so "inherent or
    // fixable" is answered with data. Ignores k (runs at base sf).
    if (only.exists(_.contains("triangles_attr"))) {
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      def edgesBuild() = {
        val b = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(col("l_orderkey").as("k"), col("l_partkey").as("i"))
          .distinct()
        val sizes = b.groupBy(col("k")).agg(count(lit(1)).as("kn"))
        val kept = b.join(sizes.filter(col("kn") <= 1000)
          .select("k"), Seq("k"))
        kept.select(col("k"), col("i").as("a"))
          .join(kept.select(col("k"), col("i").as("b")), Seq("k"))
          .filter(col("a") < col("b"))
          .select(col("a"), col("b")).distinct()
      }
      spark.catalog.clearCache(); System.gc()
      var t0 = System.nanoTime()
      val e = edgesBuild().persist(sl)
      val ne = e.count()
      println(f"[scale] k=$k%-3d tri_edge_build        " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  ($ne edges)")
      t0 = System.nanoTime()
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val withDeg = e
        .join(deg.select(col("node").as("a"), col("deg").as("dega")), Seq("a"))
        .join(deg.select(col("node").as("b"), col("deg").as("degb")), Seq("b"))
      val oriented = withDeg.select(
        when(col("dega") < col("degb") ||
             (col("dega") === col("degb") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("d"), col("degb").as("dd")))
          .otherwise(
          struct(col("b").as("s"), col("a").as("d"), col("dega").as("dd")))
          .as("o"))
        .select(col("o.s").as("s"), col("o.d").as("d"), col("o.dd").as("dd"))
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      println(f"[scale] k=$k%-3d tri_orient            " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  (${oriented.count()} rows)")
      t0 = System.nanoTime()
      val w1 = oriented.select(col("s"), col("d").as("v"), col("dd").as("dv"))
      val w2 = oriented.select(col("s"), col("d").as("w"), col("dd").as("dw"))
      val wedges = w1.join(w2, Seq("s"))
        .filter(col("dv") < col("dw") ||
          (col("dv") === col("dw") && col("v") < col("w")))
        .select(col("s"), col("v"), col("w"))
      val nW = wedges.count()
      println(f"[scale] k=$k%-3d tri_wedges            " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  ($nW wedges)")
      t0 = System.nanoTime()
      // mirrors the r18 guarded broadcast close (the pre-r18 shuffle
      // close billed 14.2 s here — the attribution that motivated it)
      val closing = broadcast(
        oriented.select(col("s").as("v"), col("d").as("w")))
      val tris = wedges.join(closing, Seq("v", "w"))
        .select(col("s").as("x"), col("v").as("y"), col("w").as("z"))
      // one-pass corner explode (r18): the unionAll-of-projections
      // variant replayed the wedge join per corner — 17.8 s here
      val counts = tris
        .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      val nT = counts.count()
      println(f"[scale] k=$k%-3d tri_close_count       " +
        f"${(System.nanoTime() - t0) / 1e9}%8.2f s  ($nT nodes; wedges replayed)")
      e.unpersist()
    }

    // filtered IVF serving from a PREBUILT index: the label predicate
    // prunes probed-cell members before ranking, so per-query cost must
    // stay cell-bounded (corpus-independent) like the unfiltered server
    // (|Q| = corpus/1000, as the other serve probes)
    if (only.forall(_.contains("filtered_serve"))) {
      val slF = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val cbF = embL.filter(col("vec_id") % 50 === 0)
        .select("vec_id", "embedding").persist(slF)
      val idxF = Similarity.ivfAssign(embL, cbF).persist(slF)
      val qrysF = embL.filter(col("vec_id") % 1000 === 0).persist(slF)
      Seq(cbF, idxF, qrysF).foreach(_.count())
      t("filtered_serve", keepCache = true)(
        Similarity.ivfTopKIndexedFiltered(idxF, cbF, qrysF,
          col("label") % 3 === 0, nprobe = 3, k = 10))
      Seq(cbF, idxF, qrysF).foreach(_.unpersist())
    }

    // the production IVF-PQ shape: serve from a PREBUILT all-integer
    // index (build outside the timer, amortized across the index
    // lifetime) — per-query cost must stay probed-cell-bounded
    if (only.forall(_.contains("ivfpq_topk_indexed"))) {
      // codebooks, code index AND the query batch are all index-lifetime
      // artifacts — materialize them outside the timer so the serving
      // number measures the probed-cell join, not corpus re-scans
      // through the lazy replica union
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val ivfCb = embP.filter(col("vec_id") % 50 === 0)
        .select("vec_id", "embedding").persist(sl)
      val pqCb = Similarity.pqCodebook(embP, m = 4, dim = 64,
        centroidMod = 50).persist(sl)
      val idx = Similarity.ivfPqIndex(embP, ivfCb, pqCb, m = 4, dim = 64)
        .persist(sl)
      val qrys = embP.filter(col("vec_id") % 1000 === 0).persist(sl)
      // cell->code inventory: an index-lifetime artifact like the
      // codebooks — built once, makes the serve-time LUT restriction a
      // pure broadcast composition (zero passes over the code relation)
      val cc = Similarity.ivfPqCellCodes(idx).persist(sl)
      Seq(ivfCb, pqCb, idx, qrys, cc).foreach(_.count())
      // LUT sizing: the restricted LUT (codes present in probed cells)
      // vs the classical |Q| x m x k_sub full-codebook cross
      val nQ = qrys.count()
      val needed = Similarity.ivfPqProbedPairs(ivfCb, qrys, nprobe = 3)
        .join(cc, Seq("centroid_id"))
        .select("query_id", "sub", "code").distinct().count()
      println(f"[scale] k=$k%-3d docs=${n0 * k}%-7d ivfpq_lut_rows         " +
        f"restricted=$needed%d  full_cross=${nQ * pqCb.count()}%d")
      t("ivfpq_topk_indexed", keepCache = true)(
        Similarity.ivfPqTopKIndexed(idx, ivfCb, pqCb, qrys,
          m = 4, dim = 64, nprobe = 3, k = 10, cellCodes = Some(cc)))
      t("ivfpq_topk_noinv", keepCache = true)(
        Similarity.ivfPqTopKIndexed(idx, ivfCb, pqCb, qrys,
          m = 4, dim = 64, nprobe = 3, k = 10))
      Seq(ivfCb, pqCb, idx, qrys, cc).foreach(_.unpersist())
    }

    // the production PQ configuration: the sub-quantizer codebook is
    // FIXED-size regardless of corpus (classically 256 codes; here
    // replica 0's 10 seeds per sub at any k) — only the COARSE book
    // grows with the collection. Encode cost is then O(n x codes)
    // linear, vs the corpus-growing book above whose encode is
    // O(n^2 / centroidMod) (quadratic — it times out at 100 k). Build
    // and serve timed separately over persisted inputs.
    if (only.forall(o => o.contains("ivfpq_build_fixedcb") ||
        o.contains("ivfpq_topk_fixedcb"))) {
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val ivfCb = embP.filter(col("vec_id") % 50 === 0)
        .select("vec_id", "embedding").persist(sl)
      val pqCbF = Similarity.pqCodebook(
        embP.filter(col("vec_id") < 10000000L), m = 4, dim = 64,
        centroidMod = 50).persist(sl)
      val qrys = embP.filter(col("vec_id") % 1000 === 0).persist(sl)
      Seq(ivfCb, pqCbF, qrys).foreach(_.count())
      t("ivfpq_build_fixedcb", keepCache = true)(
        Similarity.ivfPqIndex(embP, ivfCb, pqCbF, m = 4, dim = 64))
      val idx = Similarity.ivfPqIndex(embP, ivfCb, pqCbF, m = 4, dim = 64)
        .persist(sl)
      idx.count()
      t("ivfpq_topk_fixedcb", keepCache = true)(
        Similarity.ivfPqTopKIndexed(idx, ivfCb, pqCbF, qrys,
          m = 4, dim = 64, nprobe = 3, k = 10))
      Seq(ivfCb, pqCbF, idx, qrys).foreach(_.unpersist())
    }
    // RESIDUAL IVF-PQ serve from a prebuilt index: identical candidate
    // volume to the raw-space server; the only extra serve-time work is
    // the per-(query, probed-cell) residual LUT (nprobe x bigger than the
    // raw LUT, still broadcast-sized) and the q·c base-term join — so
    // serve cost must track ivfpq_topk_indexed, not the corpus
    if (only.forall(_.contains("ivfpq_residual_serve"))) {
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val ivfCb = embP.filter(col("vec_id") % 50 === 0)
        .select("vec_id", "embedding").persist(sl)
      val res = Similarity.ivfResiduals(embP, ivfCb).persist(sl)
      // fixed-size residual codebook (replica 0's residual seeds), the
      // production shape — the corpus-growing policy is the known
      // quadratic the fixedcb probes recorded
      val pqCbRes = Similarity.pqCodebookLearnedFrom(res,
        Similarity.pqCodebook(res.filter(col("vec_id") < 10000000L),
          m = 4, dim = 64, centroidMod = 50), m = 4, dim = 64,
        maxIters = 1).persist(sl)
      val idx = Similarity.ivfPqResidualIndex(embP, ivfCb, pqCbRes,
        m = 4, dim = 64).persist(sl)
      val qrys = embP.filter(col("vec_id") % 1000 === 0).persist(sl)
      val cc = Similarity.ivfPqCellCodes(idx).persist(sl)
      Seq(ivfCb, res, pqCbRes, idx, qrys, cc).foreach(_.count())
      t("ivfpq_residual_serve", keepCache = true)(
        Similarity.ivfPqResidualTopKIndexed(idx, ivfCb, pqCbRes, qrys,
          m = 4, dim = 64, nprobe = 3, k = 10, cellCodes = Some(cc)))
      Seq(ivfCb, res, pqCbRes, idx, qrys, cc).foreach(_.unpersist())
    }

    // the SERVED r13 rung's cost shape (fixed m=8 x 256 books, nprobe=10
    // — double the probed cells, 8-byte codes): per-query serve cost
    // must stay corpus-independent like the np=3 m=4 probe above
    // (training depth does not affect serve cost, so maxIters=1 here)
    if (only.forall(_.contains("ivfpq_residual_serve_r13"))) {
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val ivfCb = embP.filter(col("vec_id") % 50 === 0)
        .select("vec_id", "embedding").persist(sl)
      val res = Similarity.ivfResiduals(embP, ivfCb).persist(sl)
      val pqCbRes = Similarity.pqCodebookLearnedFrom(res,
        Similarity.pqCodebookFixed(res, m = 8, dim = 64, k = 256),
        m = 8, dim = 64, maxIters = 1).persist(sl)
      val idx = Similarity.ivfPqResidualIndex(embP, ivfCb, pqCbRes,
        m = 8, dim = 64).persist(sl)
      val qrys = embP.filter(col("vec_id") % 1000 === 0).persist(sl)
      val cc = Similarity.ivfPqCellCodes(idx).persist(sl)
      Seq(ivfCb, res, pqCbRes, idx, qrys, cc).foreach(_.count())
      t("ivfpq_residual_serve_r13", keepCache = true)(
        Similarity.ivfPqResidualTopKIndexed(idx, ivfCb, pqCbRes, qrys,
          m = 8, dim = 64, nprobe = 10, k = 10, cellCodes = Some(cc)))
      Seq(ivfCb, res, pqCbRes, idx, qrys, cc).foreach(_.unpersist())
    }

    // r14 rung-move probe: the FULL served path (residual ADC shortlist +
    // exact-cosine rerank) at the three knob points on the measured
    // recall frontier — np=10/sl=50 (the r13 served rung, holdout 0.63),
    // np=20/sl=50 (0.77) and np=20/sl=100 (0.84). All three serve from
    // ONE prebuilt m=8 x 256 index; candidate volume is probed-cell-
    // bounded, so each knob point must stay corpus-independent and the
    // np=20 rows within ~2x of the np=10 row for the rung to move.
    if (only.forall(_.exists(_.startsWith("ivfpq_residual_serve_r14")))) {
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val ivfCb = embP.filter(col("vec_id") % 50 === 0)
        .select("vec_id", "embedding").persist(sl)
      val res = Similarity.ivfResiduals(embP, ivfCb).persist(sl)
      val pqCbRes = Similarity.pqCodebookLearnedFrom(res,
        Similarity.pqCodebookFixed(res, m = 8, dim = 64, k = 256),
        m = 8, dim = 64, maxIters = 1).persist(sl)
      val idx = Similarity.ivfPqResidualIndex(embP, ivfCb, pqCbRes,
        m = 8, dim = 64).persist(sl)
      val qrys = embP.filter(col("vec_id") % 1000 === 0).persist(sl)
      val cc = Similarity.ivfPqCellCodes(idx).persist(sl)
      val store = embP.persist(sl)
      Seq(ivfCb, res, pqCbRes, idx, qrys, cc, store).foreach(_.count())
      // untimed warmup of the full served path: the FIRST timed probe in
      // a JVM otherwise carries codegen+JIT warmth (~2-3 s) that would
      // bias the np=10-vs-np=20 ratio the rung decision hangs on
      Similarity.ivfPqResidualTopKIndexedReranked(idx, ivfCb, pqCbRes,
        qrys, store, m = 8, dim = 64, nprobe = 10, shortlist = 50,
        k = 10, cellCodes = Some(cc)).write.format("noop")
        .mode("overwrite").save()
      for ((np, slist) <- Seq((10, 50), (20, 50), (20, 100)))
        t(f"ivfpq_residual_serve_r14_np${np}_sl$slist", keepCache = true)(
          Similarity.ivfPqResidualTopKIndexedReranked(idx, ivfCb, pqCbRes,
            qrys, store, m = 8, dim = 64, nprobe = np, shortlist = slist,
            k = 10, cellCodes = Some(cc)))
      Seq(ivfCb, res, pqCbRes, idx, qrys, cc, store).foreach(_.unpersist())
    }

    // the served rung with the QUANTIZED rerank store vs the float
    // store, same prebuilt index and warmup protocol: the q8 tier reads
    // a quarter of the bytes per shortlist candidate, so its serve cost
    // must match-or-beat the float row at every corpus size (recall
    // cost measured separately: holdout-identical, BASELINE.md)
    if (only.forall(_.exists(_.startsWith("ivfpq_residual_serve_q8")))) {
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val ivfCb = embP.filter(col("vec_id") % 50 === 0)
        .select("vec_id", "embedding").persist(sl)
      val res = Similarity.ivfResiduals(embP, ivfCb).persist(sl)
      val pqCbRes = Similarity.pqCodebookLearnedFrom(res,
        Similarity.pqCodebookFixed(res, m = 8, dim = 64, k = 256),
        m = 8, dim = 64, maxIters = 1).persist(sl)
      val idx = Similarity.ivfPqResidualIndex(embP, ivfCb, pqCbRes,
        m = 8, dim = 64).persist(sl)
      val qrys = embP.filter(col("vec_id") % 1000 === 0).persist(sl)
      val cc = Similarity.ivfPqCellCodes(idx).persist(sl)
      val store = embP.persist(sl)
      val q8store = Similarity.quantize(embP)
        .select(col("vec_id"), col("q8"), col("q_scale")).persist(sl)
      Seq(ivfCb, res, pqCbRes, idx, qrys, cc, store, q8store)
        .foreach(_.count())
      Similarity.ivfPqResidualTopKIndexedReranked(idx, ivfCb, pqCbRes,
        qrys, store, m = 8, dim = 64, nprobe = 20, shortlist = 100,
        k = 10, cellCodes = Some(cc)).write.format("noop")
        .mode("overwrite").save()
      t("ivfpq_residual_serve_q8_float", keepCache = true)(
        Similarity.ivfPqResidualTopKIndexedReranked(idx, ivfCb, pqCbRes,
          qrys, store, m = 8, dim = 64, nprobe = 20, shortlist = 100,
          k = 10, cellCodes = Some(cc)))
      t("ivfpq_residual_serve_q8_int8", keepCache = true)(
        Similarity.ivfPqResidualTopKIndexedRerankedQ8(idx, ivfCb, pqCbRes,
          qrys, q8store, m = 8, dim = 64, nprobe = 20, shortlist = 100,
          k = 10, cellCodes = Some(cc)))
      Seq(ivfCb, res, pqCbRes, idx, qrys, cc, store, q8store)
        .foreach(_.unpersist())
    }

    // binary-cascade serve vs the IVF-probed server on the same prebuilt
    // residual index (r15 verdict task 5): the cascade's hamming coarse
    // stage scans 16 B/vector of the WHOLE corpus, so its serve cost
    // must grow linearly with k while the IVF leg stays cell-bounded —
    // this ladder is the adoption decision's scale evidence.
    if (only.forall(_.exists(_.startsWith("cascade_serve")))) {
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val ivfCb = embP.filter(col("vec_id") % 50 === 0)
        .select("vec_id", "embedding").persist(sl)
      val res = Similarity.ivfResiduals(embP, ivfCb).persist(sl)
      val pqCbRes = Similarity.pqCodebookLearnedFrom(res,
        Similarity.pqCodebookFixed(res, m = 8, dim = 64, k = 256),
        m = 8, dim = 64, maxIters = 1).persist(sl)
      val idx = Similarity.ivfPqResidualIndex(embP, ivfCb, pqCbRes,
        m = 8, dim = 64).persist(sl)
      val qrys = embP.filter(col("vec_id") % 1000 === 0).persist(sl)
      val cc = Similarity.ivfPqCellCodes(idx).persist(sl)
      val store = embP.persist(sl)
      val bin = Similarity.quantizeBinary(embP)
        .select(col("vec_id"), col("b1"), col("b2")).persist(sl)
      Seq(ivfCb, res, pqCbRes, idx, qrys, cc, store, bin).foreach(_.count())
      Similarity.ivfPqResidualTopKIndexedReranked(idx, ivfCb, pqCbRes,
        qrys, store, m = 8, dim = 64, nprobe = 20, shortlist = 100,
        k = 10, cellCodes = Some(cc)).write.format("noop")
        .mode("overwrite").save()
      Similarity.ivfPqResidualTopKBinaryCascade(idx, ivfCb, pqCbRes,
        qrys, store, bin, m = 8, dim = 64, hammingList = 250,
        shortlist = 100, k = 10).write.format("noop")
        .mode("overwrite").save()
      t("cascade_serve_ivf_np20", keepCache = true)(
        Similarity.ivfPqResidualTopKIndexedReranked(idx, ivfCb, pqCbRes,
          qrys, store, m = 8, dim = 64, nprobe = 20, shortlist = 100,
          k = 10, cellCodes = Some(cc)))
      for (h <- Seq(250, 400))
        t(s"cascade_serve_bin_h$h", keepCache = true)(
          Similarity.ivfPqResidualTopKBinaryCascade(idx, ivfCb, pqCbRes,
            qrys, store, bin, m = 8, dim = 64, hammingList = h,
            shortlist = 100, k = 10))
      Seq(ivfCb, res, pqCbRes, idx, qrys, cc, store, bin)
        .foreach(_.unpersist())
    }

    // learned-PQ TRAINING cost per Lloyd iteration, production shape: a
    // FIXED-size sub-codebook (replica 0's seeds at any k) trained over
    // the full corpus — one iteration = one broadcast assign over the
    // (n x m) slice relation + a codebook-sized mean, so it1 and the
    // (it3 - it1) / 2 marginal must both track the corpus LINEARLY
    if (only.forall(o => o.contains("pq_train_it1") ||
        o.contains("pq_train_it3"))) {
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val seedCb = Similarity.pqCodebook(
        embP.filter(col("vec_id") < 10000000L), m = 4, dim = 64,
        centroidMod = 50).persist(sl)
      seedCb.count()
      t("pq_train_it1", keepCache = true)(
        Similarity.pqCodebookLearnedFrom(embP, seedCb, m = 4, dim = 64,
          maxIters = 1))
      t("pq_train_it3", keepCache = true)(
        Similarity.pqCodebookLearnedFrom(embP, seedCb, m = 4, dim = 64,
          maxIters = 3))
      seedCb.unpersist()
    }

    // the CORPUS-GROWING seed policy (centroidMod over the whole corpus,
    // the fixture convention): each assign pass is O(n^2 m / centroidMod)
    // — opt-in, expected quadratic (the training twin of the encode
    // finding the ivfpq_*_fixedcb probes recorded)
    if (only.exists(_.contains("pq_train_growcb"))) {
      t("pq_train_growcb")(
        Similarity.pqCodebookLearned(embP, m = 4, dim = 64,
          centroidMod = 50, maxIters = 1))
    }

    // embedding-space decon against a FIXED benchmark (replica 0's
    // % 20 == 9 slice): the corpus side is a single broadcast
    // nested-loop pass (exact, map-only per row), so cost must track
    // the corpus LINEARLY with the benchmark constant — the shape risk
    // of a BNLJ is quadratic growth, which a fixed benchmark rules out
    // by construction and this row verifies
    t("vec_decon_report")(
      Similarity.embeddingContaminationReport(embP,
        embP.filter(col("vec_id") < 10000000L && col("vec_id") % 20 === 9),
        threshold = 0.35))

    t("brute_topk")(Similarity.bruteForceTopK(emb, col("vec_id") % 1000 === 0, 10))
    // int8 path over the same corpus/queries — inline quantization, i.e.
    // index-build cost included in the timer
    t("brute_topk_q8")(
      Similarity.bruteForceTopKQ8(emb, col("vec_id") % 1000 === 0, 10))
    // the production shape: serve from a PREBUILT quantized index (build
    // outside the timer, amortized across the index lifetime)
    if (only.forall(_.contains("brute_topk_q8_indexed"))) {
      val qidx = Similarity.quantize(emb)
        .select(col("vec_id"), col("q8"), col("q_scale"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      qidx.count()
      t("brute_topk_q8_indexed", keepCache = true)(
        Similarity.bruteForceTopKQ8Indexed(qidx, col("vec_id") % 1000 === 0, 10))
      qidx.unpersist()
    }

    // Heavy hitters: sketch vs exact in the regime the sketch exists
    // for — a keyspace that GROWS with the corpus (cold keys ~unique
    // per row; one flooded key at ~20%). The exact face shuffles every
    // distinct key; Misra-Gries shuffles k_mg * numPartitions summary
    // rows regardless of corpus size, so its gap must WIDEN with k.
    if (only.forall(o => o.contains("hh_exact") || o.contains("hh_sketch"))) {
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
      val evK = (0 until k).map { r =>
        ev0.select((col("event_id") + lit(r * 10000000L)).as("event_id"),
          col("event_type"))
      }.reduce(_ unionByName _)
      val keyed = evK.select(
        when(col("event_id") % 5 === 0, lit("flooded"))
          .otherwise(concat_ws("_", col("event_type"), col("event_id")))
          .as("k")).persist(sl)
      val nTot = keyed.count()
      t("hh_exact", keepCache = true)(
        keyed.groupBy("k").agg(count(lit(1)).as("c"))
          .filter(col("c") * 33 > lit(nTot)))
      t("hh_sketch", keepCache = true)(
        graft.ops.HeavyHitters.misraGries(keyed, "k", 32))
      keyed.unpersist()
    }

    // Edit-distance join: blocked self-join over n = 20k*k DIVERSE
    // 10-char names — digits scrambled by an odd multiplier coprime to
    // 10^10 (injective, every position uniform), the shape of a real
    // name/title corpus. Segment diversity is the governing parameter:
    // a first cut used reversed-zero-padded ids, whose constant
    // leading-zero half is exactly the flood segment of the module doc,
    // and the ladder went quadratic (36 s -> 398 s for 4x) — kept as the
    // recorded counterexample; with diverse segments the candidate
    // volume is bucket-density-bound and the ladder must stay
    // near-linear. The unblocked alternative is n^2/2 levenshtein calls
    // (2e8 at k=1 — untimeable). Row count = distance<=1 pairs.
    if (only.forall(_.contains("er_selfjoin"))) {
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val names = spark.range(20000L * k).selectExpr("id",
        "translate(lpad(CAST(id * 1000003 % 10000000000 AS VARCHAR(20)), " +
          "10, '0'), '0123456789', 'abcdefghij') AS nm").persist(sl)
      names.count()
      t("er_selfjoin", keepCache = true)(
        graft.ops.EntityResolution.editDistanceSelfJoin(names, "id", "nm", 1))
      names.unpersist()
    }

    // The recorded ER flood counterexample (the session-3 ladder's
    // reversed-zero-padded ids: the constant trailing half IS the flood
    // segment, 36 s -> 398 s quadratic uncapped). Three legs: uncapped
    // (the wall — row count is the ground truth), capped (fast, recall
    // silently gone — row count shows the loss), rescued (capped + the
    // deletion-neighborhood second family — row count must return to
    // the uncapped ground truth at near-capped cost).
    if (only.forall(o => o.contains("er_flood_uncapped") ||
        o.contains("er_flood_capped") || o.contains("er_flood_rescued"))) {
      val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val names = spark.range(20000L * k).selectExpr("id",
        "translate(reverse(lpad(CAST(id AS VARCHAR(20)), 10, '0')), " +
          "'0123456789', 'abcdefghij') AS nm").persist(sl)
      names.count()
      if (only.forall(_.contains("er_flood_uncapped")))
        t("er_flood_uncapped", keepCache = true)(
          graft.ops.EntityResolution.editDistanceSelfJoin(
            names, "id", "nm", 1))
      if (only.forall(_.contains("er_flood_capped")))
        t("er_flood_capped", keepCache = true)(
          graft.ops.EntityResolution.editDistanceSelfJoin(
            names, "id", "nm", 1, maxBucketSize = 2000))
      if (only.forall(_.contains("er_flood_rescued")))
        t("er_flood_rescued", keepCache = true)(
          graft.ops.EntityResolution.editDistanceSelfJoinRescued(
            names, "id", "nm", 1, maxBucketSize = 2000))
      names.unpersist()
    }
    // Distributed-CDF equi-depth histogram: distinct-value volume grows
    // with k (per-replica price salt), the rank assignment must stay
    // bucket-parallel. The contrast row is the textbook global-window
    // formulation (ntile shape) — one task owns every distinct value.
    if (only.forall(o => o.contains("hist_depth") ||
        o.contains("hist_depth_global"))) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val prices = (0 until k).map { r =>
        li.select((col("l_extendedprice") + lit(r * 0.0001)).as("v"))
      }.reduce(_ unionByName _).persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      prices.count()
      t("hist_depth", keepCache = true)(
        graft.ops.DataProfile.equiDepthHistogram(prices, "v",
          0L, 120000L, 10))
      t("hist_depth_global", keepCache = true) {
        val c = prices.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)
        c.withColumn("rb", coalesce(sum(col("cnt")).over(w), lit(0L)))
          .join(c.agg(sum(col("cnt")).as("n")))
          .groupBy(expr("(rb * 10) div n").as("bucket"))
          .agg(sum(col("cnt")).as("n_rows"))
      }
      prices.unpersist()
    }

    // Curriculum rank assignment: bucketed offsets vs the naive global
    // row_number (single-task sort over the whole corpus).
    if (only.forall(o => o.contains("curriculum") ||
        o.contains("curriculum_global"))) {
      val ids = spark.range(500000L * k).select(col("id").as("doc_id"))
        .withColumn("tier", (col("doc_id") % 4 + 1).cast("int"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ids.count()
      t("curriculum", keepCache = true)(
        graft.ops.Corpus.curriculum(ids, "doc_id"))
      t("curriculum_global", keepCache = true) {
        val key = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
          16, 10).cast("long")
        ids.withColumn("shuffle_key", key)
          .withColumn("position", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("tier"), col("shuffle_key"), col("doc_id"))))
      }
      ids.unpersist()
    }

    // PageRank ladder: synthetic bipartite trade graph, nodes and edges
    // both scaling with k; 8 iterations of join+aggregate with
    // per-round lineage cuts must stay linear in the edge count.
    if (only.forall(_.contains("pagerank"))) {
      val e = spark.range(100000L * k).select(
        concat(lit("c"), col("id") % (20000L * k)).as("src"),
        concat(lit("s"), (col("id") * 1000003L) % (2000L * k)).as("dst"))
        .distinct()
      val sym = e.unionByName(e.select(col("dst").as("src"),
        col("src").as("dst")))
      t("pagerank")(graft.ops.Graph.pagerank(sym, iterations = 8))
    }

    // Market-basket ladder: memberships replicated k-fold with basket
    // ids offset, catalog FIXED — supports scale with k, so the
    // frequent-pair relation is k-stable while the basket self-join
    // input grows linearly. The probe answers "does the pair join stay
    // basket-bound?" (it shuffles baskets, not pairs).
    if (only.exists(_.contains("basket_pairs"))) {
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey"))
      val li = (0 until k).map { r =>
        li0.select((col("l_orderkey") + lit(r * 1000000000L)).as("l_orderkey"),
          col("l_partkey"))
      }.reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      li.count()
      t("basket_pairs", keepCache = true)(
        graft.ops.MarketBasket.frequentPairs(li, "l_orderkey", "l_partkey",
          minSupport = 2L * k))
      li.unpersist()
    }

    // Triangle ladder: synthetic sparse graph with nodes AND edges
    // scaling with k (bounded expected degree) — wedge volume, and so
    // the probe time, should stay near-linear. The `_hub` variant
    // plants ONE celebrity node joined to 50k others on top of the
    // same graph: the naive wedge-at-the-hub plan would enumerate
    // C(50k, 2) ~ 1.2e9 wedges from that single key; the
    // degree-ordered orientation keeps the hub's wedge fanout at its
    // OUT-degree (which the ordering makes minimal), so the hub run
    // must land near the plain run, not 1000x over it.
    if (only.exists(o => o.contains("triangles") ||
        o.contains("triangles_hub") || o.contains("kcore") ||
        o.contains("bfs"))) {
      val n = 20000L * k
      val m = 200000L * k
      val e0 = spark.range(m).select(
        (pmod(hash(col("id")), lit(n))).cast("long").as("x"),
        (pmod(hash(col("id") * 7919L + 13L), lit(n))).cast("long").as("y"))
        .filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("a"),
          greatest(col("x"), col("y")).as("b"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e0.count()
      // exact-name gates (Set membership, None = run all): requesting
      // "triangles_hub" must NOT also fire the plain triangles probe
      def wants(n: String) = only.forall(_.contains(n))
      if (wants("triangles"))
        t("triangles", keepCache = true)(graft.ops.Graph.triangleCounts(e0))
      // peel + frontier families on the same graph: both must track
      // the edge count (8 bounded rounds each), never the pair space
      if (wants("kcore"))
        t("kcore", keepCache = true)(graft.ops.Graph.kcorePeel(e0, 5, 8))
      if (wants("bfs"))
        t("bfs", keepCache = true)(graft.ops.Graph.bfsDistances(e0, 0L, 4))
      if (wants("triangles_hub")) {
        // range over min(50k, n) distinct neighbors: (id % n) over 50k
        // ids collapses to n distinct edges at small rungs, silently
        // weakening the planted degree the ladder advertises
        val hubDeg = math.min(50000L, n)
        val hub = spark.range(hubDeg)
          .select(lit(n).as("a"), col("id").as("b"))
          .distinct()
        val withHub = e0.unionByName(hub)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        withHub.count()
        t("triangles_hub", keepCache = true)(
          graft.ops.Graph.triangleCounts(withHub))
        withHub.unpersist()
      }
      e0.unpersist()
    }

    // KMV ladder: distinct keyspace grows with k; the sketch pass must
    // stay linear (one distinct shuffle of fixed-width rows + a k-row
    // window per slice) and the estimate must stay in the 1/sqrt(64)
    // relative band at every rung.
    if (only.exists(_.contains("kmv_sketch"))) {
      val ev = spark.range(500000L * k).select(
        concat(lit("s"), col("id") % 4).as("slice"),
        (col("id") * 2654435761L % (100000L * k)).as("key"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ev.count()
      t("kmv_sketch", keepCache = true)(
        graft.ops.Kmv.distinctEstimate(
          graft.ops.Kmv.sketch(ev, "slice", "key", 64), 64))
      ev.unpersist()
    }

    spark.stop()
  }
}
