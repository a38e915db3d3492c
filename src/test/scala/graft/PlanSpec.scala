package graft

/** Plan-shape regression tests: the physical plans the engine depends on
  * for 100 TB viability, asserted so a refactor can't silently regress
  * them (e.g. losing a broadcast, a pushed filter, or the pre-shuffle
  * top-k).
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0001)
    df.queryExecution.executedPlan.toString
  }

  test("medallion silver: dimensions broadcast, no sort-merge join") {
    val p = planOf("medallion_silver")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2)
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("PushedFilters: [IsNotNull(c_nationkey)]"))
  }

  test("gold aggregate: partial (map-side) aggregation before the exchange") {
    val p = planOf("a1_group_count")
    assert(p.contains("partial_count"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
  }

  test("brute-force top-k: pre-shuffle rank limit + codegen'd native dot") {
    val p = planOf("sim_topk")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("graft_fdot"))
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft"))
    // exactly one real shuffle: the window partitioning on query_id
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
  }

  test("q6: every predicate pushed to the scan, four-column read") {
    // the one-line plan truncates PushedFilters, so assert on the
    // FORMATTED explain, where the full pushdown list is printed
    val df = SparkEntry.queries("tpch_q6_forecast")(spark, sf0001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("LessThanOrEqual(l_discount,0.07)") &&
      p.contains("LessThan(l_quantity,24.0)"),
      s"q6 predicates must reach PushedFilters:\n$p")
    assert(p.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_shipdate:"))
  }

  test("q10/q18: grouped top-k is TakeOrderedAndProject, never a global sort") {
    Seq("tpch_q10_returns", "tpch_q18_large_orders").foreach { n =>
      val p = planOf(n)
      assert(p.contains("TakeOrderedAndProject"), s"$n:\n$p")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("same-label top-k: hash join on the metadata key, not a nested loop") {
    val p = planOf("sim_topk_label")
    // the equality constraint must plan as a broadcast HASH join — the
    // whole point of partitionedTopK vs the brute-force nested loop
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("WindowGroupLimit"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
  }

  test("radius search: broadcast queries, zero shuffles, hit-sized output") {
    val p = planOf("sim_radius")
    assert(p.contains("BroadcastNestedLoopJoin"))
    // the threshold lives in the join condition — no post-join shuffle,
    // no window: the corpus is scanned once and survivors stream out
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("data card: distinct-count without Expand, fixed-width shuffles only") {
    val p = planOf("corpus_data_card")
    // single countDistinct plans as a two-level hash aggregate, NOT an
    // Expand (which would multiply the shuffled rows per aggregate)
    assert(!p.contains("Expand"))
    assert(p.contains("partial_count"))
    // the text column must not survive into any exchange: the scan
    // projects (chars, toks, md5) before the first shuffle
    assert(!"Exchange hashpartitioning\\([^)]*text".r.findFirstIn(p).isDefined)
  }

  test("release diff: content hashed below the exchange, pruned scans") {
    val p = planOf("corpus_release_diff")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"))
    // both shuffles carry (id, md5) projections, never the text itself
    assert(!"Exchange hashpartitioning\\([^)]*text".r.findFirstIn(p).isDefined)
  }

  test("scans prune columns: dedup reads only (doc_id, text)") {
    val p = planOf("dedup_minhash_pairs")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("funnel: every step join is keyed on the user, no nested loop") {
    val p = planOf("events_funnel")
    // the time predicates must ride a user-keyed HASH join, never plan
    // as an inequality-only nested loop
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"funnel must stay user-keyed:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(event_type)"))
  }

  test("as-of join: no nested-loop or cartesian operator anywhere") {
    val p = planOf("events_asof_join")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"asof must stay union+window, got:\n$p")
    assert(p.contains("Window"))
  }

  test("range join: bucketized equi-join, not a nested loop") {
    val p = planOf("events_range_join")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("events windows: single shuffle, windows assigned map-side") {
    val p = planOf("events_tumbling")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
    assert(p.contains("partial_count"))
  }

  test("stratified sample: partial per-partition top-n BEFORE the exchange") {
    val p = planOf("sample_stratified")
    assert(p.contains("WindowGroupLimit"))
    // Partial limit upstream of the exchange bounds shuffle rows to
    // nPer per (stratum, input partition)
    val iPartial = p.indexOf("WindowGroupLimit")
    val iExchange = p.indexOf("Exchange hashpartitioning")
    assert(iExchange >= 0 && p.indexOf("Partial") > iExchange,
      s"expected Partial WindowGroupLimit below the exchange:\n$p")
    assert(iPartial >= 0)
  }

  test("tfidf top-k: pre-shuffle rank limit, only sketch relations shuffle") {
    val p = planOf("text_tfidf_topk")
    // the top-k window must plan as WindowGroupLimit (partial per-partition
    // top-k before the doc_id exchange)
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // shuffles carry only (doc, term) sketch rows: tf agg + term window +
    // doc window — never the corpus text
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 3)
  }

  test("weighted mixture sample: map-only, zero exchanges") {
    val p = planOf("sample_weighted_mix")
    assert(!p.contains("Exchange"), s"weighted sampling must not shuffle:\n$p")
  }

  test("decontamination: benchmark grams broadcast, corpus never sort-merged") {
    val p = planOf("text_decontaminated")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("quantized top-k: same broadcast + pre-shuffle rank plan, native i8dot") {
    val p = planOf("sim_topk_q8")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("graft_i8dot"))
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
  }

  test("ivf and quantized serving: pre-shuffle rank limit, pinned shuffle count") {
    // each face ranks and cuts per query through one window; the filter
    // directly above it must stay a WindowGroupLimit below the shuffle,
    // and the number of hash shuffles is pinned per query
    val exchanges = Map("sim_ivf_topk" -> 2, "sim_topk_q8" -> 1,
      "sim_ivf_topk_q8" -> 5, "sim_ivfpq_rerank" -> 7,
      "sim_ivfpq_residual_topk_q8" -> 8)
    val seen = exchanges.keys.toSeq.sorted.map { n =>
      val p = planOf(n)
      assert(p.contains("WindowGroupLimit"), s"$n:\n$p")
      n -> "Exchange hashpartitioning".r.findAllIn(p).length
    }
    assert(seen.toMap == exchanges, seen.mkString(", "))
  }

  test("curation filter: fully codegen single-scan projection+filter") {
    val p = planOf("text_curation")
    // native expressions keep the whole operator inside codegen (the HOF
    // formulation fell back and lost subexpression elimination)
    assert(p.contains("*(1) Filter") || p.contains("* Filter"),
      s"curation filter must stay in WholeStageCodegen:\n$p")
    assert(!p.contains("Exchange"), "curation must be map-only")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("per-group token budget: offsets and budgets broadcast, one corpus exchange") {
    val p = planOf("sample_token_budget_by")
    // the corpus-sized relation shuffles ONCE (per-(group,bucket) windows);
    // every other exchange is over the domain-x-100-row offset relation
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2,
      s"offsets + budgets must both broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"))
  }

  test("bpe token counting: map-only native expression, no shuffle") {
    val p = planOf("text_tokens_bpe")
    assert(p.contains("graft_bpe_tokens"))
    assert(!p.contains("Exchange"), s"bpe counting must be map-only:\n$p")
    assert(!p.contains("lambdafunction"),
      s"bpe counting must not use interpreted HOFs:\n$p")
  }

  test("langid scoring: codegen native hits, no interpreted lambda filter") {
    val p = planOf("text_langid")
    assert(p.contains("graft_stopword_hits"))
    assert(!p.contains("lambdafunction"),
      s"stopword scoring must not use interpreted HOFs:\n$p")
  }

  test("ws tokenizer stats: map-only native expressions, no shuffle") {
    val p = planOf("text_tokens_ws")
    assert(p.contains("graft_word_grams") && p.contains("graft_stopword_hits"))
    assert(!p.contains("Exchange"), "ws token stats must be map-only")
    assert(!p.contains("lambdafunction"),
      s"ws mode must stay native, not interpreted HOFs:\n$p")
  }

  test("guarded dedup composition: no cartesian, anti-join is broadcast") {
    // the fuzzy phase runs inside (checkpointed); the final plan is the
    // corpus anti-joined against the (tiny) dropped set — must broadcast
    val p = planOf("dedup_guarded_kept")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"dropped-set anti-join must be a broadcast:\n$p")
    spark.catalog.clearCache()
  }

  test("bm25: pre-shuffle top-k limit, hit-sized shuffles, pruned scan") {
    val p = planOf("text_bm25_topk")
    // the global top-k must bound what reaches the rank: Spark plans the
    // rounded-score ordering as TakeOrderedAndProject (per-partition heap
    // + driver-side merge of k-sized heaps — even cheaper than a
    // WindowGroupLimit exchange); accept either form
    assert(p.contains("TakeOrderedAndProject") || p.contains("WindowGroupLimit"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
    // shuffles: hits aggregate + term window + per-doc score aggregate —
    // all carry (doc, query-term) hit rows only; the top-k never exchanges
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 3)
  }

  test("token-budget sample: offsets broadcast back, per-bucket windows") {
    val p = planOf("sample_token_budget")
    // the corpus-sized side must join the 100-row offset relation via
    // broadcast, and its own window must be bucket-partitioned (the only
    // single-partition window is over the 100-row offset relation)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length >= 1)
  }

  test("shuffle-sharding: per-shard windows only, no global sort") {
    val p = planOf("corpus_shuffle_shards")
    assert(!p.contains("Exchange SinglePartition"),
      s"shard layout must never funnel through one partition:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
  }

  test("normalize: map-only codegen projection") {
    val p = planOf("corpus_normalize")
    assert(!p.contains("Exchange"), "normalize must be map-only")
  }

  test("vocab: top-N via TakeOrderedAndProject, no global sort") {
    val p = planOf("corpus_vocab")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("pii stats: map-only scan into one partial-aggregated rollup") {
    val p = planOf("text_pii_stats")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
    assert(p.contains("partial_count") || p.contains("partial_sum"))
  }

  test("line dedup: shuffled anti-join on line, no nested loop anywhere") {
    val p = planOf("text_line_dedup")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("LeftAnti"), s"frequent-line removal must anti-join:\n$p")
    // per-doc-distinct line frequency aggregates partially map-side
    assert(p.contains("partial_count"))
  }

  test("pack sequences: per-shard windows, one aggregate, no global sort") {
    val p = planOf("text_pack_sequences")
    assert(!p.contains("Exchange SinglePartition"),
      s"packing must stay shard-parallel:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("incremental exact dedup: hash anti-join, text never joined") {
    val p = planOf("dedup_exact_incremental")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("LeftAnti"))
    // both join inputs are md5 hashes (fixed-width), never raw text
    assert(p.contains("md5"))
  }

  test("rrf fusion: candidate-bound union+aggregate, no corpus join") {
    val p = planOf("text_rrf_fusion")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("Union"))
    // both ranker top-50s bound their inputs before the fusion aggregate
    assert(p.contains("TakeOrderedAndProject") || p.contains("WindowGroupLimit"))
  }

  test("dup-gram coverage: the corpus is scanned and shingled exactly once") {
    val p = planOf("text_dup_gram_coverage")
    // one corpus scan and one shingle explode in the whole physical
    // plan — the window formulation computes document frequency on the
    // gram shuffle itself (the aggregate-then-join shape re-read and
    // re-shingled the corpus on each side of the join). The extra
    // graft_word_grams occurrence inside the scan's pushed row filter is
    // InferFiltersFromGenerate's size>0 guard, not a second generator.
    assert("FileScan parquet".r.findAllIn(p).length == 1,
      s"expected a single corpus scan:\n$p")
    assert("Generate explode".r.findAllIn(p).length == 1,
      s"expected a single shingle explode:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("gopher rules: single map-only scan, no exchange") {
    val p = planOf("text_gopher_rules")
    assert(!p.contains("Exchange"), s"gopher gate must not shuffle:\n$p")
    assert("FileScan parquet".r.findAllIn(p).length == 1)
  }

  test("epoch sampler: broadcast rate join, map-side explode, one agg exchange") {
    val p = planOf("sample_epoch_mix")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // the only exchange feeds the domain-sized rate aggregate, never the corpus
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"corpus rows must not shuffle:\n$p")
  }

  test("fuzzy decontamination: no cartesian, flagged set broadcast anti-joined") {
    val p = planOf("text_fuzzy_decontaminated")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("bigram logprob: transitions partial-aggregated before the windows") {
    val p = planOf("text_bigram_logprob")
    assert(p.contains("partial_count"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("qclf train+score: one tokenize pass — scoring reads the checkpointed sketch") {
    // the composition builds + checkpoints the feature sketch ONCE; the
    // scored plan must read that relation, never re-scan or re-tokenize
    // the corpus (the pre-r12 shape hashed the corpus twice)
    val p = planOf("text_qclf_scores")
    assert(!p.contains("FileScan parquet"),
      s"scoring must read the checkpointed sketch, not re-scan the corpus:\n$p")
    assert(!p.contains("Generate explode"),
      s"scoring must not re-tokenize the corpus:\n$p")
  }

  test("mix chain: sampler reads the checkpointed release, rates broadcast") {
    // the mixture stage derives rates from the RELEASED corpus and
    // samples the same relation; the expensive dedup+curation subtree
    // is checkpointed, so the final plan must carry NO tokenize pass
    // (no Generate), the rate table must arrive broadcast, and nothing
    // may fall back to a corpus-side merge or cross product
    val p = planOf("llm_corpus_prep_mix")
    assert(!p.contains("Generate explode"),
      s"mix plan must not re-tokenize the corpus:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"rate table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("recall eval: query-count-sized broadcast join, no corpus-side merge") {
    val p = planOf("sim_ivf_recall")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("ivfpq serving: ADC LUT restricted to probed-cell codes") {
    // serving plan over a PREBUILT index (checkpoint truncates the build
    // subtree): the sub-codebook must only ever join on (sub, code) —
    // a join keyed on sub ALONE is the |Q| x m x k_sub full-codebook
    // cross the probed-cell restriction removes
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, sf0001)
    val ivfCb = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
    val pqCb = graft.ops.Similarity.pqCodebook(e, m = 4, dim = 64,
      centroidMod = 50)
    val idx = graft.ops.Similarity.ivfPqIndex(e, ivfCb, pqCb, m = 4,
      dim = 64).localCheckpoint(true)
    val served = graft.ops.Similarity.ivfPqTopKIndexed(idx, ivfCb, pqCb,
      e.filter(col("vec_id") % 100 === 0), m = 4, dim = 64, nprobe = 3,
      k = 10)
    val p = served.queryExecution.executedPlan.toString
    assert(!"""HashJoin \[sub#\d+[L]?\]""".r.findFirstIn(p).isDefined,
      s"codebook must never join on sub alone (full-codebook LUT cross):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("residual ivfpq serving: per-cell LUTs, no codebook cross, no merge join") {
    // same discipline as the raw-space server, on the residual path: the
    // residual codebook joins only on (sub, code) (the LUT restriction),
    // every query-sized relation broadcasts, and the prebuilt index is
    // the only corpus-scale input
    import org.apache.spark.sql.functions._
    val e = graft.Tables.embeddings(spark, sf0001)
    val ivfCb = e.filter(col("vec_id") % 50 === 0)
      .select("vec_id", "embedding")
    val res = graft.ops.Similarity.ivfResiduals(e, ivfCb)
      .localCheckpoint(true)
    val pqCbRes = graft.ops.Similarity.pqCodebookResidualLearned(res,
      m = 4, dim = 64, centroidMod = 50, maxIters = 1)
      .localCheckpoint(true)
    val idx = graft.ops.Similarity.ivfPqResidualIndex(e, ivfCb, pqCbRes,
      m = 4, dim = 64).localCheckpoint(true)
    val served = graft.ops.Similarity.ivfPqResidualTopKIndexed(idx, ivfCb,
      pqCbRes, e.filter(col("vec_id") % 100 === 0), m = 4, dim = 64,
      nprobe = 3, k = 10)
    val p = served.queryExecution.executedPlan.toString
    assert(!"""HashJoin \[sub#\d+[L]?\]""".r.findFirstIn(p).isDefined,
      s"residual codebook must never join on sub alone:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("r13 queries: no cartesian or nested-loop join anywhere") {
    // substring dedup (gram-sharded anti-join) and the media
    // embedding-join face must stay equi-join-only: a nested loop on
    // either would be the quadratic the operators exist to avoid
    for (name <- Seq("text_substring_dedup", "text_substring_dup_stats",
      "mm_neardup_pairs")) {
      val p = graft.SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$name plan regressed to a nested loop:\n$p")
    }
  }

  test("q21 shape: semi/anti with inequality residual stays a hash/merge join") {
    val p = planOf("tpch_q21_sole_returner")
    // the <> suppkey correlate must ride the orderkey equi-join as a
    // residual condition — a nested loop here is quadratic in lineitem
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), s"q21:\n$p")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q21 decorrelation must not nested-loop:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("user cap: broadcast rate join, no window/sort anywhere in the guard") {
    val p = planOf("events_user_cap")
    // the whole point of the hash-thinning formulation: a row_number
    // cap would plan a per-user Window SORT — the very skew it guards
    assert(!p.contains("Window"), s"cap plan grew a window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"flooded-user rate table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"cap join must not shuffle-sort:\n$p")
  }

  test("interleaved pack: one per-shard window, payload never aggregated") {
    val p = planOf("mm_interleaved_pack")
    // exactly ONE window (the per-shard running total) and no
    // single-partition exchange (bins pack shard-parallel)
    assert("Window".r.findAllIn(p).length == 1, s"interleaved pack:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"packing must stay shard-parallel:\n$p")
  }

  test("length-stats sketch: approx aggregate only, exact sort-based percentile absent") {
    val p = planOf("text_length_stats_sketch")
    assert(p.contains("percentile_approx"), s"sketch plan:\n$p")
    assert(!p.contains("percentile("),
      s"the exact sort-based percentile must not appear:\n$p")
  }

  test("q19 shape: single-side OR components CNF-pushed to BOTH scans, broadcast join") {
    val df = SparkEntry.queries("tpch_q19_disjunctive")(spark, sf0001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the lineitem scan gets the quantity-range disjunction...
    assert(p.contains("Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)"),
      s"q19 lineitem pushdown lost:\n$p")
    // ...and the part scan gets the brand/size disjunction
    assert(p.contains("EqualTo(p_brand,Brand#12)"),
      s"q19 part pushdown lost:\n$p")
    assert(p.contains("BroadcastHashJoin") &&
      !p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q19 must stay a broadcast hash join with a residual:\n$p")
  }

  test("q20 shape: grouped-HAVING IN-subquery decorrelates to agg + semi hash join") {
    val p = planOf("tpch_q20_excess_suppliers")
    assert(p.contains("LeftSemi"), s"q20:\n$p")
    assert(p.contains("partial_sum"), s"q20 agg must partial map-side:\n$p")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q20 must not nested-loop:\n$p")
  }

  test("partitioned layout: the day filter prunes to PartitionFilters, not data filters") {
    val df = SparkEntry.queries("events_partitioned_prune")(spark, sf0001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PartitionFilters: [isnotnull(day") ||
      p.contains("PartitionFilters: [(day"),
      s"day predicate must prune partitions at the scan:\n$p")
    // the day column never appears as a post-scan data filter
    assert(!p.contains("PushedFilters: [IsNotNull(day"),
      s"day is a partition column, not a data column:\n$p")
  }

  test("temporal SCD2 join: version resolution never nested-loops") {
    val p = planOf("events_scd2_temporal_join")
    // the valid_from <= ts < valid_to resolution rides the as-of window,
    // never a range join condition
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"temporal join plan:\n$p")
    assert(p.contains("Window"), s"temporal join lost its as-of window:\n$p")
  }

  test("value-carrying as-of: still one shuffle + window, zero join operators") {
    val p = planOf("events_asof_join_value")
    // the whole point of union-and-carry: the value columns ride the
    // SAME single exchange as the timestamps — no join appears at all
    assert(!p.contains("Join"), s"asof value carry grew a join:\n$p")
    assert(p.contains("Window"), s"asof value carry lost its window:\n$p")
  }

  test("q16 shape: NOT-IN exclusion plans as a broadcast anti join, never a loop") {
    val p = planOf("tpch_q16_supplier_counts")
    assert(p.contains("LeftAnti"), s"q16 NOT IN must anti-join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q16:\n$p")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q16 must not nested-loop:\n$p")
  }

  test("q22 shape: one-row scalar broadcast + anti join, recency filter pushed") {
    val df = SparkEntry.queries("tpch_q22_idle_customers")(spark, sf0001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("LeftAnti"), s"q22 must anti-join orders:\n$p")
    // the recency predicate reaches the orders scan BEFORE the anti join
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"q22 recency pushdown lost:\n$p")
    assert(!p.contains("CartesianProduct"), s"q22:\n$p")
  }

  test("q17 shape: scalar-subquery decorrelation is a part-keyed agg join") {
    val p = planOf("tpch_q17_small_qty")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q17 decorrelation must not nested-loop:\n$p")
    // the brand dimension broadcasts into both the fact scan and the
    // per-part average; the avg join is partkey-keyed
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("partial_avg"))
  }

  test("q2/q4/q7/q8/q9/q12/q13/q15 shapes: hash joins only, never a loop") {
    // q11/q14/q22 are excluded on purpose: their one-row scalar broadcast
    // legitimately plans a 1-row BroadcastNestedLoopJoin (constant cost)
    for (name <- Seq("tpch_q2_min_balance_supplier", "tpch_q4_priority_count",
      "tpch_q7_nation_volume", "tpch_q8_market_share",
      "tpch_q9_product_profit", "tpch_q12_priority_lines",
      "tpch_q13_order_distribution", "tpch_q15_top_supplier")) {
      val p = planOf(name)
      assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name plan regressed to a loop join:\n$p")
    }
  }

  test("q4 shape: cross-side EXISTS rides a semi hash join as a residual") {
    val p = planOf("tpch_q4_priority_count")
    // the l_shipdate > o_orderdate + 60d correlate must be a residual on
    // the orderkey-keyed semi join, not the join condition itself
    assert(p.contains("LeftSemi"), s"q4 must semi-join:\n$p")
    assert(p.contains("INTERVAL '60' DAY"),
      s"q4 residual lost from the semi join:\n$p")
  }

  test("q13 shape: the priority filter must NOT turn the outer join inner") {
    val p = planOf("tpch_q13_order_distribution")
    // zero-order customers survive with c_count = 0 only while the join
    // stays LeftOuter; a WHERE-placed filter would silently make it inner
    assert(p.contains("LeftOuter"), s"q13 lost its outer join:\n$p")
    assert(p.contains("partial_count"), s"q13 count must partial map-side:\n$p")
  }

  test("q15 shape: the max-revenue scalar is an equality broadcast, reusing the agg") {
    val df = SparkEntry.queries("tpch_q15_top_supplier")(spark, sf0001)
    // reuse is finalized by AQE at runtime — execute THIS QueryExecution
    // in place, then audit only the finalized section
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the same per-supplier aggregate feeds both the max and the probe
    // side — the exchange must be planned once and reused, and the max
    // row joins back by decimal equality (a hash join, not a loop)
    assert(p.contains("BroadcastHashJoin"), s"q15:\n$p")
    assert(p.contains("ReusedExchange") || p.contains("ReusedSubquery"),
      s"q15 per-supplier aggregate must not be computed twice:\n$p")
  }

  test("q7 shape: the nation-pair filter prunes both dimensions pre-shuffle") {
    val df = SparkEntry.queries("tpch_q7_nation_volume")(spark, sf0001)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // the 2-of-25 nation prune must reach the nation scans, not sit as a
    // post-join filter over the full fact join output
    assert(p.contains("In(n_name, [NATION_1,NATION_2])"),
      s"q7 nation prune lost from the dimension scan:\n$p")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("pivot: explicit values list keeps it aggregation-only (no collect, no Expand)") {
    val p = planOf("events_pivot_priority")
    // an omitted values list would run a blocking collect-distinct job
    // before planning; the explicit list plans straight to pivotfirst
    // over map-side partial counts
    assert(p.contains("pivotfirst"), s"pivot plan:\n$p")
    assert(!p.contains("Expand"), s"pivot must not Expand rows:\n$p")
    assert(p.contains("partial_count"), s"pivot count must partial map-side:\n$p")
  }

  test("set ops: INTERSECT/EXCEPT plan as aggregated semi/anti hash joins") {
    val p = planOf("setop_customer_churn")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), s"setop:\n$p")
    assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
      s"setop must not loop:\n$p")
  }

  test("q8 shape: region membership is a semi join, share is ONE agg pass") {
    val p = planOf("tpch_q8_market_share")
    assert(p.contains("LeftSemi"), s"q8 region membership must semi-join:\n$p")
    // conditional numerator and total come out of a single aggregation —
    // exactly one partial_sum pair (two sum columns, one HashAggregate)
    assert("HashAggregate".r.findAllIn(p).length == 2,
      s"q8 share must be one partial+final agg pass:\n$p")
  }

  test("bucketed join: both sides consume the bucket layout, zero exchanges") {
    val p = planOf("events_bucketed_join")
    // the JOIN itself must be exchange-free (bucket layout = the
    // pre-paid shuffle); the only exchange in the whole plan is the
    // final event_type aggregation
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"bucketed join must not re-shuffle either side:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"bucketed join should be a non-broadcast equi-join:\n$p")
    assert(p.contains("Bucketed: true"), s"scan must report bucketing:\n$p")
  }

  test("edit-distance join: segment blocking is a hash equi-join, never a loop") {
    // the whole point of PassJoin-style blocking is that the levenshtein
    // predicate NEVER appears as a join condition — it runs as a filter
    // over hash-joined candidates. A nested-loop/cartesian here is the
    // O(n^2) plan the operator exists to avoid.
    Seq("er_dirty_link", "er_self_pairs", "er_link_best", "er_jw_rerank")
        .foreach { n =>
      val p = planOf(n)
      assert(!p.contains("NestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$n must block via hash join:\n$p")
      assert(p.contains("levenshtein"),
        s"$n must verify candidates with levenshtein:\n$p")
    }
  }

  test("basket pairs: closure prune broadcast, no cartesian anywhere") {
    // the declared query serves from the r16 session memo (an RDD-scan
    // plan by design), so the pin inspects the BUILD plan directly
    val p = graft.ops.MarketBasket.frequentPairs(
        graft.Tables.lineitem(spark, sf0001), "l_orderkey", "l_partkey",
        minSupport = 2L)
      .queryExecution.executedPlan.toString
    // the frequent-item set and the support carries ride broadcasts;
    // the pair join itself is basket-keyed hash — never nested-loop
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("set-similarity join: prefix blocking is a hash equi-join, never a loop") {
    // AllPairs prefix filtering, like PassJoin: the jaccard predicate
    // must never be a join condition — candidates hash-join on prefix
    // tokens, the exact verify runs as a filter after the intersection
    // aggregate
    val p = planOf("dedup_setsim_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"prefix blocking must stay a hash join:\n$p")
  }

  test("skyline: frontier joins back as a broadcast hash join, no dominance loop") {
    val p = planOf("analytics_skyline")
    assert(!p.contains("CartesianProduct"),
      s"skyline must never plan a pairwise dominance join:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the x-cardinality frontier relation should broadcast:\n$p")
  }

  test("skyline: no single-partition window over distinct x (r17 verdict)") {
    // the LARGE path's running mins must be the distributed shape:
    // windows partitioned by the coarse value bucket; the ONLY
    // zero-partition window allowed is the <=256-row cross-bucket
    // prefix (ordered by __ob), never one ordered by the x column.
    // The pin inspects runningMins' OWN plan (r19): the operator
    // localCheckpoints the frontier, so the published DataFrame's plan
    // hides every window behind an RDD scan and a pin on it would pass
    // vacuously whatever the machinery did. Synthesized
    // >SkylineSmallMaxRows distinct x mirrors the large-path regime.
    import org.apache.spark.sql.functions.{col => c, min => mn}
    val perX = spark.range(30000)
      .select((c("id").cast("double") / 7.0).as("p_retailprice"),
        (c("id") % 50).cast("int").as("__miny"))
    val mins = graft.ops.Aggregations.runningMins(
      perX, Nil, "p_retailprice")
    val phys = mins.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    val windows = phys.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the bucketed windows in the plan")
    val bad = windows.filter(w => w.partitionSpec.isEmpty &&
      w.orderSpec.exists(_.child.references.exists(
        _.name == "p_retailprice")))
    assert(bad.isEmpty,
      s"continuous x must not plan a global window over distinct x:\n" +
        mins.queryExecution.executedPlan)
    // and the within-bucket windows must partition on the coarse bucket
    assert(windows.exists(w => w.partitionSpec.exists(
        _.references.exists(_.name == "__cb"))),
      "expected windows partitioned by the coarse value bucket")
    assert(mins.count() == 30000)
  }

  test("weighted containment: merge-walk verify, no exploded pair aggregate") {
    // the r19 verify shape: candidates hash-join the broadcast per-doc
    // arrays and resolve m with ONE graft_woverlap call per pair — the
    // exploded shared-token join (|cand| x doc-length rows + a pair
    // aggregate) must never come back
    val p = planOf("dedup_containment_weighted")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"blocking must stay a hash join:\n$p")
    assert(p.contains("graft_woverlap"),
      s"verify must be the sorted-merge native expression:\n$p")
  }

  test("containment exact: prefix-x-full blocking is a hash equi-join") {
    val p = planOf("dedup_containment_exact")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"contained-side prefix blocking must stay a hash join:\n$p")
  }

  test("interval overlap: grid-cell equi join, range predicate residual") {
    val p = planOf("join_interval_overlap")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"overlap join must block on grid cells:\n$p")
  }

  test("triangles: every join a hash equi-join, order predicates residual") {
    val p = planOf("graph_triangles")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("rfm: quartile thresholds broadcast, no corpus-wide window sort") {
    val p = planOf("analytics_rfm")
    // three quartile relations arrive as broadcasts over the scored rows
    assert("BroadcastExchange".r.findAllIn(p).length >= 3)
    // the only Window operators allowed are the coarse-bucket offset
    // tables inside quantilesExact (bounded by the 64-bucket grid and
    // the per-bucket value groups) — no window may partition by the
    // customer key, which would mean a global rank crept back in
    assert(!p.contains("windowspecdefinition(custkey"))
  }

  test("bloom semi join: getbit probes run before the exchange") {
    val p = planOf("join_bloom_semi")
    val lines = p.linesIterator.toSeq
    val gi = lines.indexWhere(_.contains("getbit"))
    assert(gi >= 0, "bloom conjunction missing from the plan")
    // the filter's child must be the parquet scan itself — the probe
    // prunes the scan stage, not some post-shuffle stage
    assert(lines.drop(gi + 1).take(3).exists(_.contains("FileScan parquet")),
      s"getbit filter not on the scan:\n$p")
  }
}
