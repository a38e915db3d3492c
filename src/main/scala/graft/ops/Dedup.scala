package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Document deduplication for large-scale training-data pipelines: exact
  * (hash-groupBy), MinHash + banded LSH (near-dup candidates without an
  * all-pairs join), exact n-gram Jaccard verification over the candidate
  * set, and 64-bit tf-weighted SimHash with pigeonhole banding.
  *
  * Scale posture (100 TB): the per-document sketches (shingles, MinHash
  * signature, band signatures) are pure projections — array expressions
  * inside one whole-stage-codegen map, no explode, no shuffle. The only
  * shuffles are (a) the groupBy on the band signature (rows are
  * (doc_id, band, sig) — tiny vs the corpus) and (b) the candidate-pair
  * verification join, whose left side is the candidate set, not the corpus.
  * Nothing here ever compares all pairs.
  *
  * Determinism: every hash is md5 over explicit UTF-8 strings (MinHash
  * derives its signature values from ONE md5 per gram via a literal-seed
  * universal-hash family — see [[MinhashSeeds]]), so results are
  * reproducible across engines (the DuckDB oracles in
  * [[graft.queries.DedupQueries]] replay the identical computation).
  *
  * Resource contract: the pair operators persist small sketch relations
  * (MEMORY_AND_DISK, deserialized: SQL-cache blocks are already compact
  * columnar CachedBatches — the r21 _SER experiment measured a 5x wall
  * regression on the containment family from the added per-read
  * serialization, see OPTIMIZATION_r21.md) to prevent recomputation
  * races across join sides.
  * They are NOT unpersisted here (the returned plans still reference
  * them); consume the result, then release with
  * `spark.catalog.clearCache()` — as Verify/Bench do per query.
  */
object Dedup {

  /** Exact dedup: group documents by a canonical content key
    * (md5 of lowercased text), keep the lowest id as the keeper.
    * One hash-aggregate; the shuffle carries one row per distinct content.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(lower(col(textCol))).as("text_key"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Materializing exact dedup: return the KEPT rows themselves (the
    * lowest-id representative of every content group) — what an ingestion
    * pipeline actually writes downstream. Shuffle carries (key, min_id)
    * pairs; the corpus is re-read once for the semi-join, never collected.
    */
  def exactKeepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exact(df, idCol, textCol).select(col("keeper_id"))
    df.join(keepers, col(idCol) === col("keeper_id"), "left_semi")
  }

  /** Incremental exact dedup — the batch-vs-index face for the EXACT
    * family (mirroring [[incrementalLshCandidates]] for the sketch
    * families): drop batch rows whose content hash already exists in the
    * ingested corpus, then keep-first within the batch itself. What a
    * per-ingest pipeline runs before any fuzzy pass.
    *
    * Scale posture: the corpus side reduces to DISTINCT 16-byte content
    * hashes — corpus-sized, so NOT broadcast; the anti-join shuffles
    * both sides by hash (the correct shape: fixed-width keys, never the
    * text). In production the hash relation is a stored index appended
    * per ingest, exactly like the band indexes in
    * [[graft.streaming.NearDupIngest]].
    */
  def exactIncremental(batch: DataFrame, corpus: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val seen = corpus.select(md5(lower(col(textCol))).as("__h")).distinct()
    val fresh = batch.withColumn("__h", md5(lower(col(textCol))))
      .join(seen, Seq("__h"), "left_anti")
    // keep-first groups on the hash CARRIED through the anti-join instead
    // of calling exactKeepFirst (which would re-hash the batch text a
    // second time per plan reference)
    val keepers = fresh.groupBy(col("__h"))
      .agg(min(col(idCol)).as("keeper_id")).select(col("keeper_id"))
    fresh.join(keepers, col(idCol) === col("keeper_id"), "left_semi")
      .drop("__h")
  }

  /** Deterministic hash-based sampling: keep rows whose md5-derived bucket
    * (0-99) falls below `pct`. Unlike `sample()`/`sampleBy()` this is
    * reproducible across engines, runs, and partitionings — the
    * train/test-split primitive for dataset curation (split = complement
    * of the same predicate).
    */
  def hashSample(df: DataFrame, idCol: String, pct: Int): DataFrame =
    df.filter(hashBucket(col(idCol)) < pct)

  /** md5-derived bucket 0-99 from the first 8 hex digits of md5(id) —
    * 32 bits, so the mod-100 bias is ~2e-8 (4 digits would skew buckets
    * 0-35 by 1/655 relative). Public: the split primitive for
    * train/test/holdout carving and for [[incrementalLshCandidates]]'s
    * batch-vs-corpus fixtures.
    */
  def hashBucket(id: Column): Column =
    (conv(substring(md5(id.cast(StringType)), 1, 8), 16, 10).cast("long") % 100)

  /** Deterministic stratified sample: the first `nPer` rows of every
    * `groupCol` stratum, ordered by md5(id) (id as tiebreak) — the
    * per-language / per-source quota primitive for corpus balancing.
    * Unlike `sampleBy` the result is engine- and run-reproducible.
    *
    * Scale posture: one shuffle on the stratum key; Spark plans the
    * rank-filter as WindowGroupLimit (per-partition partial top-n before
    * the exchange), so the shuffle carries at most nPer rows per
    * (stratum, input partition), not the corpus.
    */
  def stratifiedSample(df: DataFrame, groupCol: String, idCol: String,
                       nPer: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast(StringType)), col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= nPer).drop("__rk")
  }

  /** Cluster-size histogram over a resolved near-dup labeling (the audit
    * a dedup run publishes: how many clusters of each size, i.e. how much
    * of the corpus is duplicated how heavily). Input is
    * [[resolveClusters]]'s (node, label) output; two tiny aggregations
    * over the candidate-sized relation.
    */
  def clusterStats(resolved: DataFrame): DataFrame =
    resolved.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  /** Deterministic per-group weighted sampling — the domain-mixture
    * primitive for training-data composition (e.g. upsample curated
    * sources, downsample raw crawl): keep a row when its md5 bucket falls
    * below the group's percentage; groups absent from `pctByGroup` get
    * rate 0. Same reproducibility contract as [[hashSample]] (stable
    * across engines, runs, and partitionings — re-running a mixture
    * yields the identical corpus), and map-only: the rate lookup is a
    * CASE chain, no join, no shuffle.
    */
  def weightedSample(df: DataFrame, idCol: String, groupCol: String,
                     pctByGroup: Map[String, Int]): DataFrame = {
    val rate = pctByGroup.toSeq.sortBy(_._1).foldLeft(lit(0)) {
      case (acc, (g, pct)) => when(col(groupCol) === g, lit(pct)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol)) < rate)
  }

  /** EXACT-SIZE weighted sampling without replacement, per group —
    * Efraimidis-Spirakis priority sampling (the classic one-pass
    * algorithm): each row gets the key `u^(1/w)` with `u` an
    * md5-derived uniform in (0, 1] (no RNG — reruns and engines agree
    * bit-for-bit) and `w > 0` its weight; the top `n` keys per group
    * ARE a weighted sample without replacement. Complements
    * [[weightedSample]] (Bernoulli rates: expected size) when the
    * contract is "exactly n docs per slice, longer/better docs more
    * likely". Non-positive weights are excluded (a zero-weight row can
    * never be drawn).
    *
    * Shuffle shape: one map pass computes priorities, one group-keyed
    * window ranks them (WindowGroupLimit keeps n per partition
    * pre-shuffle). Priorities are rounded to the 1e-6 grid for the
    * cross-engine oracle compare (ties break on id, still a total
    * order); in production drop the rounding for full key resolution.
    */
  def weightedTopNSample(df: DataFrame, idCol: String, groupCol: String,
                         weightCol: String, n: Int): DataFrame = {
    val h = conv(substring(md5(col(idCol).cast(StringType)), 1, 15), 16, 10)
      .cast("double")
    val u = (h + lit(1.0)) / lit(math.pow(2, 60))
    val rn = row_number().over(Window.partitionBy(col(groupCol))
      .orderBy(col("sample_priority").desc, col(idCol)))
    df.filter(col(weightCol) > 0)
      .withColumn("sample_priority",
        round(pow(u, lit(1.0) / col(weightCol)), 6))
      .withColumn("__rn", rn).filter(col("__rn") <= n).drop("__rn")
  }

  /** [[weightedSample]] with the rates as a RELATION instead of a CASE
    * chain — the shape for mixtures over many groups (the chain is
    * O(groups) per row and bloats the plan past a few hundred arms,
    * where a broadcast hash lookup is O(1)). `rates` carries
    * (`groupCol`, `pct`); groups absent from it get rate 0 (inner join +
    * coalesce-free filter). Result is row-identical to the CASE face for
    * the same rate table (parity-spec'd).
    */
  def weightedSampleJoined(df: DataFrame, idCol: String, groupCol: String,
                           rates: DataFrame): DataFrame = {
    // collapse duplicate group rows (max wins, deterministically) — an
    // inner join against a rate table with repeated groups would
    // silently DUPLICATE corpus rows, the worst failure mode for a
    // sampling operator; the aggregate is rate-table-sized
    val r = rates.groupBy(col(groupCol)).agg(max(col("pct")).as("pct"))
    df.join(broadcast(r), Seq(groupCol))
      .filter(hashBucket(col(idCol)) < col("pct"))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Temperature-scaled mixture rates — the multilingual-LM sampling
    * rule (sample domain g with share proportional to n_g^alpha, alpha in
    * (0, 1]): flattens the domain distribution so head domains stop
    * drowning the tail. Given per-group token masses n_g (sum of
    * `lenCol`) and a total token `budget`, the target kept mass is
    * budget * n_g^alpha / sum(n^alpha), and the emitted integer rate is
    *
    *   pct_g = least(100, floor(100 * budget * share_g / (tot * n_g)))
    *
    * with share_g = round(n_g^alpha, 6) and the quotient rounded to 6
    * places BEFORE the floor — both engines compute pow/sum in the last
    * float bits differently, and the 1e-6 grid (house convention) absorbs
    * that drift so the integer rates can never disagree. Feed the result
    * straight into [[weightedSampleJoined]] for the sampled corpus.
    *
    * Zero-mass groups (all-empty or all-NULL lengths) are EXCLUDED before
    * the rate arithmetic: 0^alpha / 0 is 0/0, and the engines disagree on
    * what floor(NaN) casts to (Spark emits 0, ANSI SQL errors) — a group
    * with no token mass has nothing to sample anyway, so dropping it is
    * the only answer both engines can agree on.
    *
    * Scale posture: ONE partial-aggregated corpus pass (group -> mass);
    * everything after is domain-count-sized (the share window runs on
    * tens of rows). No corpus-sized state, no second scan.
    */
  def temperatureMixRates(df: DataFrame, groupCol: String, lenCol: Column,
                          alpha: Double, budget: Long): DataFrame =
    mixRates(df, groupCol, lenCol, alpha, budget, capPct = 100)

  /** [[temperatureMixRates]] WITHOUT the single-epoch ceiling: a tail
    * domain whose temperature-target mass exceeds its actual mass gets
    * `pct > 100` — i.e. the mixture REPEATS it for multiple training
    * epochs, the standard multilingual/data-constrained recipe (tail
    * languages are up-sampled severalfold, head domains subsampled).
    * `maxEpochs` bounds the repeat (the "no more than N epochs"
    * guidance: past a few repeats, additional epochs of the same data
    * stop helping), so `pct` lands in [0, 100 * maxEpochs]. Feed the
    * result into [[weightedSampleWithEpochs]] to materialize the
    * repeated corpus.
    *
    * Scale posture: identical to [[temperatureMixRates]] — one
    * partial-aggregated corpus pass, then domain-count-sized arithmetic.
    */
  def temperatureMixEpochRates(df: DataFrame, groupCol: String,
                               lenCol: Column, alpha: Double, budget: Long,
                               maxEpochs: Int = 4): DataFrame =
    mixRates(df, groupCol, lenCol, alpha, budget, capPct = 100 * maxEpochs)

  private def mixRates(df: DataFrame, groupCol: String, lenCol: Column,
                       alpha: Double, budget: Long, capPct: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    df.select(col(groupCol), lenCol.as("n_tok"))
      .groupBy(col(groupCol))
      .agg(sum(col("n_tok")).cast("double").as("mass"))
      .filter(col("mass") > 0)
      .withColumn("share", round(pow(col("mass"), lit(alpha)), 6))
      .withColumn("pct", least(lit(capPct), floor(round(
        lit(100.0) * lit(budget.toDouble) * col("share") /
          (sum(col("share")).over(w) * col("mass")), 6))).cast("int"))
      .select(col(groupCol), col("mass").cast("long").as("n_tokens"),
        col("pct"))
  }

  /** Materialize a mixture whose rates may exceed 100: every document
    * keeps `floor(pct / 100)` full copies, plus one more iff its md5
    * bucket falls under `pct % 100` — the deterministic fractional
    * epoch (the same [[hashBucket]] rule as [[weightedSampleJoined]],
    * so a 1.3-epoch domain repeats ALL its documents once and a
    * reproducible 30% of them twice). Emits an `epoch` column (0-based
    * copy index) so downstream shard shuffling / sequence packing can
    * spread the copies instead of training them back-to-back.
    *
    * Scale posture: broadcast rate-table join + map-side
    * `explode(sequence)` — output grows only by the epoch factor; no
    * shuffle, no corpus-sized state. Duplicate rate rows collapse (max
    * wins) exactly as in [[weightedSampleJoined]].
    */
  def weightedSampleWithEpochs(df: DataFrame, idCol: String,
                               groupCol: String, rates: DataFrame): DataFrame = {
    val r = rates.groupBy(col(groupCol)).agg(max(col("pct")).as("pct"))
    df.join(broadcast(r), Seq(groupCol))
      .withColumn("n_copies",
        floor(col("pct") / 100).cast("int") +
          when(hashBucket(col(idCol)) < col("pct") % 100, 1).otherwise(0))
      .filter(col("n_copies") > 0)
      .select(df.columns.map(col).toIndexedSeq :+
        explode(sequence(lit(0), col("n_copies") - 1)).as("epoch"): _*)
  }

  /** Deterministic token-budget sample: take documents in a fixed
    * pseudo-random global order — (md5 bucket, md5(id), id) — until the
    * cumulative length of the PRECEDING documents reaches `budget` (so
    * the kept set is a reproducible prefix of a reproducible permutation;
    * the document that crosses the budget line is the last one kept).
    * The "sample exactly N tokens for this ablation" primitive.
    *
    * Scale posture: a global running sum is a single-partition window,
    * so it is computed as a distributed prefix-sum instead — per-bucket
    * totals (one partial-aggregated pass, 100 rows out) feed a
    * bucket-count-sized offset window, and the offsets broadcast back
    * into 100 INDEPENDENT per-bucket windows. No corpus-sized state ever
    * sits on one task; the result is row-identical to the naive global
    * window (the oracle states it that way).
    */
  def tokenBudgetSample(df: DataFrame, idCol: String, lenCol: String,
                        budget: Long): DataFrame = {
    val withB = df.select(col(idCol), col(lenCol))
      .withColumn("__b", hashBucket(col(idCol)))
    val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = withB.groupBy(col("__b"))
      .agg(sum(col(lenCol)).as("__t"))
      .withColumn("__off", coalesce(sum(col("__t")).over(wOff), lit(0L)))
      .select(col("__b"), col("__off"))
    val wIn = org.apache.spark.sql.expressions.Window.partitionBy(col("__b"))
      .orderBy(md5(col(idCol).cast(StringType)), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    withB.join(broadcast(offsets), "__b")
      .withColumn("cum_before",
        col("__off") + coalesce(sum(col(lenCol)).over(wIn), lit(0L)))
      .filter(col("cum_before") < budget)
      .select(col(idCol), col(lenCol), col("cum_before"))
  }

  /** Per-GROUP token-budget sampling — "take exactly N tokens from each
    * domain", the mixture-targeted form of [[tokenBudgetSample]]: every
    * group gets its own reproducible prefix of its own reproducible
    * permutation, cut at that group's budget. `budgets` carries
    * (`groupCol`, `budget`); duplicate group rows collapse (max wins,
    * deterministically — same contract as [[weightedSampleJoined]]);
    * groups absent from the table are dropped (inner join).
    *
    * Scale posture: the same distributed prefix-sum as the global face,
    * one level down — per-(group, bucket) totals feed a PER-GROUP offset
    * window (rows = groups x 100, domain-scale, broadcast back), and the
    * running sums run in groups x 100 INDEPENDENT windows. No group ever
    * sits on one task regardless of its size.
    */
  def tokenBudgetSampleBy(df: DataFrame, idCol: String, lenCol: String,
                          groupCol: String, budgets: DataFrame): DataFrame = {
    val b = budgets.groupBy(col(groupCol)).agg(max(col("budget")).as("budget"))
    val withB = df.select(col(groupCol), col(idCol), col(lenCol))
      .withColumn("__b", hashBucket(col(idCol)))
    val wOff = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = withB.groupBy(col(groupCol), col("__b"))
      .agg(sum(col(lenCol)).as("__t"))
      .withColumn("__off", coalesce(sum(col("__t")).over(wOff), lit(0L)))
      .select(col(groupCol), col("__b"), col("__off"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("__b"))
      .orderBy(md5(col(idCol).cast(StringType)), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    withB.join(broadcast(offsets), Seq(groupCol, "__b"))
      .withColumn("cum_before",
        col("__off") + coalesce(sum(col(lenCol)).over(wIn), lit(0L)))
      .join(broadcast(b), Seq(groupCol))
      .filter(col("cum_before") < col("budget"))
      .select(col(groupCol), col(idCol), col(lenCol), col("cum_before"))
  }

  /** Distinct word k-gram shingles as an array column `shingles`
    * (map-only; empty array when the document has fewer than k tokens OR
    * the text is NULL — the NULL-text coalesce keeps the historical
    * empty-array contract even though the underlying native expression is
    * NULL-in/NULL-out, so consumers computing `size(shingles)` see 0, not
    * NULL). Built on the native codegen [[graft.functions.WordGrams]]
    * expression — the HOF formulation (`array_distinct(transform(...))`)
    * evaluated interpreted and was re-evaluated by
    * `InferFiltersFromGenerate` under every explode, which made shingling
    * the hot spot of the whole fuzzy pipeline (4 s of its 5 s at sf0.1).
    */
  def withShingles(df: DataFrame, textCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("shingles",
      coalesce(
        call_function("graft_word_grams", lower(col(textCol)), lit(k), lit(true)),
        typedLit(Seq.empty[String])))
  }

  /** Exploded distinct-shingle relation (doc_id, s) — the base for the
    * exact-Jaccard verification (set semantics, so distinct matters).
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    withShingles(df, textCol, k)
      .select(col(idCol).as("doc_id"), explode(col("shingles")).as("s"))

  /** MinHash signature as one aggregate pass: for seed j, mh_j = min over
    * shingles of md5(j || ':' || shingle), computed as `numHashes` min()
    * aggregates over the exploded shingle relation.
    *
    * Why this shape and not a per-row array expression: Spark's
    * higher-order functions (transform/array_min) evaluate interpreted,
    * and CollapseProject inlines the shingle array into every seed's
    * lambda — 16x recompute, per join side. The explode + partial-agg
    * formulation computes each md5 exactly once map-side and shuffles only
    * the (doc_id, 16 hashes) sketch.
    *
    * The shingle array here is deliberately NOT deduplicated and NOT
    * guarded by a CASE: min() is insensitive to duplicates, and the
    * cheaper generator expression matters because `InferFiltersFromGenerate`
    * re-evaluates it in a pushed-down filter. Documents with < k tokens
    * produce an empty sequence and simply drop out (same contract as the
    * oracle's `range()`).
    */
  /** Raw (non-distinct) exploded word-k-gram relation (doc_id, s) — the
    * shared generator for the MinHash sketch and corpus n-gram counting.
    * Fans out single-split scans ([[Par.fanOut]]); documents with < k
    * tokens yield an empty gram array and drop out of the explode (same
    * contract as the oracles' empty `range()`). Gram generation is the
    * native codegen [[graft.functions.WordGrams]] — see [[withShingles]].
    */
  private[ops] def rawGramRows(df: DataFrame, idCol: String,
                               textCol: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val in = Par.fanOut(df.select(col(idCol), col(textCol)))
    in.select(col(idCol).as("doc_id"),
      explode(call_function("graft_word_grams",
        lower(col(textCol)), lit(k), lit(false))).as("s"))
  }

  /** Universal-hash family for the MinHash signature: the gram is md5'd
    * ONCE, its first 15 hex digits (60 bits) become an integer `h`, and
    * signature value j is `(a_j * (h mod p) + b_j) mod p` over the
    * Mersenne prime p = 2^31 - 1. One string hash + numHashes integer
    * multiply-adds per gram — vs numHashes independent md5 evaluations,
    * which at 16 hashes made md5 the most expensive expression in the
    * whole suite.
    *
    * Seed independence matters: each (a_j, b_j) is derived from its own
    * md5 digest. An earlier revision used `a_j = (j+1)*A mod p`, which
    * makes `h_j(x) = (j+1) * (A*h + B) mod p` — every signature value a
    * scalar multiple of ONE hash, so the 16 "independent" minhashes were
    * heavily correlated, the 4 bands acted like one, and LSH recall on the
    * planted fixture dropped from 28/28 to 24/28. The seeds are plan-time
    * Scala constants spliced as literals into BOTH engines (the DuckDB
    * oracle's `VALUES` list), so parity is by construction.
    */
  val MinhashPrime: Long = 2147483647L
  val MinhashSeeds: IndexedSeq[(Long, Long)] = (0 until 64).map { j =>
    // first 15 hex digits (60 bits) of md5 over a per-seed tag
    def h60(tag: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$tag$j".getBytes("UTF-8"))
      val hex = d.map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    (h60("graft-minhash-a-") % (MinhashPrime - 1) + 1, // a in [1, p-1]
      h60("graft-minhash-b-") % MinhashPrime)          // b in [0, p-1]
  }

  /** 60-bit md5 prefix of `s` reduced mod [[MinhashPrime]] — the shared
    * per-gram hash every signature value derives from. 15 hex digits stay
    * inside signed-long range; a_j * hm < 2^62 keeps the multiply exact.
    */
  private def gramHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long") % MinhashPrime

  def minhashSketch(df: DataFrame, idCol: String, textCol: String,
                    k: Int, numHashes: Int): DataFrame = {
    def mhMin(j: Int) = {
      val (a, b) = MinhashSeeds(j)
      min((lit(a) * col("hm") + lit(b)) % MinhashPrime).as(s"mh$j")
    }
    rawGramRows(df, idCol, textCol, k)
      .withColumn("hm", gramHash(col("s")))
      .groupBy("doc_id")
      .agg(mhMin(0), (1 until numHashes).map(mhMin): _*)
  }

  /** Banded LSH candidate pairs: the signature is cut into `bands` bands
    * of numHashes/bands hashes; two documents are candidates iff some
    * band's signature (md5 of the comma-joined hashes) matches exactly.
    * Only (doc_id, band, sig) rows are shuffled for the bucket self-join;
    * the sketch aggregation underneath is one reused exchange, so the
    * corpus-side work runs once.
    */
  /** (doc_id, band, sig) LSH band relation — the unit that gets indexed,
    * self-joined ([[lshCandidatePairs]]) or joined against an existing
    * index ([[incrementalLshCandidates]]). Band signature = the
    * comma-joined hash values themselves (~40 chars for 4 ints) — hashing
    * them again would cost more than it saves.
    *
    * Public as [[bandIndex]]: this is the relation an ingestion pipeline
    * PERSISTS as the corpus near-dup index (see
    * [[graft.streaming.NearDupIngest]] for the streaming writer).
    */
  def bandIndex(df: DataFrame, idCol: String, numHashes: Int,
                bands: Int, textCol: String = "text", k: Int = 3): DataFrame =
    bandRelation(df, idCol, numHashes, bands, textCol, k)

  private def bandRelation(df: DataFrame, idCol: String, numHashes: Int,
                           bands: Int, textCol: String, k: Int): DataFrame = {
    val r = numHashes / bands
    minhashSketch(df, idCol, textCol, k, numHashes).select(col("doc_id"),
      posexplode(array((0 until bands).map { b =>
        concat_ws(",", (b * r until (b + 1) * r).map(j => col(s"mh$j")): _*)
      }: _*)).as(Seq("band", "sig")))
  }

  /** Drop every member of a band bucket whose membership exceeds `cap` —
    * the guard that keeps bucket self-joins from going quadratic when a
    * real corpus floods near-identical documents into one bucket (a
    * bucket of n members contributes n^2/2 candidate pairs; one
    * million-document flood would dominate the whole job). Exact-duplicate
    * collapse ([[exactKeepFirst]]) is the FIRST line of defense — compose
    * it upstream, as [[nearDupKeepFirst]] does; the cap is the loud
    * backstop for floods that survive it. Dropping a bucket trades recall
    * (its members skip near-dup detection), never correctness of the
    * surviving pairs, and every drop is reported on stderr with sizes.
    *
    * Scale shape: bucket sizes are one partial-agg pass over the
    * sketch-sized band relation; the hot set (buckets over cap) is tiny by
    * construction and broadcast for the anti-join — `banded` itself is
    * never re-shuffled.
    */
  /** Compute the hot-bucket key set of `counted` (buckets above `cap`),
    * reporting drops loudly. r21 (VERDICT r20 task 6): the hot set is NO
    * LONGER collected to the driver — the driver pulls exactly ONE
    * aggregate row (count + dropped-member sum, both exact) for the loud
    * audit, and the key set itself stays distributed behind an eager
    * serialized localCheckpoint (no cache-manager entry, so the
    * per-ingest callers stay leak-free; blocks free via ContextCleaner).
    * A pathological corpus with millions of distinct hot buckets can no
    * longer driver-OOM the audit of the guard that exists to prevent
    * blowups. The common cool path still costs one tiny job (the audit
    * aggregate); the checkpoint job runs only when hot buckets exist.
    */
  private def hotBucketKeys(counted: DataFrame, keys: Seq[String], cap: Int,
                            what: String): Option[DataFrame] = {
    // Checkpoint FIRST, audit from the checkpoint (r22): r21's
    // audit-then-checkpoint order ran the bucket-count aggregation —
    // a full pass over BOTH join sides — twice whenever a bucket was
    // hot (the audit collect and the eager checkpoint are separate
    // actions over the same lineage). That extra pass was the er
    // *_rescued family's +10-33% regression (VERDICT r21, flat GC).
    // The hot set is tiny by the cap's own definition, so
    // checkpointing it unconditionally costs the single pass the
    // audit always needed; the cool path's empty checkpoint frees via
    // the ContextCleaner as soon as this returns None.
    val hot = counted.filter(col("__bsz") > cap)
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val audit = hot
      .agg(count(lit(1)).as("__n"), sum("__bsz").as("__dropped")).collect()(0)
    val n = audit.getAs[Long]("__n")
    if (n == 0L) None
    else {
      val dropped = audit.getAs[Long]("__dropped")
      System.err.println(s"[graft] $what: dropped $n hot " +
        s"bucket(s) (> $cap members, $dropped rows total) from the " +
        s"candidate join; their documents skip near-dup detection — " +
        s"collapse exact duplicates upstream to avoid this")
      Some(hot.select(keys.map(col): _*))
    }
  }

  private[graft] def capBuckets(banded: DataFrame, keys: Seq[String],
                                cap: Int, what: String): DataFrame = {
    if (cap <= 0) banded
    else {
      val kc = keys.map(col)
      val counted = banded.groupBy(kc: _*).agg(count(lit(1)).as("__bsz"))
      hotBucketKeys(counted, keys, cap, what) match {
        case None => banded
        case Some(hot) => banded.join(broadcast(hot), keys, "left_anti")
      }
    }
  }

  /** [[capBuckets]] for a PAIR of band relations about to be joined
    * against each other (the incremental batch-vs-index shape): hot
    * buckets are judged on COMBINED membership — a per-side cap would
    * miss a bucket that is cool on each side but hot in the union — and
    * dropped from both sides.
    */
  private[graft] def capBucketsPaired(a: DataFrame, b: DataFrame,
                                      keys: Seq[String], cap: Int,
                                      what: String): (DataFrame, DataFrame) = {
    val (ca, cb, _) = capBucketsPairedHot(a, b, keys, cap, what)
    (ca, cb)
  }

  /** [[capBucketsPaired]] that ALSO hands back the hot-bucket key set
    * (None when nothing was dropped) — for callers that re-block the
    * dropped members through a second family instead of losing their
    * recall (the ER flood rescue).
    */
  private[graft] def capBucketsPairedHot(a: DataFrame, b: DataFrame,
                                         keys: Seq[String], cap: Int,
                                         what: String)
      : (DataFrame, DataFrame, Option[DataFrame]) = {
    if (cap <= 0) (a, b, None)
    else {
      val kc = keys.map(col)
      val counted = a.select(kc: _*).unionAll(b.select(kc: _*))
        .groupBy(kc: _*).agg(count(lit(1)).as("__bsz"))
      hotBucketKeys(counted, keys, cap, what) match {
        case None => (a, b, None)
        case Some(hot) =>
          val h = broadcast(hot)
          (a.join(h, keys, "left_anti"), b.join(h, keys, "left_anti"),
            Some(hot))
      }
    }
  }

  def lshCandidatePairs(df: DataFrame, idCol: String,
                        numHashes: Int, bands: Int,
                        textCol: String = "text", k: Int = 3,
                        maxBucketSize: Int = 0): DataFrame = {
    // The band relation is sketch-sized (bands rows x ~50 B per document —
    // orders of magnitude under the corpus). PERSIST it so the bucket
    // self-join reads one materialization instead of recomputing the whole
    // scan->shingle->sketch pipeline per join side (broadcast joins have
    // no common exchange for ReuseExchange to dedup).
    val banded = bandRelation(df, idCol, numHashes, bands, textCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Materialize ONCE, serially, before the join: its two sides (stream +
    // broadcast thread) would otherwise race to compute the same cache
    // blocks concurrently — observed as multi-10x nondeterministic stalls
    // on block locks.
    banded.count()
    val pruned = capBuckets(banded, Seq("band", "sig"), maxBucketSize,
      "lshCandidatePairs")
    val a = pruned.as("a")
    val b = pruned.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
      && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Incremental-ingestion LSH candidates: near-dup candidates for a NEW
    * batch of documents against an already-ingested corpus, plus within
    * the batch itself — WITHOUT ever joining the old corpus against
    * itself. This is the shape a production pipeline actually runs on
    * every ingest: the corpus band relation is an INDEX (computed once,
    * stored alongside the corpus — here recomputed from `corpus` since
    * the fixture has no persisted index), and each batch pays
    * O(|batch| x bucket density), independent of corpus-squared.
    *
    * Result equals `lshCandidatePairs(corpus union batch)` restricted to
    * pairs touching the batch (band signatures are per-document, so the
    * split changes nothing), with pairs in canonical (min, max) order.
    */
  def incrementalLshCandidates(corpus: DataFrame, batch: DataFrame,
                               idCol: String, numHashes: Int, bands: Int,
                               textCol: String = "text", k: Int = 3,
                               maxBucketSize: Int = 0): DataFrame = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bOld = bandRelation(corpus, idCol, numHashes, bands, textCol, k).persist(sl)
    bOld.count() // serial materialization — see lshCandidatePairs
    val bNew = bandRelation(batch, idCol, numHashes, bands, textCol, k).persist(sl)
    bNew.count()
    // Eagerly materialize the (small, candidate-sized) result with a
    // lineage cut, then RELEASE the band-relation caches: this is the
    // per-ingest production path, so leaving bOld/bNew pinned would
    // accumulate cache-manager entries across every ingest of a session.
    // Checkpointed blocks self-free via the ContextCleaner when the
    // returned plan is collected — same rationale as resolveClusters.
    val result = incrementalLshCandidatesIndexed(bOld, bNew, maxBucketSize)
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    bOld.unpersist()
    bNew.unpersist()
    result
  }

  /** [[incrementalLshCandidates]] over PREBUILT band relations
    * ([[bandIndex]] rows — what a stored index actually is, so the
    * streaming ingester joins the parquet index directly). Lazy: the
    * caller owns materialization and cache lifecycle.
    */
  def incrementalLshCandidatesIndexed(bOld: DataFrame, bNew: DataFrame,
                                      maxBucketSize: Int = 0): DataFrame = {
    val (pOld, pNew) = capBucketsPaired(bOld, bNew, Seq("band", "sig"),
      maxBucketSize, "incrementalLshCandidates")
    val onBand = col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
    val cross = pNew.as("a").join(pOld.as("b"),
      onBand && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    val intra = pNew.as("a").join(pNew.as("b"),
      onBand && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    cross.union(intra).distinct()
  }

  /** Exact n-gram Jaccard over a candidate-pair set: the corpus is first
    * semi-joined down to documents that actually appear in a candidate
    * pair, so the verify is sized by the candidate set, not the corpus —
    * at 100 TB the verification cost is O(candidates), independent of
    * corpus size.
    *
    * r22: converted from the three-shuffle exploded-token intersection
    * join (cand x shingle rows, twice, + a pair aggregate) to the array
    * posture the containment/setsim verifies already use — each
    * candidate doc's sorted shingle SET as ONE array row, two hash joins,
    * and a zero-alloc graft_soverlap merge walk per pair. The
    * `m > 0` residual reproduces the old inner intersection join's
    * semantics exactly (a zero-overlap candidate produced no row there),
    * independent of `threshold`.
    */
  def jaccardVerify(docs: DataFrame, candidates: DataFrame, idCol: String,
                    k: Int, threshold: Double,
                    textCol: String = "text"): DataFrame =
    overlapScores(shingleOverlap(docs, candidates, idCol, k, textCol),
      threshold, containment = false)

  /** Candidate pairs with their exact shingle-set overlap
    * `(doc_a, doc_b, m, sa, sb)`: the corpus is semi-joined down to the
    * candidate docs, each one's sorted shingle SET built as one array
    * row, then [[arrayOverlap]]. Both relations are candidate-sized and
    * referenced 2-3 times each; they are persisted (and materialized
    * serially, see lshCandidatePairs) so the upstream candidate pipeline
    * and the array build run once, not per reference — downstream
    * composers (quote drop, the release chain) re-evaluate the pair
    * subtree.
    */
  private def shingleOverlap(docs: DataFrame, candidates: DataFrame,
                             idCol: String, k: Int,
                             textCol: String): DataFrame = {
    val cand = persisted(candidates)
    val candIds = cand.select(explode(array(col("doc_a"), col("doc_b"))).as("cid"))
      .distinct()
    val needed = docs.join(candIds, col(idCol) === col("cid"), "left_semi")
    val arr = persisted(shingleRows(needed, idCol, textCol, k)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("s"))).as("ws"))
      .withColumn("s", size(col("ws"))))
    arrayOverlap(cand, arr)
  }

  /** Candidate pairs `(doc_a, doc_b)` joined to both sides' token arrays
    * `arr(doc_id, ws, s)`, sorted in binary order with `s` the set size,
    * giving `(doc_a, doc_b, m, sa, sb)`. The overlap `m` is a zero-alloc
    * `graft_soverlap` merge walk per pair, where `array_intersect` built
    * a hash set and a result array per evaluation (r22).
    */
  private def arrayOverlap(cand: DataFrame, arr: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(cand.sparkSession)
    cand
      .join(arr.select(col("doc_id").as("doc_a"), col("ws").as("wa"),
        col("s").as("sa")), Seq("doc_a"))
      .join(arr.select(col("doc_id").as("doc_b"), col("ws").as("wb"),
        col("s").as("sb")), Seq("doc_b"))
      .withColumn("m", call_function("graft_soverlap", col("wa"), col("wb")))
  }

  /** The verify's output over `(doc_a, doc_b, m, sa, sb)` (`m` the
    * overlap, `sa`/`sb` the sizes), rounded to 6 places. Jaccard keeps
    * overlapping pairs at `jaccard >= threshold`; containment keeps the
    * larger containment at `threshold` and adds both containments, and
    * for sets `quote_like` = max containment >= 0.8 while jaccard < 0.5,
    * the asymmetric quote signature. `weighted` prefixes the columns
    * with `w`.
    */
  private def overlapScores(m: DataFrame, threshold: Double,
                            containment: Boolean,
                            weighted: Boolean = false): DataFrame = {
    val wt = if (weighted) "w" else ""
    val jac = col("m").cast("double") /
      (col("sa") + col("sb") - col("m")).cast("double")
    val ca = col("m").cast("double") / col("sa")
    val cb = col("m").cast("double") / col("sb")
    if (!containment)
      m.filter(col("m") > 0 && jac >= threshold)
        .select(col("doc_a"), col("doc_b"), round(jac, 6).as(s"${wt}jaccard"))
    else m.filter(greatest(ca, cb) >= threshold).select(Seq(col("doc_a"),
        col("doc_b"), round(jac, 6).as(s"${wt}jaccard"),
        round(ca, 6).as(s"${wt}cont_a_in_b"),
        round(cb, 6).as(s"${wt}cont_b_in_a")) ++
      (if (weighted) Nil
       else Seq((greatest(ca, cb) >= 0.8 && jac < 0.5).cast("int")
         .as("quote_like"))): _*)
  }

  /** Containment-friendly candidate generator: bottom-`nAnchors`
    * shingle-hash blocking. Banded MinHash LSH recalls pairs by
    * SYMMETRIC Jaccard, which is exactly what a quote pair lacks — a
    * 150-char window of a 600-char doc sits near jaccard 0.25, where a
    * 16/4 banding's catch probability is ~1.6%. Bottom-k anchors use
    * the KMV argument instead: a contained document's smallest shingle
    * hashes are (a prefix of) its container's small hashes, so the two
    * share an anchor with probability ≈ 1 − (1 − |Q|/|D|)^k — on the
    * planted-quote fixture, 18/18 quote pairs caught at k = 8.
    *
    * Shape: one shingle pass, one bounded per-doc window (nAnchors
    * rows/doc survive), one anchor-keyed self-join — with the standard
    * hot-bucket cap, because one globally-common shingle with a small
    * hash would otherwise pair every document containing it.
    */
  def anchorCandidatePairs(docs: DataFrame, idCol: String, nAnchors: Int,
                           textCol: String = "text", k: Int = 3,
                           maxBucketSize: Int = 0): DataFrame = {
    val capped = capBuckets(docAnchors(docs, idCol, nAnchors, textCol, k),
      Seq("ah"), maxBucketSize, "anchorCandidatePairs")
    capped.select(col("ah"), col("doc_id").as("doc_a"))
      .join(capped.select(col("ah"), col("doc_id").as("doc_b")), Seq("ah"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** [[anchorCandidatePairs]] over a pre-built (memoized)
    * [[containmentTokens]] relation `(doc_id, w)` — row-identical input
    * to the [[docAnchors]] shingle relation (word grams are per-doc
    * distinct), so the anchors, and hence the candidates, are
    * bit-identical; the shingle explode is shared with the containment
    * verify instead of re-derived.
    */
  def anchorCandidatePairsFrom(tokens: DataFrame, nAnchors: Int,
                               maxBucketSize: Int = 0): DataFrame = {
    val h = tokens.withColumn("ah",
      conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("ah"), col("w"))
    val anchors = h.withColumn("__rn", row_number().over(win))
      .filter(col("__rn") <= nAnchors)
      .select(col("ah"), col("doc_id"))
    val capped = capBuckets(anchors, Seq("ah"), maxBucketSize,
      "anchorCandidatePairs")
    capped.select(col("ah"), col("doc_id").as("doc_a"))
      .join(capped.select(col("ah"), col("doc_id").as("doc_b")), Seq("ah"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** The bottom-`nAnchors` anchor relation (ah, doc_id) of
    * [[anchorCandidatePairs]], exposed as the per-document INDEX
    * artifact: a document's anchors never change once computed, so a
    * streaming ingest persists them and probes new batches against the
    * store instead of re-sketching the corpus ([[graft.streaming.QuoteIngest]]).
    */
  def docAnchors(docs: DataFrame, idCol: String, nAnchors: Int,
                 textCol: String = "text", k: Int = 3): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, k)
    val h = sh.withColumn("ah",
      conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("ah"), col("s"))
    h.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= nAnchors)
      .select(col("ah"), col("doc_id"))
  }

  /** Asymmetric CONTAINMENT verification over LSH candidates — the
    * quote/boilerplate detector Jaccard misses: a short document fully
    * embedded in a long one has containment(short in long) ≈ 1 while
    * the symmetric Jaccard stays low (the size skew drowns the
    * overlap), so a pure-Jaccard dedup ships both, including the pure
    * quote. Emits every candidate pair whose LARGER containment
    * reaches `threshold`: `(doc_a, doc_b, jaccard, cont_a_in_b,
    * cont_b_in_a, quote_like)`, with `quote_like` = max containment
    * ≥ 0.8 while jaccard < 0.5 — the asymmetric signature. Candidate-
    * sized relations end-to-end: the corpus is touched only by the
    * candidate semi-join, and since r17 the verify carries each
    * candidate doc's shingle SET as one array row (two hash joins +
    * a map-side `array_intersect`) instead of the three-shuffle
    * exploded-token join — the [[setSimilarityPairs]] verify posture
    * (measured 2.3 → 1.3 s on `dedup_quote_pairs` at sf0.1).
    */
  def containmentPairs(docs: DataFrame, candidates: DataFrame, idCol: String,
                       k: Int, threshold: Double,
                       textCol: String = "text"): DataFrame =
    overlapScores(shingleOverlap(docs, candidates, idCol, k, textCol),
      threshold, containment = true)

  /** [[containmentPairs]] over a pre-built (memoized)
    * [[containmentDocTokens]] relation — the candidate-restricted
    * verify without the per-leg re-shingle: arrays come from the shared
    * `ts` (set-equal to the collect_set the inline face builds; the
    * intersection size, and so every output column, is identical).
    */
  def containmentPairsFrom(docTokens: DataFrame, candidates: DataFrame,
                           threshold: Double): DataFrame = {
    val cand = persisted(candidates)
    val candIds = cand.select(explode(array(col("doc_a"), col("doc_b"))).as("cid"))
      .distinct()
    // ts is (df, w)-sorted for the prefix lemma; the verify re-sorts the
    // token array into plain binary order ONCE per candidate doc
    val arr = persisted(docTokens
      .join(candIds, col("doc_id") === col("cid"), "left_semi")
      .select(col("doc_id"),
        sort_array(transform(col("ts"), x => x.getField("w"))).as("ws"),
        col("s")))
    overlapScores(arrayOverlap(cand, arr), threshold, containment = true)
  }

  /** Full fuzzy-dedup pipeline: banded-LSH candidates, then exact Jaccard
    * verification (the canonical two-phase near-dup shape at scale).
    * `maxBucketSize` > 0 enables the hot-bucket backstop ([[capBuckets]]).
    */
  def fuzzy(docs: DataFrame, idCol: String, numHashes: Int, bands: Int,
            threshold: Double, textCol: String = "text", k: Int = 3,
            maxBucketSize: Int = 0): DataFrame =
    jaccardVerify(docs,
      lshCandidatePairs(docs, idCol, numHashes, bands, textCol, k, maxBucketSize),
      idCol, k, threshold, textCol)

  /** Recall audit for the hot-bucket cap (VERDICT r19 task 4): ONE row
    * quantifying what `maxBucketSize = cap` would drop from the
    * banded-LSH candidate stage over `docs` — total band buckets, hot
    * buckets (> cap members), band rows inside them, and the distinct
    * documents with membership in ANY hot bucket. NOTE (ADVICE r20):
    * `docs_affected` is an UPPER BOUND on the recall exposure, not the
    * exact loss — a doc in one hot bucket can still be detected through
    * a non-hot bucket in another band; the exact missed-pair count
    * (all-witnesses-hot) is always <= this column's implication (the
    * historical r20 rows under "Hot-bucket cap recall cost" in
    * BASELINE.md measured both at the publish rungs). The
    * [[capBuckets]] stderr line reports drops at run time; this is the
    * same information as a RELATION, so a deployment can record the
    * cap's recall exposure next to its ladder rungs (the
    * [[graft.streaming.IvfIngest.balanceAudit]] convention: audits are
    * first-class queries, not log lines). Cost: one band-relation
    * build + one sketch-sized aggregate — never a pair join, so the
    * audit is safe to run at caps and scales where the uncapped join
    * itself is not.
    */
  def lshCapAudit(docs: DataFrame, idCol: String, numHashes: Int,
                  bands: Int, cap: Int, textCol: String = "text",
                  k: Int = 3): DataFrame = {
    require(cap > 0, s"lshCapAudit needs a positive cap, got $cap")
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val banded = bandIndex(docs, idCol, numHashes, bands, textCol, k)
      .persist(sl)
    banded.count() // serial materialization — see lshCandidatePairs
    val sizes = banded.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("bsz")).persist(sl)
    sizes.count()
    val hot = sizes.filter(col("bsz") > cap)
    // documents losing detection: members of ANY hot bucket (the hot
    // set is bounded by corpus/cap rows; the join is sketch-sized and
    // AQE picks the strategy — no forced broadcast, the audit must
    // stay safe at any scale)
    val hotDocs = banded.join(hot.select(col("band"), col("sig")),
        Seq("band", "sig"), "left_semi")
      .select(col("doc_id")).distinct()
    val out = sizes.agg(count(lit(1)).as("n_buckets"))
      .crossJoin(hot.agg(count(lit(1)).as("n_hot_buckets"),
        coalesce(sum(col("bsz")), lit(0L)).as("band_rows_dropped")))
      .crossJoin(hotDocs.agg(count(lit(1)).as("docs_affected")))
      .select(lit(cap).as("cap"), col("n_buckets"),
        col("n_hot_buckets"), col("band_rows_dropped"),
        col("docs_affected"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER) // eager: release the persists below safely
    banded.unpersist()
    sizes.unpersist()
    out
  }

  /** Exact shingle-set Jaccard self-join: every unordered pair with
    * |A∩B| / |A∪B| ≥ `threshold` over its k-shingle sets (k = 1: word
    * sets), as `(doc_a, doc_b, jaccard)` with doc_a < doc_b — the
    * zero-false-negative companion of banded-LSH [[fuzzy]]. One call of
    * the [[prefixFilterJoin]] kernel.
    */
  def setSimilarityPairs(docs: DataFrame, idCol: String, threshold: Double,
                         textCol: String = "text", k: Int = 3,
                         maxBucketSize: Int = 0): DataFrame =
    prefixFilterJoin(tokenSides(docs, None, idCol, textCol, k, weighted = false),
      threshold, containment = false, maxBucketSize, "setSimilarityPairs")

  /** Batch-against-corpus face of [[setSimilarityPairs]]: every pair
    * (new, old) and (new, new) with shingle-set Jaccard ≥ `threshold`,
    * same output schema; the corpus is never self-joined and its
    * vocabulary order is pinned (see [[prefixFilterJoin]]).
    */
  def setSimilarityIncremental(corpus: DataFrame, batch: DataFrame,
                               idCol: String, threshold: Double,
                               textCol: String = "text", k: Int = 3,
                               maxBucketSize: Int = 0): DataFrame =
    prefixFilterJoin(
      tokenSides(batch, Some(corpus), idCol, textCol, k, weighted = false),
      threshold, containment = false, maxBucketSize,
      "setSimilarityIncremental")

  /** Exact containment self-join: every unordered pair whose LARGER
    * containment max(|A∩B|/|A|, |A∩B|/|B|) reaches `threshold`, as
    * `(doc_a, doc_b, jaccard, cont_a_in_b, cont_b_in_a, quote_like)`,
    * the schema of [[containmentPairs]] — the zero-false-negative
    * companion of its anchor-blocked composition. One call of the
    * [[prefixFilterJoin]] kernel.
    */
  def containmentSelfPairs(docs: DataFrame, idCol: String,
                           threshold: Double, textCol: String = "text",
                           k: Int = 3, maxBucketSize: Int = 0): DataFrame =
    prefixFilterJoin(tokenSides(docs, None, idCol, textCol, k, weighted = false),
      threshold, containment = true, maxBucketSize, "containmentSelfPairs")

  /** The distinct shingle-token relation `(doc_id, w)` over one corpus
    * — THE shared sub-build of the whole containment/anchor family
    * ([[containmentSelfPairs]], [[anchorCandidatePairsFrom]],
    * [[containmentPairsFrom]] all derive from it), exposed so audits
    * that by definition run SEVERAL legs over the same corpus
    * (`dedup_quote_missed` = exact join + anchored pipeline) can build
    * the shingle explode ONCE and memoize it
    * ([[graft.queries.BuildMemo]]) instead of re-deriving it per leg.
    * Row-identical to [[shingleRows]] (word-gram generation is already
    * per-doc distinct); the global distinct is the defensive contract
    * the family has always applied.
    */
  def containmentTokens(docs: DataFrame, idCol: String,
                        textCol: String = "text", k: Int = 3): DataFrame =
    shingleRows(docs.select(col(idCol), col(textCol)), idCol, textCol, k)
      .select(col("doc_id"), col("s").as("w"))
      .distinct()

  /** Frequency-sorted per-doc token arrays `(doc_id, ts, s)` derived
    * from [[containmentTokens]] — the verify-side artifact of the
    * containment family (and the prefix source of
    * [[containmentSelfPairsFrom]]). `ts` is the doc's tokens sorted by
    * (corpus document frequency, token) — rare-first, the
    * prefix-lemma order; `s` its size. Corpus-linear; memoizable.
    */
  def containmentDocTokens(tokens: DataFrame): DataFrame = {
    val freq = tokens.groupBy(col("w")).agg(count(lit(1)).as("df"))
    tokens.join(freq, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("w")))).as("ts"))
      .withColumn("s", size(col("ts")))
  }

  /** [[containmentSelfPairs]] over a pre-built (memoized or persisted)
    * [[containmentDocTokens]] relation — the face the quote-audit
    * queries consume so the shingle/freq/array sub-builds are shared
    * across legs instead of rebuilt per leg.
    */
  def containmentSelfPairsFrom(docTokens0: DataFrame, threshold: Double,
                               maxBucketSize: Int = 0): DataFrame =
    prefixFilterJoin(Sides(docTokens0, None, None), threshold,
      containment = true, maxBucketSize, "containmentSelfPairs")

  /** Batch-against-corpus face of [[containmentSelfPairs]]: every pair
    * touching at least one batch document whose larger containment
    * reaches `threshold`, same output schema (see [[prefixFilterJoin]]).
    */
  def containmentIncremental(corpus: DataFrame, batch: DataFrame,
                             idCol: String, threshold: Double,
                             textCol: String = "text", k: Int = 3,
                             maxBucketSize: Int = 0): DataFrame =
    prefixFilterJoin(
      tokenSides(batch, Some(corpus), idCol, textCol, k, weighted = false),
      threshold, containment = true, maxBucketSize, "containmentIncremental")

  /** Exact WEIGHTED Jaccard self-join over term-frequency multisets of
    * word k-grams: Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b) ≥
    * `threshold`, as `(doc_a, doc_b, wjaccard)` with doc_a < doc_b. Set
    * semantics treat "spam spam spam spam" and one "spam" as identical;
    * the weighted form does not — the similarity for boilerplate whose
    * REPETITION is the signature. One call of [[prefixFilterJoin]].
    */
  def weightedSetSimilarityPairs(docs: DataFrame, idCol: String,
                                 threshold: Double,
                                 textCol: String = "text", k: Int = 1,
                                 maxBucketSize: Int = 0): DataFrame =
    prefixFilterJoin(tokenSides(docs, None, idCol, textCol, k, weighted = true),
      threshold, containment = false, maxBucketSize,
      "weightedSetSimilarityPairs")

  /** Batch-against-corpus face of [[weightedSetSimilarityPairs]], same
    * output schema (see [[prefixFilterJoin]]).
    */
  def weightedSetSimilarityIncremental(corpus: DataFrame, batch: DataFrame,
                                       idCol: String, threshold: Double,
                                       textCol: String = "text", k: Int = 1,
                                       maxBucketSize: Int = 0): DataFrame =
    prefixFilterJoin(
      tokenSides(batch, Some(corpus), idCol, textCol, k, weighted = true),
      threshold, containment = false, maxBucketSize,
      "weightedSetSimilarityIncremental")

  /** Exact WEIGHTED containment self-join: every unordered pair whose
    * larger weighted containment Σ_t min(tf_a, tf_b) / S_side reaches
    * `threshold` (S = the side's total term weight), as `(doc_a, doc_b,
    * wjaccard, wcont_a_in_b, wcont_b_in_a)`. Set containment calls a
    * page that repeats a boilerplate line 50 times "contained" after one
    * occurrence; the weighted form demands the repetition be covered
    * too. One call of [[prefixFilterJoin]].
    */
  def weightedContainmentPairs(docs: DataFrame, idCol: String,
                               threshold: Double,
                               textCol: String = "text", k: Int = 1,
                               maxBucketSize: Int = 0): DataFrame =
    prefixFilterJoin(tokenSides(docs, None, idCol, textCol, k, weighted = true),
      threshold, containment = true, maxBucketSize,
      "weightedContainmentPairs")

  /** Batch-against-corpus face of [[weightedContainmentPairs]], same
    * output schema (see [[prefixFilterJoin]]).
    */
  def weightedContainmentIncremental(corpus: DataFrame, batch: DataFrame,
                                     idCol: String, threshold: Double,
                                     textCol: String = "text", k: Int = 1,
                                     maxBucketSize: Int = 0): DataFrame =
    prefixFilterJoin(
      tokenSides(batch, Some(corpus), idCol, textCol, k, weighted = true),
      threshold, containment = true, maxBucketSize,
      "weightedContainmentIncremental")

  /** Input of [[prefixFilterJoin]]: rare-first per-doc token arrays
    * `(doc_id, ts, s)` of the probing documents and, in batch mode, of
    * the indexed corpus; for term-frequency multisets also the
    * `(doc_id, w, tf)` relation the verify walks (None for sets).
    */
  private final case class Sides(fresh: DataFrame, index: Option[DataFrame],
                                 tf: Option[DataFrame])

  /** Token build and vocabulary order of [[prefixFilterJoin]]. Sets are
    * the distinct k-shingles of [[containmentTokens]]; multisets count
    * every word k-gram occurrence as `tf`. `ts` sorts each doc's tokens
    * by (document frequency, token) — rarest first, so prefixes are
    * maximally selective — and `s` is the set size or the total weight
    * Σ tf. A self-join orders by the whole input
    * ([[containmentDocTokens]] for sets). Batch mode PINS the order to
    * the corpus-only frequencies: the prefix lemma holds under ANY total
    * order, so an index computes its prefixes once and serves every
    * later batch; batch tokens the corpus never saw order first, at
    * df 0. Only prefix selectivity ages with corpus drift.
    */
  private def tokenSides(docs: DataFrame, corpus: Option[DataFrame],
                         idCol: String, textCol: String, k: Int,
                         weighted: Boolean): Sides = {
    def tokens(d: DataFrame): DataFrame =
      if (!weighted) containmentTokens(d, idCol, textCol, k)
      else {
        graft.functions.GraftFunctions.register(d.sparkSession)
        // NON-distinct grams: the weights ARE the duplicate counts
        d.select(col(idCol).as("doc_id"), explode(coalesce(
            call_function("graft_word_grams", lower(col(textCol)), lit(k),
              lit(false)),
            typedLit(Seq.empty[String]))).as("w"))
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      }
    val tkOld = corpus.map(c => persisted(tokens(c)))
    val tkNew = persisted(tokens(docs))
    val vocab = tkOld.getOrElse(tkNew)
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    def arrays(tk: DataFrame): DataFrame = persisted(
      if (!weighted && corpus.isEmpty) containmentDocTokens(tk)
      else {
        val entry = Seq(coalesce(col("df"), lit(0L)).as("df"), col("w")) ++
          (if (weighted) Seq(col("tf")) else Nil)
        val ts = sort_array(collect_list(struct(entry: _*))).as("ts")
        val byDoc = tk.join(vocab, Seq("w"), "left").groupBy(col("doc_id"))
        if (weighted) byDoc.agg(ts, sum(col("tf")).as("s"))
        else byDoc.agg(ts).withColumn("s", size(col("ts")))
      })
    val index = tkOld.map(arrays)
    // a replayed document sits in both sides with identical tf rows:
    // one weight per (doc, token), or the verify doubles m
    Sides(arrays(tkNew), index, Option.when(weighted)(
      tkOld.fold(tkNew)(tkNew.unionByName(_).dropDuplicates("doc_id", "w"))))
  }

  private def persisted(d: DataFrame): DataFrame = {
    val p = d.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** The exact set-similarity kernel: the AllPairs/PPJoin prefix-filter
    * join (Bayardo, Ma & Srikant, WWW 2007; Xiao, Wang, Lin & Yu, WWW
    * 2008; the weighted lemma of Chaudhuri, Ganti & Kaushik, ICDE 2006),
    * built on relational primitives. Every face above is one call;
    * three choices separate them:
    *
    *  - measure: Jaccard m/(sa + sb − m), or (`containment`) the larger
    *    containment m / min(sa, sb);
    *  - weights: sets (m = |A∩B|, s = |A|), or term-frequency multisets
    *    (`sides.tf` defined; m = Σ min(tf_a, tf_b), s = Σ tf). Weights
    *    select the position encoding and the verify, nothing else;
    *  - mode: a self-join, or (`sides.index` defined) a batch against a
    *    corpus: every pair touching the batch, the corpus never
    *    self-joined — the same search run over a delta.
    *
    * Prefix lemma. Each row carries its SUFFIX `pos`: the weight from
    * that token to the end of its doc's rare-first array (the token
    * count for sets). The prefix at fraction f keeps the rows with
    * pos ≥ f·s. If a pair must share m ≥ f·sa, the globally-first shared
    * token has suffix ≥ m on A, so it lies in A's prefix: the equi-join
    * on prefix tokens has ZERO false negatives, and the exact verify
    * removes the false positives. For sets, m is integral, so the prefix
    * is the first s − ⌈f·s⌉ + 1 tokens. Every bound is computed minus
    * 1e-9: for a threshold whose double sits just above its rational
    * (0.8, 0.7 …), t·s can land epsilon ABOVE an exact integer and ceil
    * one too high — one token too few in the prefix, a silent false
    * negative. Real fractional parts are ≥ 1/s, far above the back-off,
    * so every bound errs only towards KEEPING a pair.
    *
    * Blocking, and why each filter is lossless:
    *
    *  - Jaccard: J ≥ t forces m ≥ α = t/(1+t)·(sa + sb) and the LENGTH
    *    filter sa ≥ t·sb (and back), applied as a join residual; with
    *    it α ≥ t·s on either side, so prefix × prefix at f = t is exact.
    *    A self-join meets each pair once, ordered by ROLE: A is the
    *    (size, id)-smaller side. Over sets, A's α ≥ 2t/(1+t)·sa admits
    *    PPJoin's shorter indexing prefix on A (one third vs one half of
    *    the set at t = 0.5);
    *  - containment: m ≥ t·min(sa, sb) gives a lemma only on the
    *    CONTAINED side — a 10-token quote can live in a 10^6-token book —
    *    so the join is the prefix of the role-smaller side A × the FULL
    *    rows of B; containment has no length filter;
    *  - positional filter: at the first shared token, m ≤ min(pos_a,
    *    pos_b), and the suffixes only shrink along the shared order, so
    *    max over the match rows of least(pos_a, pos_b) bounds m; a pair
    *    whose bound misses α (Jaccard) or t·sa (containment) cannot
    *    qualify;
    *  - weighted containment instead runs PPJoin+'s suffix filter: A's
    *    prefix meets all of B, so m ≤ Σ_matches min(tf_a, tf_b) + the
    *    smaller of the two tails strictly after the LAST matched prefix
    *    token — shared tokens up to it are summed exactly, everything
    *    after is capped by both tails. That row is the min-suffix match
    *    (pos strictly decreases along A), found by two PACKED primitive
    *    mins keyed by pos in the high 32 bits, which hash-aggregate with
    *    codegen where min(struct(...)) forced a SortAggregate; a tail is
    *    bounded by one document's token count (a Spark string row caps at
    *    2^31 bytes), so every packed field fits.
    *
    * Batch mode: a Jaccard batch probes with its prefixes the corpus
    * prefixes and its own (role-ordered). The cross leg orients pairs
    * new → old, not by role, so only id inequality applies and both
    * sides keep the standard prefix. A containment pair can have
    * either side contained, so batch prefixes probe everyone's full rows
    * and corpus prefixes probe the batch's full rows, each leg
    * role-ordered. A REPLAYED document sits in both relations: id
    * inequality and the role exclude the self-pair, the candidate
    * `distinct` merges the legs, and the verify reads one array per doc.
    *
    * Hot-token cap ([[capBucketsPaired]]): judged on the COMBINED
    * membership of the two join sides, except the weighted Jaccard
    * self-join, whose one prefix relation joins itself and is counted
    * once ([[capBuckets]]). Dropped tokens trade recall loudly, never
    * precision.
    *
    * Verify: sets fetch each candidate's array re-sorted into binary
    * order and count the intersection with the zero-alloc
    * `graft_soverlap` merge walk; multisets run [[weightedMergeVerify]].
    * Either is candidate-row-bound, never candidate × doc-length.
    *
    * Scale shape: token and prefix relations are corpus-linear; the
    * candidate join keys on rare-first prefix tokens; the vocabulary
    * order is a vocabulary-sized artifact, like a codebook.
    */
  private def prefixFilterJoin(sides: => Sides, threshold: Double,
                               containment: Boolean, maxBucketSize: Int,
                               label: String): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    val Sides(fresh, index, tf) = sides
    val weighted = tf.isDefined
    val eps = 1e-9
    val t = lit(threshold)
    // rows (doc_id, s, pos, w[, tf]) of the prefix at fraction `frac`
    // (None: every token); pos is the row's suffix, the token count
    // (sets) or weight (multisets) from it to the end of its doc
    def rows(dt: DataFrame, frac: Option[Double]): DataFrame =
      if (!weighted) {
        val len = frac.fold(col("s"))(f =>
          col("s") - ceil(lit(f) * col("s") - lit(eps)).cast("int") + 1)
        dt.select(col("doc_id"), col("s"),
            posexplode(slice(col("ts"), lit(1), len)).as(Seq("p0", "pt")))
          .select(col("doc_id"), col("s"), (col("s") - col("p0")).as("pos"),
            col("pt.w").as("w"))
      } else {
        val all = dt.select(col("doc_id"), col("s"),
            posexplode(col("ts")).as(Seq("p0", "pt")))
          .select(col("doc_id"), col("s"), (col("s") - sum(col("pt.tf"))
              .over(Window.partitionBy(col("doc_id")).orderBy(col("p0"))) +
              col("pt.tf")).as("pos"),
            col("pt.w").as("w"), col("pt.tf").as("tf"))
        frac.fold(all)(f =>
          all.filter(col("pos").cast("double") >= lit(f) * col("s") - lit(eps)))
      }
    def tagged(old: DataFrame, frac: Option[Double]): DataFrame =
      rows(fresh, frac).withColumn("__new", lit(1))
        .unionByName(rows(old, frac).withColumn("__new", lit(0)))
    val pfx = Some(threshold)
    // (prefix side, probed side)
    val (l, r) = (index, containment) match {
      case (None, true) => (rows(fresh, pfx), rows(fresh, None))
      case (None, false) =>
        val std = rows(fresh, pfx)
        (if (weighted) std
         else rows(fresh, Some(2 * threshold / (1 + threshold))), std)
      case (Some(old), false) => (rows(fresh, pfx), rows(old, pfx))
      case (Some(old), true) => (tagged(old, pfx), tagged(old, None))
    }
    val (lc, rc) =
      if (l eq r) { val c = capBuckets(l, Seq("w"), maxBucketSize, label); (c, c) }
      else capBucketsPaired(l, r, Seq("w"), maxBucketSize, label)
    val role = col("sa") < col("sb") ||
      (col("sa") === col("sb") && col("na") < col("nb"))
    val need =
      if (containment) t * col("sa")
      else lit(threshold / (1 + threshold)) * (col("sa") + col("sb"))
    def leg(a: DataFrame, b: DataFrame, pair: Column): DataFrame = {
      def side(d: DataFrame, x: String) = d.select(Seq(col("w"),
          col("doc_id").as(s"n$x"), col("s").as(s"s$x"),
          col("pos").as(s"f$x")) ++
        (if (weighted && containment) Seq(col("tf").as(s"t$x")) else Nil): _*)
      val matched = side(a, "a").join(side(b, "b"), Seq("w")).filter(pair)
      val sized = if (containment) matched else matched.filter(
        col("sa").cast("double") >= t * col("sb") - lit(eps) &&
          col("sb").cast("double") >= t * col("sa") - lit(eps))
      val byPair = sized.groupBy(col("na"), col("nb"))
      val bounded =
        if (weighted && containment) {
          val low = lit(4294967295L)
          byPair.agg(sum(least(col("ta"), col("tb"))).as("ms"),
              min(shiftleft(col("fa"), 32) + (col("fa") - col("ta"))).as("m1"),
              min(shiftleft(col("fa"), 32) + (col("fb") - col("tb"))).as("m2"),
              first(col("sa")).as("sa"))
            .withColumn("bound", col("ms") +
              least(col("m1").bitwiseAND(low), col("m2").bitwiseAND(low)))
        } else byPair.agg(max(least(col("fa"), col("fb"))).as("bound"),
          first(col("sa")).as("sa"), first(col("sb")).as("sb"))
      bounded.filter(col("bound").cast("double") >= need - lit(eps))
        .select(col("na"), col("nb"))
    }
    val legs = index match {
      case None => leg(lc, rc, role)
      case Some(_) if containment =>
        val (pc, fc) = (persisted(lc), persisted(rc))
        leg(pc.filter(col("__new") === 1), fc, role).unionByName(
          leg(pc.filter(col("__new") === 0), fc.filter(col("__new") === 1),
            role))
      case Some(_) =>
        val pn = persisted(lc)
        leg(pn, rc, col("na") =!= col("nb")).unionByName(leg(pn, pn, role))
    }
    val pairs = legs.select(least(col("na"), col("nb")).as("doc_a"),
      greatest(col("na"), col("nb")).as("doc_b"))
    // a self-join's role order yields each pair once; batch legs overlap
    val cand = persisted(if (index.isEmpty) pairs else pairs.distinct())
    val all = index.fold(fresh)(fresh.unionByName(_).dropDuplicates("doc_id"))
    val m = tf match {
      case None => arrayOverlap(cand, all.select(col("doc_id"),
        sort_array(transform(col("ts"), x => x.getField("w"))).as("ws"),
        col("s")))
      case Some(tfs) => weightedMergeVerify(cand, tfs,
        all.select(col("doc_id"), col("s").as("sw")), label)
    }
    overlapScores(m, threshold, containment, weighted)
  }

  /** Shared merge-walk verify of the weighted families (r19): builds
    * one w-sorted token array + aligned tf array per document from the
    * (replay-deduped) `tf` relation, broadcasts them under the byte
    * guard, and resolves `m = Σ min(tf_a, tf_b)` per candidate pair
    * with ONE codegen'd sorted-merge ([[graft.functions
    * .WeightedMinOverlap]]) — the verify is candidate-ROW-bound, never
    * candidate × doc-length. The arrays are dropped before the weight
    * sums join on, so no shuffle carries array payloads. Returns
    * (doc_a, doc_b, m, sa, sb).
    *
    * The broadcast is priced from the DATA, not a flat per-doc
    * constant (ADVICE r19): the (ws, tfs) payload scales with distinct
    * grams per document, so one aggregate over the already-persisted
    * tf relation sums actual token bytes — Σ(len(w) + ~32 B
    * offsets/tf-slot) per entry plus ~96 B per-doc row/hash-entry
    * overhead. A corpus of long documents that a flat 4 KiB/doc
    * estimate would under-price 10×+ now correctly falls back to the
    * shuffle join before the driver OOMs or Spark's 8 GB broadcast
    * limit fails the job.
    */
  private def weightedMergeVerify(cand: DataFrame, tf: DataFrame,
                                  sums: DataFrame,
                                  label: String): DataFrame = {
    graft.functions.GraftFunctions.register(cand.sparkSession)
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docArrs = tf.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("w"), col("tf"))))
        .as("wt"))
      .select(col("doc_id"),
        expr("transform(wt, x -> x.w)").as("ws"),
        expr("transform(wt, x -> x.tf)").as("tfs"))
      .persist(sl)
    // the materializing pass doubles as the sizing pass: the agg that
    // would have been a bare count() also sums actual token bytes
    // (~32 B/slot covers the tf long + array offsets; ~96 B/doc covers
    // the id + row + hash-entry overhead) — zero extra jobs, no second
    // scan of the tf lineage. Token bytes via octet_length(concat_ws)
    // — OCTET, not char (ADVICE r20): length() counts CHARACTERS, which
    // under-prices multi-byte UTF-8 corpora (CJK, Cyrillic) up to 4x —
    // + 32*size, NOT a higher-order aggregate: HOFs evaluate interpreted
    // (per-element lambda dispatch), measured ~0.5 s over a 60k-doc
    // corpus where this codegen'd form is free
    val stats = docArrs.agg(count(lit(1)).as("n"),
      coalesce(sum(octet_length(concat_ws("", col("ws"))).cast("long") +
        lit(32L) * size(col("ws"))), lit(0L)).as("b")).head()
    val nDocs = stats.getLong(0)
    val estBytes = stats.getLong(1) + nDocs * 96L
    def docSide(aliasId: String, aw: String, atf: String) =
      ForcedBroadcast.orShuffleTotal(
        docArrs.select(col("doc_id").as(aliasId),
          col("ws").as(aw), col("tfs").as(atf)), nDocs, estBytes,
        s"$label verify arrays")
    cand
      .join(docSide("doc_a", "wsa", "tfa"), Seq("doc_a"))
      .join(docSide("doc_b", "wsb", "tfb"), Seq("doc_b"))
      .withColumn("m", call_function("graft_woverlap",
        col("wsa"), col("tfa"), col("wsb"), col("tfb")))
      .drop("wsa", "tfa", "wsb", "tfb")
      .join(sums.select(col("doc_id").as("doc_a"), col("sw").as("sa")),
        Seq("doc_a"))
      .join(sums.select(col("doc_id").as("doc_b"), col("sw").as("sb")),
        Seq("doc_b"))
  }

  /** Connected-component resolution over verified near-dup PAIRS — the
    * step that turns a pair report into a dedup operator: A~B and B~C put
    * all three in one cluster whose keeper is the minimum doc id.
    * Returns (node, label) where label is the cluster keeper.
    *
    * Algorithm: min-label propagation WITH pointer jumping. Every node
    * starts labeled with itself; each round a node takes the min of its
    * own label, its neighbors' labels, and its label's label (the jump —
    * classic pointer doubling), so convergence is O(log diameter) rounds
    * instead of O(diameter): a 1000-long near-dup chain resolves in ~10
    * rounds, not 1000. Deterministic: no randomness, min is
    * order-insensitive.
    *
    * Scale posture: state is one (node, label) row per document THAT
    * APPEARS IN A PAIR (candidate-sized, not corpus-sized); each round is
    * two equi-joins + one partial-agg shuffle on that relation.
    *
    * Lineage control: the input and every round's labels are cut with
    * `localCheckpoint` (eager). Without the cut, round N's logical plan
    * embeds the FULL upstream pipeline (LSH + verification) N times over —
    * Catalyst re-analyzes and re-canonicalizes those trees on every round,
    * which measured 10x slower than the actual 500-row joins at sf0.1.
    * Checkpointed blocks are reference-counted by the ContextCleaner and
    * freed when the returned plan is garbage-collected, so repeated calls
    * do not accumulate cached relations (unlike `persist`, there is no
    * cache-manager entry to leak). On a multi-executor cluster, flip to
    * reliable `checkpoint()` (HDFS-backed) if executor loss during the
    * short resolution phase must be survivable — the algorithm is
    * unchanged.
    */
  def resolveClusters(pairs: DataFrame, maxRounds: Int = 64): DataFrame = {
    // Storage levels split by ACCESS PATTERN (VERDICT r21 task 1): the
    // pair input is written once and read twice (building edges), so it
    // stays serialized — big-heap GC relief at zero re-read cost. The
    // edge set and every round's label relation are re-read on EVERY
    // iteration (edges once, labels three times per round), and a
    // serialized block pays a per-READ deserialization — measured as
    // the er_clusters/graph_components drift in the r21 driver sweep —
    // so the per-iteration readers store deserialized. Both relations
    // are candidate-sized (two longs per row), so the deserialized
    // footprint stays far under any GC-relevant threshold.
    val perRound = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val p = pairs.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().localCheckpoint(true, perRound)
    // round 1 fused into initialization (r22): with identity labels,
    // round 1's neighbor-min step reduces to least(node, min(neighbor))
    // and the pointer jump is a no-op (every label IS its own label), so
    // the first label relation can be built with ONE aggregate over the
    // edge set — same shuffle shape as the old node-distinct init, one
    // whole round (3 joins + agg + checkpoint + changed-count) saved for
    // every consumer. The loop below continues from round 2; the fixed
    // point of the monotone min propagation is unchanged.
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("__m"))
      .select(col("src").as("node"),
        least(col("src"), col("__m")).as("label"))
      .localCheckpoint(true, perRound)
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      rounds += 1
      require(rounds <= maxRounds,
        s"label propagation did not converge in $maxRounds rounds")
      val neighborMin = edges.join(labels, col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val stepped = labels.join(neighborMin, col("node") === col("src"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("l1"))
      // pointer jump: follow the candidate label to ITS current label and
      // take the min — label(v) stays inside v's component (it is always
      // some member's id), so the fixed point is still the component min
      val dict = labels.select(col("node").as("dn"), col("label").as("dl"))
      val next = stepped.join(dict, col("l1") === col("dn"), "left")
        .select(col("node"), col("old"),
          least(col("l1"), coalesce(col("dl"), col("l1"))).as("label"))
        .localCheckpoint(true, perRound)
      changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select(col("node"), col("label"))
    }
    labels
  }

  /** The deduplicated corpus after fuzzy matching: drop every non-keeper
    * member of each verified near-dup cluster — the fuzzy counterpart of
    * [[exactKeepFirst]]. Anti-join is dropped-set-sized, corpus scanned once.
    */
  def fuzzyKeepFirst(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val dropped = resolveClusters(pairs)
      .filter(col("node") =!= col("label")).select(col("node"))
    docs.join(dropped, docs(idCol) === dropped("node"), "left_anti")
  }

  /** [[fuzzyKeepFirst]] with a QUALITY-AWARE keeper policy: per resolved
    * cluster, keep the member with the highest `score` (ties break on
    * lowest id) instead of the lowest id. This is the policy real
    * curation pipelines run — when a page was crawled five slightly-
    * different times, keep the longest / highest-quality capture, not
    * the one that happened to get the smallest id. `score` is any
    * deterministic Column over the doc row (document length, a Gopher
    * quality signal, a classifier score), so the keeper rule composes
    * with every scorer in the library.
    *
    * Shuffle shape: scores are joined onto the RESOLVED membership
    * relation (candidate-sized, not corpus-sized), the per-cluster
    * argmax is one window over it, and the corpus pays a single
    * dropped-set anti-join — identical cost profile to keep-first plus
    * one candidate-sized join.
    */
  def fuzzyKeepBest(docs: DataFrame, pairs: DataFrame, idCol: String,
                    score: Column): DataFrame = {
    val members = resolveClusters(pairs)
    val scored = docs.select(col(idCol).as("node"), score.as("__score"))
      .join(members, Seq("node"))
    val rn = row_number().over(Window.partitionBy(col("label"))
      .orderBy(col("__score").desc, col("node")))
    val dropped = scored.withColumn("__rn", rn)
      .filter(col("__rn") =!= 1).select(col("node"))
    docs.join(dropped, docs(idCol) === dropped("node"), "left_anti")
  }

  /** The production near-dup dedup composition: exact-duplicate collapse
    * FIRST, then fuzzy keep-first over the collapsed corpus. A real crawl
    * corpus contains floods of IDENTICAL documents; uncollapsed, every
    * member of a flood lands in the same band bucket and the bucket
    * self-join goes quadratic in the flood size. Collapse makes each
    * flood contribute ONE bucket member (its keeper); `maxBucketSize`
    * remains available as the loud backstop for NEAR-identical floods
    * that survive exact collapse ([[capBuckets]]).
    *
    * Returns the deduplicated corpus: exact keepers minus fuzzy-cluster
    * non-keepers. The collapsed corpus is persisted because the fuzzy
    * phase scans it three times (sketch, verification semi-join, final
    * anti-join); on a real cluster at 100 TB, write it to storage between
    * the phases instead — the composition is unchanged.
    */
  def nearDupKeepFirst(docs: DataFrame, idCol: String, numHashes: Int,
                       bands: Int, threshold: Double,
                       textCol: String = "text", k: Int = 3,
                       maxBucketSize: Int = 0): DataFrame = {
    val collapsed = exactKeepFirst(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    collapsed.count() // serial materialization — see lshCandidatePairs
    fuzzyKeepFirst(collapsed,
      fuzzy(collapsed, idCol, numHashes, bands, threshold, textCol, k,
        maxBucketSize),
      idCol)
  }

  /** [[nearDupKeepFirst]] with the quality-aware keeper rule: the same
    * guarded production composition (exact collapse first, capped fuzzy
    * matching), resolving each near-dup cluster to its BEST member by
    * `score` ([[fuzzyKeepBest]]) instead of its lowest id. Note the
    * exact-collapse stage still keeps the lowest id of each IDENTICAL
    * flood — identical copies are interchangeable, so re-scoring them
    * would only reshuffle equal content.
    */
  def nearDupKeepBest(docs: DataFrame, idCol: String, numHashes: Int,
                      bands: Int, threshold: Double, score: Column,
                      textCol: String = "text", k: Int = 3,
                      maxBucketSize: Int = 0): DataFrame = {
    val collapsed = exactKeepFirst(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    collapsed.count() // serial materialization — see lshCandidatePairs
    fuzzyKeepBest(collapsed,
      fuzzy(collapsed, idCol, numHashes, bands, threshold, textCol, k,
        maxBucketSize),
      idCol, score)
  }

  /** 64-bit tf-weighted SimHash, returned as two 32-bit halves
    * (`simhash_hi`, `simhash_lo`) to stay inside signed-long arithmetic on
    * every engine. Bit i of md5(token) is extracted from its hex digits;
    * the per-bit score is sum(tf * (2*bit - 1)); a positive score sets the
    * bit.
    *
    * Shuffle shape: the 64 per-bit scores are 64 AGGREGATE COLUMNS over
    * the (doc, token, tf) relation — not an exploded (doc, token, bit)
    * relation, which would push 64x the rows through the shuffle. Two
    * doc-keyed shuffles total, each carrying sketch-sized rows.
    *
    * Bit extraction: the md5 hex is parsed ONCE per token into two 32-bit
    * longs (`hh` = hex digits 1-8, `hl` = digits 9-16); bit i is then a
    * single `shiftright + & 1` on the right half. The per-bit formulation
    * (`conv(substring(h, i/4+1, 1))` separately for each of the 64 bits)
    * evaluated 64 substring+conv expression trees per (doc, token) row and
    * made the sketch the most expensive stage of the whole suite. Digit
    * d (1-based) of a hex number occupies bits [4*(8-d), 4*(8-d)+3] of its
    * 32-bit value, so bit i of the digit-wise walk is exactly bit 31-i
    * (resp. 63-i) of `hh` (resp. `hl`) — identical bits, ~64x fewer parses.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"),
        explode(split(lower(col(textCol)), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .withColumn("h", md5(col("w")))
      .withColumn("hh", conv(substring(col("h"), 1, 8), 16, 10).cast("long"))
      .withColumn("hl", conv(substring(col("h"), 9, 8), 16, 10).cast("long"))
    def bitScore(i: Int) = {
      val bit =
        if (i < 32) shiftright(col("hh"), 31 - i).bitwiseAND(lit(1L))
        else shiftright(col("hl"), 63 - i).bitwiseAND(lit(1L))
      sum(col("tf") * (bit * 2 - 1)).as(s"s$i")
    }
    val scores = tok.groupBy("doc_id")
      .agg(bitScore(0), (1 until 64).map(bitScore): _*)
    def half(lo: Int, hi: Int, shiftBase: Int) =
      (lo until hi).map(i =>
        when(col(s"s$i") > 0, lit(1L << (shiftBase - i))).otherwise(lit(0L)))
        .reduce(_ + _)
    scores.select(col("doc_id"),
      half(0, 32, 31).as("simhash_hi"),
      half(32, 64, 63).as("simhash_lo"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming (<= 3 with
    * the default banding): the 64 bits are cut into four 16-bit blocks; by
    * pigeonhole, any pair within distance 3 matches at least one block
    * exactly, so candidates are found with an equi-join on (block, value)
    * and only candidates pay the popcount.
    */
  /** SimHash pigeonhole band relation (doc_id, simhash_hi, simhash_lo,
    * band, v): the 64 bits cut into four 16-bit blocks. This is the unit
    * an ingestion pipeline PERSISTS as the corpus index — self-joined by
    * [[simhashPairs]], joined batch-vs-index by
    * [[incrementalSimhashPairs]].
    */
  def simhashBandIndex(sketches: DataFrame): DataFrame =
    sketches.select(col("doc_id"), col("simhash_hi"), col("simhash_lo"),
      posexplode(array(
        shiftright(col("simhash_hi"), 16), col("simhash_hi").bitwiseAND(lit(65535L)),
        shiftright(col("simhash_lo"), 16), col("simhash_lo").bitwiseAND(lit(65535L))))
        .as(Seq("band", "v")))

  def simhashPairs(sketches: DataFrame, maxHamming: Int,
                   maxBucketSize: Int = 0): DataFrame = {
    // pigeonhole guarantee: 4 bands of 16 bits find every pair only up to
    // distance 3 (one band must match exactly) — larger thresholds would
    // silently lose recall, so reject them
    require(maxHamming <= 3,
      s"4x16-bit banding guarantees recall only for maxHamming <= 3 (got $maxHamming)")
    // persist: sketch-sized (4 rows/doc); read once by both join sides
    val banded0 = simhashBandIndex(sketches)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    banded0.count() // serial materialization — see lshCandidatePairs
    val banded = capBuckets(banded0, Seq("band", "v"), maxBucketSize,
      "simhashPairs")
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash_hi").as("ha"), col("a.simhash_lo").as("la"),
        col("b.simhash_hi").as("hb"), col("b.simhash_lo").as("lb"))
      .distinct()
    val dist = bit_count(col("ha").bitwiseXOR(col("hb"))) +
      bit_count(col("la").bitwiseXOR(col("lb")))
    cand.filter(dist <= maxHamming)
      .select(col("doc_a"), col("doc_b"), dist.cast("int").as("hamming"))
  }

  /** Incremental-ingestion SimHash pairs: Hamming near-dups for a NEW
    * batch of sketches against an already-ingested corpus index, plus
    * within the batch — the old corpus is never self-joined (same shape
    * as [[incrementalLshCandidates]], for the other sketch family). The
    * corpus side is the persisted [[simhashBandIndex]] in production;
    * here it is recomputed from `corpusSketches`. Equals
    * `simhashPairs(corpus union batch)` restricted to pairs touching the
    * batch, in canonical (min, max) id order.
    */
  def incrementalSimhashPairs(corpusSketches: DataFrame,
                              batchSketches: DataFrame,
                              maxHamming: Int,
                              maxBucketSize: Int = 0): DataFrame = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bOld = simhashBandIndex(corpusSketches).persist(sl)
    bOld.count() // serial materialization — see lshCandidatePairs
    val bNew = simhashBandIndex(batchSketches).persist(sl)
    bNew.count()
    // eager candidate-sized materialization + cache release — the
    // per-ingest path must not accumulate cached band relations
    val result = incrementalSimhashPairsIndexed(bOld, bNew, maxHamming,
      maxBucketSize).localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    bOld.unpersist()
    bNew.unpersist()
    result
  }

  /** [[incrementalSimhashPairs]] over PREBUILT band relations
    * ([[simhashBandIndex]] rows — what a stored index actually is, so the
    * streaming ingester joins the parquet index directly instead of
    * re-banding it). Lazy: the caller owns materialization and cache
    * lifecycle.
    */
  def incrementalSimhashPairsIndexed(bOld: DataFrame, bNew: DataFrame,
                                     maxHamming: Int,
                                     maxBucketSize: Int = 0): DataFrame = {
    require(maxHamming <= 3,
      s"4x16-bit banding guarantees recall only for maxHamming <= 3 (got $maxHamming)")
    val (pOld, pNew) = capBucketsPaired(bOld, bNew, Seq("band", "v"),
      maxBucketSize, "incrementalSimhashPairs")
    val onBand = col("a.band") === col("b.band") && col("a.v") === col("b.v")
    def pairCols = Seq(
      least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
      greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
      col("a.simhash_hi").as("ha"), col("a.simhash_lo").as("la"),
      col("b.simhash_hi").as("hb"), col("b.simhash_lo").as("lb"))
    val cross = pNew.as("a").join(pOld.as("b"),
      onBand && col("a.doc_id") =!= col("b.doc_id")).select(pairCols: _*)
    val intra = pNew.as("a").join(pNew.as("b"),
      onBand && col("a.doc_id") < col("b.doc_id")).select(pairCols: _*)
    val cand = cross.union(intra).distinct()
    val dist = bit_count(col("ha").bitwiseXOR(col("hb"))) +
      bit_count(col("la").bitwiseXOR(col("lb")))
    cand.filter(dist <= maxHamming)
      .select(col("doc_a"), col("doc_b"), dist.cast("int").as("hamming"))
  }
}
