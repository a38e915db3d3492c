package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * The dot product is [[graft.functions.FloatDotProduct]] — a native
  * codegen'd Catalyst expression (a tight primitive loop, no boxing); the
  * higher-order-function formulation (`aggregate(zip_with(...))`) is
  * interpreted per element and was ~40x slower on the pair joins. Vector
  * norms are precomputed ONCE per row before any pair join, so a pair
  * costs exactly one dot product.
  *
  * Scale posture (100 TB):
  *  - [[bruteForceTopK]] broadcasts the query set; the candidate corpus is
  *    scanned once map-side; the only shuffle carries (query, candidate,
  *    sim) survivors keyed by the small query set.
  *  - [[ivfTopKWith]] is the scale path: a coarse quantizer (a learned
  *    k-means codebook, or a deterministic corpus subset standing in for
  *    one) partitions the corpus into cells; queries probe `nprobe`
  *    cells, dropping per-query work from |corpus| to nprobe * |cell|.
  *  - [[blockedNearDupPairs]] compares pairs only within a coarse bucket —
  *    IVF-style near-dup, never an all-pairs join across the corpus.
  */
object Similarity {

  private def fdot(a: Column, b: Column): Column =
    call_function("graft_fdot", a, b)

  /** Double-precision cosine similarity between two `array<float>`
    * columns (self-contained; the pair operators below use precomputed
    * norms instead of evaluating three dots per pair).
    */
  def cosine(a: Column, b: Column): Column =
    fdot(a, b) / (sqrt(fdot(a, a)) * sqrt(fdot(b, b)))

  /** (vec_id, embedding, norm) projection — one dot per row, map-only. */
  private def withNorm(embeddings: DataFrame): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    embeddings.withColumn("nrm", sqrt(fdot(col("embedding"), col("embedding"))))
  }

  // ---- The search steps every face below is built from ----------------

  /** Cosine of vectors `a` and `b` from their precomputed norms. Kept in
    * division form (not `dot >= t*|a||b|`): bit-parity with the oracle's
    * cosine expression on borderline rows.
    */
  private def cosineOf(a: String, an: String, b: String, bn: String): Column =
    fdot(col(a), col(b)) / (col(an) * col(bn))

  /** Query row `qe` against candidate row `embedding`. */
  private def qsim: Column = cosineOf("qe", "qnrm", "embedding", "nrm")

  private def notSelf: Column = col("vec_id") =!= col("query_id")

  private def cosineOut: Column = round(col("sim"), 6).as("cosine")

  private def q8Out: Column = round(col("score"), 6).as("q8_score")

  /** Rank rows within each `part` by `order` and keep the first `k`. The
    * filter sits directly above the window, so Spark plans a
    * WindowGroupLimit below the shuffle: each map task ships at most k
    * rows per key.
    */
  private def rankCut(df: DataFrame, part: String, k: Int,
                      order: Column*): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(part).orderBy(order: _*)))
      .filter(col("rn") <= k)

  /** Per query, the `k` candidates with the highest `score` (ties on
    * vec_id), as (query_id, vec_id, out...).
    */
  private def topK(df: DataFrame, score: String, k: Int,
                   out: Column*): DataFrame =
    rankCut(df, "query_id", k, col(score).desc, col("vec_id"))
      .select(Seq(col("query_id"), col("vec_id")) ++ out: _*)

  /** The query side of a float search, (query_id, qe, qnrm, extra...),
    * from rows carrying `nrm`.
    */
  private def queryRows(normed: DataFrame, extra: Column*): DataFrame =
    normed.select(Seq(col("vec_id").as("query_id"), col("embedding").as("qe"),
      col("nrm").as("qnrm")) ++ extra: _*)

  /** The query's int8 sketch columns, as [[q8Score]] reads them. */
  private def q8Query: Seq[Column] =
    Seq(col("q8").as("qq8"), col("q_scale").as("qq_scale"))

  /** The approximate raw dot of int8 sketches: one exact integer dot
    * ([[graft.functions.Int8DotProduct]]) descaled by the two scales, 0
    * when either scale is 0.
    */
  private def q8Score: Column = {
    val denom = col("qq_scale") * col("q_scale")
    when(denom === 0.0, 0.0).otherwise(
      call_function("graft_i8dot", col("qq8"), col("q8")).cast("double") / denom)
  }

  /** The coarse codebook as broadcastable cells (centroid_id, ce, cnrm). */
  private def cells(codebook: DataFrame): DataFrame =
    withNorm(codebook).select(col("vec_id").as("centroid_id"),
      col("embedding").as("ce"), col("nrm").as("cnrm"))

  /** Each query's `nprobe` nearest coarse cells by cosine (ties on
    * centroid id): |Q| x nprobe rows, both sides broadcast. `q` is
    * [[queryRows]] output; the `keep` columns ride through, so callers
    * never join the probe back to their queries.
    */
  private def probe(q: DataFrame, codebook: DataFrame, nprobe: Int,
                    keep: String*): DataFrame =
    rankCut(broadcast(q).join(broadcast(cells(codebook)))
        .withColumn("psim", cosineOf("qe", "qnrm", "ce", "cnrm")),
      "query_id", nprobe, col("psim").desc, col("centroid_id"))
      .select((keep :+ "centroid_id").map(col): _*)

  /** One row per (row, subspace j < m): the `keep` columns, `sub` = j and
    * `as` = the j-th (dim/m)-slice of `vec`.
    */
  private def subvectors(df: DataFrame, keep: Seq[String], vec: String,
                         as: String, m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    val kept = keep.map(col)
    df.select(kept :+ explode(array(
        (0 until m).map(j => struct(lit(j).as("sub"),
          slice(col(vec), j * sub + 1, sub).as(as))): _*)).as("s"): _*)
      .select(kept :+ col("s.sub").as("sub") :+ col(s"s.$as").as(as): _*)
  }

  /** Squared L2 distance of subvector `xe` to sub-centroid `ce`, through
    * [[graft.functions.FloatDotProduct]]'s sequential double accumulation
    * (`x.x - 2 x.c + c.c`, so the oracle replays it bit-identically),
    * rounded to 6 decimals before any argmin.
    */
  private def d2: Column = round(
    fdot(col("xe"), col("xe")) - lit(2.0) * fdot(col("xe"), col("ce")) +
      fdot(col("ce"), col("ce")), 6)

  /** The exact scoring step shared by [[bruteForceTopK]],
    * [[partitionedTopK]] and [[filteredTopK]]: broadcast the query rows
    * `q`, score every normed candidate of `cand` matching `on` by cosine,
    * rank per query.
    */
  private def exactTopK(q: DataFrame, cand: DataFrame, on: Column,
                        k: Int): DataFrame =
    topK(broadcast(q).join(cand, on).withColumn("sim", qsim), "sim", k,
      cosineOut)

  /** Exact top-k by cosine for each query vector (queries = rows of
    * `embeddings` selected by `queryPred`), excluding self-matches.
    * Ties break deterministically on candidate id.
    */
  def bruteForceTopK(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val e = withNorm(embeddings)
    exactTopK(queryRows(e.filter(queryPred)), e, notSelf, k)
  }

  /** int8 scalar quantization of the embedding column: appends `q_scale`
    * (127 / max|x|) and `q8` (`array<tinyint>`, half-up rounded, clamped)
    * via the native codegen [[graft.functions.Q8Scale]]/[[graft.functions.Q8Quantize]]
    * expressions — one map-only pass. The quantized index is 4x smaller
    * than float32 (the difference between an ANN index that fits executor
    * memory at corpus scale and one that spills), and scoring it is
    * integer arithmetic. All quantization math is exact IEEE / integer,
    * so sketches are bit-identical across engines and runs.
    */
  def quantize(embeddings: DataFrame, vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    embeddings
      .withColumn("q_scale", call_function("graft_q8_scale", col(vecCol)))
      .withColumn("q8", call_function("graft_q8", col(vecCol), col("q_scale")))
  }

  /** Sign-bit BINARY quantization — the 32x rung below [[quantize]]'s
    * int8: each dimension contributes one bit (positive -> 1), packed
    * 32 per bigint word as columns `b1..bN` by unrolled
    * constant-shift ORs (pure codegen, no HOF). 64-dim float32 vectors
    * (256 B) become 8 logical bytes; Hamming distance over the words
    * (`bit_count(xor)`) approximates angular distance well enough to
    * CANDIDATE-GENERATE, never to rank finally — callers rerank the
    * short list with exact float cosine ([[bruteForceTopKBinary]]).
    */
  def quantizeBinary(embeddings: DataFrame, dim: Int = 64,
                     vecCol: String = "embedding"): DataFrame = {
    require(dim > 0 && dim % 32 == 0,
      s"dim must be a positive multiple of 32, got $dim")
    (0 until dim / 32).foldLeft(embeddings) { (df, w) =>
      df.withColumn(s"b${w + 1}",
        (0 until 32).map { j =>
          when(element_at(col(vecCol), w * 32 + j + 1) > lit(0.0f),
            lit(1L << j)).otherwise(lit(0L))
        }.reduce(_.bitwiseOR(_)))
    }
  }

  /** Binary-candidate top-k: Hamming over the packed sign bits selects
    * `rerank` candidates per query (16 bytes/vector scanned — the
    * stage that touches EVERY vector), exact float cosine then ranks
    * only that short list (floats fetched by an id join, rerank-sized —
    * float embeddings never ride the full scoring scan). Ties break on
    * vec_id at both stages, so the result is engine-deterministic.
    */
  def bruteForceTopKBinary(embeddings: DataFrame, queryPred: Column,
                           k: Int, rerank: Int = 40,
                           dim: Int = 64): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val words = dim / 32
    val bq = quantizeBinary(embeddings.select(col("vec_id"),
      col("embedding")), dim)
      .select(col("vec_id") +: (1 to words).map(i => col(s"b$i")): _*)
    val q = bq.filter(queryPred)
      .select(col("vec_id").as("query_id") +:
        (1 to words).map(i => col(s"b$i").as(s"qb$i")): _*)
    val ham = (1 to words)
      .map(i => bit_count(col(s"qb$i").bitwiseXOR(col(s"b$i"))))
      .reduce(_ + _)
    val cand = rankCut(broadcast(q).join(bq, notSelf)
        .withColumn("hamming", ham.cast("int")),
      "query_id", rerank, col("hamming"), col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("hamming"))
    // rerank-sized float fetches: one per candidate, one per query
    val e = withNorm(embeddings)
    topK(cand.join(e, "vec_id").join(broadcast(queryRows(e)), "query_id")
      .withColumn("sim", qsim), "sim", k, col("hamming"), cosineOut)
  }

  /** Brute-force top-k over the QUANTIZED index: per pair one integer dot
    * ([[graft.functions.Int8DotProduct]], long accumulate — exact and
    * order-independent), descaled by the two scales into an approximate
    * raw dot product (== cosine on unit-norm embeddings). Because every
    * score is (exact integer) / (bit-identical IEEE product), ranking
    * needs no rounding guard — both engines order identical doubles.
    * Same broadcast-queries / WindowGroupLimit plan as [[bruteForceTopK]];
    * the recall cost of int8 is measured in `CorpusPrepSpec` (quantized
    * vs exact top-k overlap on the fixture).
    */
  def bruteForceTopKQ8(embeddings: DataFrame, queryPred: Column,
                       k: Int): DataFrame =
    bruteForceTopKQ8Indexed(
      quantize(embeddings).select(col("vec_id"), col("q8"), col("q_scale")),
      queryPred, k)

  /** [[bruteForceTopKQ8]] over a PREBUILT quantized index (vec_id, q8,
    * q_scale) — the build-once/serve-many shape. The inline variant pays
    * the quantization pass inside the serving query (fine for one-shot
    * jobs, measured ~+17% at 100 k vectors on the scale probe); a stored
    * index pays it once at build and every serve reads a quarter of the
    * bytes.
    */
  def bruteForceTopKQ8Indexed(e: DataFrame, queryPred: Column,
                              k: Int): DataFrame = {
    GraftFunctions.register(e.sparkSession)
    val q = e.filter(queryPred).select(col("vec_id").as("query_id") +: q8Query: _*)
    topK(broadcast(q).join(e, notSelf).withColumn("score", q8Score), "score", k,
      q8Out)
  }

  /** The quantized ANN index: IVF cell assignment + int8 sketch, keeping
    * ONLY (vec_id, centroid_id, q8, q_scale) — the float embeddings are
    * dropped, so the stored index is ~4x smaller than [[ivfTopKIndexed]]'s
    * and a probed cell reads a quarter of the bytes.
    */
  def quantizedIvfIndex(embeddings: DataFrame, codebook: DataFrame): DataFrame =
    quantize(ivfAssign(embeddings, codebook))
      .select(col("vec_id"), col("centroid_id"), col("q8"), col("q_scale"))

  /** IVF search over the QUANTIZED index: probe selection still scores
    * float query x float centroid (the codebook is driver-sized — it
    * stays float), but the per-candidate scoring inside probed cells is
    * the exact integer dot over int8 sketches. Only the corpus side is
    * quantized — exactly where the bytes are at 100 TB.
    */
  def ivfTopKIndexedQ8(assignedQ8: DataFrame, codebook: DataFrame,
                       queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val q = queryRows(withNorm(quantize(queries)), q8Query: _*)
    val probed = probe(q, codebook, nprobe, "query_id", "qq8", "qq_scale")
    topK(probed.join(assignedQ8, Seq("centroid_id")).filter(notSelf)
      .withColumn("score", q8Score), "score", k, q8Out)
  }

  /** One-call quantized IVF (codebook = the deterministic corpus subset
    * `vec_id % centroidMod == 0`, a stand-in for a learned k-means
    * codebook): build the quantized index, serve the queries.
    */
  def ivfTopKQ8(embeddings: DataFrame, queryPred: Column, centroidMod: Int,
                nprobe: Int, k: Int): DataFrame = {
    val cb = embeddings.filter(col("vec_id") % centroidMod === 0)
    ivfTopKIndexedQ8(quantizedIvfIndex(embeddings, cb), cb,
      embeddings.filter(queryPred), nprobe, k)
  }

  /** Assign every vector to its nearest centroid (deterministic ties on
    * centroid id). Centroids are broadcast; assignment is a map-side
    * cross-score + per-vector argmax — the corpus is scanned once.
    */
  def ivfAssign(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val scored = withNorm(embeddings).join(broadcast(cells(centroids)))
      .withColumn("csim", cosineOf("embedding", "nrm", "ce", "cnrm"))
    // carry every original column (schema-agnostic) + norm + assignment
    rankCut(scored, "vec_id", 1, col("csim").desc, col("centroid_id"))
      .select(embeddings.columns.toIndexedSeq.map(col) :+
        col("nrm") :+ col("centroid_id"): _*)
  }

  /** IVF search against an EXPLICIT codebook `(vec_id, embedding)`: each
    * query probes the `nprobe` nearest cells and ranks only the vectors
    * inside them. The codebook is [[kmeansTrain]]'s learned quantizer or
    * a deterministic stand-in (e.g. the `vec_id % 50 == 0` corpus
    * subset); embedding may be array<float> or array<double>, the
    * dot-product expression accepts either. Approximate by design —
    * recall vs [[bruteForceTopK]] is asserted in the unit tests.
    */
  def ivfTopKWith(embeddings: DataFrame, codebook: DataFrame, queryPred: Column,
                  nprobe: Int, k: Int): DataFrame =
    ivfTopKIndexed(ivfAssign(embeddings, codebook), codebook,
      embeddings.filter(queryPred), nprobe, k)

  /** IVF search against a PREBUILT assignment index — the build-once /
    * query-many production surface. `assigned` is [[ivfAssign]]'s output
    * (original columns + `nrm` + `centroid_id`), which IS the stored ANN
    * index: write it to partitioned storage (bucketed by `centroid_id`
    * so a probe touches only its cells' files), read it back, and serve
    * queries without ever rescoring the corpus against the codebook.
    * `queries` is any (vec_id, embedding) relation.
    */
  def ivfTopKIndexed(assigned: DataFrame, codebook: DataFrame,
                     queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    val probed = probe(queryRows(withNorm(queries)), codebook, nprobe,
      "query_id", "qe", "qnrm")
    // the probe relation is |Q| x nprobe rows — broadcast by
    // construction, so the cell-restricted candidate join never
    // shuffles the stored index
    topK(broadcast(probed).join(assigned, Seq("centroid_id")).filter(notSelf)
      .withColumn("sim", qsim), "sim", k, cosineOut)
  }

  /** Deterministic sign-random-projection (SRP) LSH bucket for cosine
    * similarity: bit p of the bucket is the sign of the dot product with
    * pseudo-random hyperplane p, whose components are md5-derived
    * (`hexdigit(md5("p:i")) - 7.5`) — reproducible across engines, no
    * rand(). Vectors with high cosine land in the same bucket with high
    * probability, so near-dup search joins within buckets only — the
    * data-independent alternative to [[ivfTopKWith]]'s learned cells.
    *
    * The hyperplanes are materialized ONCE on the driver and embedded as
    * float-array literals; each row pays `planes` codegen'd dot products.
    */
  def srpBuckets(embeddings: DataFrame, planes: Int, dim: Int): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    embeddings.select(col("vec_id"), srpBucketCol(planes, dim).as("bucket"))
  }

  /** The SRP bucket as a bare COLUMN over `embedding` — so callers that
    * want the bucket next to other per-row columns attach it with one
    * projection instead of joining [[srpBuckets]] back against the same
    * table (r22: srpIndex's vec_id self-join was a full exchange + a
    * second scan for a map-only derivation).
    */
  private def srpBucketCol(planes: Int, dim: Int): Column = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def w(p: Int, i: Int): Float = {
      val hex = md.digest(s"$p:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (Character.digit(hex.charAt(0), 16) - 7.5).toFloat
    }
    (0 until planes).map { p =>
      val plane = typedLit((1 to dim).map(i => w(p, i)))
      when(fdot(col("embedding"), plane) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  /** SRP-bucketed near-duplicate pairs: candidates share an SRP bucket;
    * only candidates pay the exact cosine. `maxBucketSize` > 0 enables
    * the hot-bucket backstop (see [[blockedNearDupPairs]]).
    */
  def srpNearDupPairs(embeddings: DataFrame, planes: Int, dim: Int,
                      threshold: Double, maxBucketSize: Int = 0): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val bucketed = embeddings
      .withColumn("bucket", srpBucketCol(planes, dim))
    blockedNearDupPairs(bucketed, "bucket", threshold, maxBucketSize)
  }

  /** SRP near-dup index relation (vec_id, embedding, nrm, bucket) — what
    * an ingestion pipeline persists alongside the corpus so each new
    * batch pays only batch-vs-index work ([[incrementalSrpNearDup]]).
    */
  def srpIndex(embeddings: DataFrame, planes: Int, dim: Int): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    // one map-only projection: nrm and bucket are both per-row
    // derivations of `embedding` — the old vec_id self-join paid a full
    // exchange and a second table scan to attach them (r22)
    withNorm(embeddings).withColumn("bucket", srpBucketCol(planes, dim))
  }

  /** Incremental-ingestion embedding near-dup: cosine near-duplicates for
    * a NEW batch of vectors against an already-ingested corpus, plus
    * within the batch — the corpus is never self-joined (the SRP
    * counterpart of [[graft.ops.Dedup.incrementalLshCandidates]]). The
    * corpus side is the persisted [[srpIndex]] in production; here it is
    * recomputed from `corpus`. SRP buckets are deterministic per row
    * (md5-derived hyperplanes), so batch bucketing needs no knowledge of
    * the corpus. Equals `srpNearDupPairs(corpus union batch)` restricted
    * to pairs touching the batch, in canonical (min, max) id order.
    */
  def incrementalSrpNearDup(corpus: DataFrame, batch: DataFrame,
                            planes: Int, dim: Int,
                            threshold: Double,
                            maxBucketSize: Int = 0): DataFrame =
    incrementalPairs(corpus, batch, srpIndex(_, planes, dim), threshold,
      maxBucketSize)

  /** The incremental faces' skeleton: index the corpus, then the batch
    * (each persisted and counted in turn — serial materialization, see
    * Dedup.lshCandidatePairs), pair them through
    * [[incrementalSrpNearDupIndexed]] into an eager local checkpoint, and
    * release both persists in `finally`, so a failure in either index or
    * in the pairing leaves nothing cached behind it.
    */
  private def incrementalPairs(corpus: DataFrame, batch: DataFrame,
                               index: DataFrame => DataFrame,
                               threshold: Double,
                               maxBucketSize: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    var held = List.empty[DataFrame]
    def pinned(d: DataFrame): DataFrame = {
      val p = d.persist(StorageLevel.MEMORY_AND_DISK)
      held ::= p
      p.count()
      p
    }
    try {
      val iOld = pinned(index(corpus))
      incrementalSrpNearDupIndexed(iOld, pinned(index(batch)), threshold,
        maxBucketSize).localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    } finally held.foreach(_.unpersist())
  }

  /** [[incrementalSrpNearDup]] over PREBUILT index relations
    * ([[srpIndex]] rows — what a stored index actually is; the index rows
    * carry embedding + norm, so the join verifies cosine inline). Lazy:
    * the caller owns materialization and cache lifecycle.
    */
  def incrementalSrpNearDupIndexed(bOld: DataFrame, bNew: DataFrame,
                                   threshold: Double,
                                   maxBucketSize: Int = 0): DataFrame = {
    GraftFunctions.register(bNew.sparkSession)
    val (pOld, pNew) = Dedup.capBucketsPaired(bOld, bNew, Seq("bucket"),
      maxBucketSize, "incrementalSrpNearDup")
    def side(tag: String, d: DataFrame) = d.select(col("bucket"),
      col("vec_id").as(s"v$tag"), col("embedding").as(s"e$tag"),
      col("nrm").as(s"n$tag"))
    val cross = side("a", pNew).join(side("b", pOld), Seq("bucket"))
      .filter(col("va") =!= col("vb"))
    val intra = side("a", pNew).join(side("b", pNew), Seq("bucket"))
      .filter(col("va") < col("vb"))
    cross.union(intra)
      .withColumn("sim", cosineOf("ea", "na", "eb", "nb"))
      .filter(col("sim") >= threshold)
      .select(least(col("va"), col("vb")).as("vec_a"),
        greatest(col("va"), col("vb")).as("vec_b"), cosineOut)
  }

  /** Per-bucket centroid (element-wise mean embedding) via the custom
    * [[graft.functions.VectorAvgAggregate]] — the training step of an IVF
    * coarse quantizer / k-means iteration. One primitive buffer per
    * (partition, bucket) crosses the shuffle, not dim rows per vector.
    */
  def centroids(embeddings: DataFrame, bucketCol: String): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    embeddings.groupBy(col(bucketCol))
      .agg(call_function("graft_vec_avg", col("embedding")).as("centroid"))
  }

  /** One Lloyd (k-means) iteration: assign every vector to its nearest
    * centroid, then recompute each cell's centroid as the element-wise
    * mean via [[graft.functions.VectorAvgAggregate]]. Composing
    * [[ivfAssign]] + [[centroids]] IS the IVF training loop — run it to a
    * fixed point (or budget) to replace the deterministic seed codebook
    * with a learned one. One broadcast + two sketch-sized shuffles per
    * iteration.
    */
  def kmeansIterate(embeddings: DataFrame, centroids0: DataFrame): DataFrame = {
    val assigned = ivfAssign(embeddings, centroids0)
    Similarity.centroids(assigned, "centroid_id")
  }

  /** Lloyd's-algorithm training driver: iterate [[kmeansIterate]] from the
    * `seed` codebook until the codebook reaches a fixed point or
    * `maxIters` — the missing loop between the single step and an actual
    * ANN index build. Returns the learned codebook `(vec_id, embedding)`
    * ready for [[ivfTopKWith]].
    *
    * Determinism across engines: centroid components are rounded to 6
    * decimal places after EVERY iteration. Unrounded means differ between
    * engines in the last float bits (summation order), and iteration 2's
    * assignments would amplify that into divergent trajectories; on the
    * 1e-6 grid both engines see bit-identical codebooks, and the fixed
    * point becomes exact equality. Cells that lose all members drop out
    * (standard Lloyd on dead centroids).
    *
    * Scale posture: per iteration one broadcast-assign scan of the corpus
    * + one sketch-sized centroid aggregate; the codebook (k x dim doubles)
    * is collected to the driver — driver-sized BY DEFINITION (a coarse
    * quantizer that doesn't fit on the driver can't be broadcast for
    * assignment either). Collecting it also truncates lineage, so the
    * loop's plan depth stays constant.
    */
  def kmeansTrain(embeddings: DataFrame, seed: DataFrame, maxIters: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    var cb = seed
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      it += 1
      val next = Similarity
        .centroids(ivfAssign(embeddings, cb.toDF("vec_id", "embedding")), "centroid_id")
        .select(col("centroid_id").cast("long"),
          transform(col("centroid"), v => round(v, 6)).as("embedding"))
        .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
      converged = next == cb
      cb = next
    }
    cb.toDF("vec_id", "embedding")
  }

  /** SemDeDup-style semantic near-duplicate pairs: cluster the corpus
    * with a LEARNED k-means codebook ([[kmeansTrain]] from `seed`,
    * `maxIters` Lloyd steps), then compare pairs only WITHIN a cluster
    * cell — the embedding-space analogue of banded-LSH candidate
    * generation, with the quantizer cells as the blocking key. Captures
    * paraphrase/translation-level duplicates that token-overlap families
    * (MinHash/SimHash) structurally miss.
    *
    * Scale posture (100 TB): training touches the corpus `maxIters`
    * times (broadcast-assign scans); the pair join is cell-bounded —
    * k cells of |corpus|/k average membership, never an all-pairs join —
    * with [[graft.ops.Dedup.capBuckets]] available as the loud backstop
    * for a collapsed cell (`maxBucketSize`). Pairs emit in canonical
    * (min, max) id order with their exact cosine.
    */
  def semanticDedupPairs(embeddings: DataFrame, seed: DataFrame,
                         maxIters: Int, threshold: Double,
                         maxBucketSize: Int = 0): DataFrame =
    semanticDedupPairsWith(embeddings,
      kmeansTrain(embeddings, seed, maxIters), threshold, maxBucketSize)

  /** [[semanticDedupPairs]] against an EXPLICIT (already-trained) codebook
    * — the frozen-quantizer face that the incremental/streaming paths
    * share with the batch one: train once ([[kmeansTrain]]), then every
    * consumer blocks on the same cells.
    */
  def semanticDedupPairsWith(embeddings: DataFrame, codebook: DataFrame,
                             threshold: Double,
                             maxBucketSize: Int = 0): DataFrame =
    blockedNearDupPairs(ivfAssign(embeddings, codebook), "centroid_id",
      threshold, maxBucketSize)

  /** Semantic near-dup index relation (vec_id, embedding, nrm, bucket =
    * k-means cell under a FROZEN codebook) — what an ingestion pipeline
    * persists alongside the corpus so each new batch pays only
    * batch-vs-index work ([[incrementalSemanticPairs]]). The learned-cell
    * counterpart of [[srpIndex]]: same row shape, data-dependent
    * bucketer. The codebook must be the stored one the index was built
    * with — re-training on corpus+batch would silently re-cell the
    * already-indexed corpus (periodic re-trains rebuild the index, the
    * standard IVF maintenance trade).
    */
  def semanticIndex(embeddings: DataFrame, codebook: DataFrame): DataFrame =
    ivfAssign(embeddings, codebook)
      .withColumnRenamed("centroid_id", "bucket")

  /** Incremental-ingestion SemDeDup: semantic near-dup pairs for a NEW
    * batch of vectors against an already-ingested corpus, plus within the
    * batch — the corpus is never self-joined (the learned-cell
    * counterpart of [[incrementalSrpNearDup]]). `codebook` is the frozen
    * quantizer the corpus index was built with (train on the corpus via
    * [[kmeansTrain]]; assignment is deterministic per row given the
    * codebook, so batch cells need no knowledge of corpus membership).
    * The corpus side is the persisted [[semanticIndex]] in production;
    * here it is recomputed from `corpus`. Equals
    * `semanticDedupPairsWith(corpus union batch, codebook)` restricted to
    * pairs touching the batch, in canonical (min, max) id order.
    */
  def incrementalSemanticPairs(corpus: DataFrame, batch: DataFrame,
                               codebook: DataFrame, threshold: Double,
                               maxBucketSize: Int = 0): DataFrame =
    incrementalPairs(corpus, batch, semanticIndex(_, codebook), threshold,
      maxBucketSize)

  /** The semantically deduplicated corpus: resolve
    * [[semanticDedupPairs]] into clusters (min-id keeper, the shared
    * [[graft.ops.Dedup.resolveClusters]] pointer-jumping resolution) and
    * drop every non-keeper — SemDeDup's keep-one-per-cluster policy.
    * Anti-join is dropped-set-sized; the corpus is scanned once.
    */
  def semanticKeepFirst(embeddings: DataFrame, idCol: String,
                        seed: DataFrame, maxIters: Int, threshold: Double,
                        maxBucketSize: Int = 0): DataFrame = {
    val pairs = semanticDedupPairs(embeddings, seed, maxIters, threshold,
        maxBucketSize)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    Dedup.fuzzyKeepFirst(embeddings, pairs, idCol)
  }

  // ---- Product quantization (IVF-PQ's storage half) -------------------

  /** PQ codebook from deterministic seeds: subspace `j` of `m` gets the
    * seed vectors' (`vec_id % centroidMod == 0`) j-th subvectors as its
    * centroids — the PQ counterpart of the deterministic stand-in
    * coarse codebook (swap in per-subspace [[kmeansTrain]] output for a
    * learned one; the relation shape `(sub, code, ce)` is the contract).
    * Size: m x (n/centroidMod) x (dim/m) floats — driver/broadcast-sized
    * by construction, like every quantizer in this file.
    */
  def pqCodebook(embeddings: DataFrame, m: Int, dim: Int,
                 centroidMod: Int): DataFrame =
    pqSeedSlices(embeddings.filter(col("vec_id") % centroidMod === 0), m, dim)

  /** A PQ codebook `(sub, code, ce)` from seed vectors: subspace `j`'s
    * codes are the seeds' ids, its centroids their j-th subvectors.
    */
  private def pqSeedSlices(seeds: DataFrame, m: Int, dim: Int): DataFrame = {
    val sub = dim / m
    (0 until m).map { j =>
      seeds.select(lit(j).as("sub"), col("vec_id").as("code"),
        slice(col("embedding"), j * sub + 1, sub).as("ce"))
    }.reduce(_ unionByName _)
  }

  /** Deterministic FIXED-SIZE PQ seed: exactly `k` codes per subspace
    * (the production codebook shape — classically k=256), sliced from
    * the `k` vectors ranked first by `md5(vec_id)` (house seed-derivation
    * convention: pseudo-random spread, engine-replayable, no RNG). Unlike
    * the `vec_id % centroidMod` policy the codebook CAPACITY no longer
    * grows with the corpus: every Lloyd assign pass is O(n·m·k) with k a
    * constant, and the trained book is a fixed broadcast-sized artifact
    * at any corpus scale — the shape a 100 TB deployment trains once and
    * serves everywhere. Seed selection is a TakeOrderedAndProject
    * (top-k, no global sort materialization).
    */
  def pqCodebookFixed(embeddings: DataFrame, m: Int, dim: Int,
                      k: Int): DataFrame =
    pqSeedSlices(embeddings
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k), m, dim)

  /** LEARNED per-subspace PQ codebooks: `maxIters` Lloyd steps run in
    * every subspace SIMULTANEOUSLY over the one (vec_id, sub, xe) slice
    * relation — assignment is argmin squared-L2 within the subspace
    * (6-rounded distance, ties on the lower code), the update is the
    * element-wise mean on the 1e-6 grid ([[kmeansTrain]]'s determinism
    * contract, so the DuckDB oracle replays the exact trajectory).
    * Seeded from the deterministic [[pqCodebook]]; returns the same
    * `(sub, code, ce)` relation shape, drop-in for [[pqCodes]] /
    * [[ivfPqIndex]] / the ADC servers. Cells that lose all members drop
    * out (standard Lloyd).
    *
    * Scale posture: per iteration one broadcast-assign pass over the
    * slice relation + one codebook-sized mean aggregate; the codebook
    * (m x k_sub x dim/m doubles) is collected to the driver — driver-
    * sized by definition (it must broadcast for assignment anyway),
    * which also truncates the loop's lineage like [[kmeansTrain]].
    */
  def pqCodebookLearned(embeddings: DataFrame, m: Int, dim: Int,
                        centroidMod: Int, maxIters: Int): DataFrame =
    pqCodebookLearnedFrom(embeddings,
      pqCodebook(embeddings, m, dim, centroidMod), m, dim, maxIters)

  /** [[pqCodebookLearned]] with the SEED CODEBOOK supplied by the caller
    * — the face that decouples training from the fixture's seed policy.
    * Production trains a FIXED-size sub-codebook (classically 256 codes
    * per subspace) over an arbitrarily large corpus; with the internal
    * `centroidMod` seeding the codebook GROWS with the corpus and each
    * Lloyd assign pass goes O(n^2 m / centroidMod) — the same quadratic
    * the `ivfpq_*_fixedcb` probes pinned for ENCODE. With a fixed seed
    * relation each iteration is one broadcast assign over the (n x m)
    * slice relation + a codebook-sized mean: linear in the corpus
    * (historical r12 rows under "Learned-PQ TRAINING cost" in
    * BASELINE.md).
    */
  def pqCodebookLearnedFrom(embeddings: DataFrame, seedCb: DataFrame,
                            m: Int, dim: Int, maxIters: Int): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val spark = embeddings.sparkSession
    import spark.implicits._
    // persisted once: every Lloyd iteration re-reads the slice relation,
    // and without the persist each pass re-derives it through the full
    // corpus lineage (maxIters corpus scans instead of one — the
    // pq_train_* probes billed that directly to the per-iteration
    // marginal)
    val xs = subvectors(embeddings, Seq("vec_id"), "embedding", "xe", m, dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cb = seedCb
      .select(col("sub").cast("int"), col("code").cast("long"),
        col("ce").cast("array<double>"))
      .as[(Int, Long, Seq[Double])].collect().toSeq.sortBy(t => (t._1, t._2))
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      it += 1
      val next = xs.join(broadcast(cb.toDF("sub", "code", "ce")), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("xe"), col("code"),
          d2.as("d2"))
        .groupBy(col("vec_id"), col("sub"))
        // xe is functionally dependent on the group key, so first() is
        // value-deterministic here
        .agg(min(struct(col("d2"), col("code"))).as("best"),
          first(col("xe")).as("xe"))
        .select(col("sub"), col("best.code").as("code"), col("xe"))
        .groupBy(col("sub"), col("code"))
        .agg(call_function("graft_vec_avg", col("xe")).as("ce0"))
        .select(col("sub"), col("code"),
          transform(col("ce0"), v => round(v, 6)).as("ce"))
        .as[(Int, Long, Seq[Double])].collect().toSeq
        .sortBy(t => (t._1, t._2))
      converged = next == cb
      cb = next
    }
    xs.unpersist()
    cb.toDF("sub", "code", "ce")
  }

  /** PQ encoding: each vector becomes `m` sub-codes, code `j` = the
    * codebook-`j` centroid minimizing squared L2 distance to the j-th
    * subvector (ties on the lower code id). The stored PQ index is
    * (vec_id, sub, code) — m SMALL INTS per vector instead of `dim`
    * floats, the 100 TB ANN memory story (int8 is 4x smaller than
    * float32; PQ at m=4/dim=64 is ~60x).
    *
    * Distance decomposes through [[graft.functions.FloatDotProduct]]'s
    * sequential double accumulation (`x.x - 2 x.c + c.c`) so the DuckDB
    * oracle replays it bit-identically; the 6-decimal round before the
    * argmin absorbs any residual drift (house convention). The argmin is
    * a partial-aggregated `min(struct(d2, code))` — candidates combine
    * map-side; no per-(vector, sub) window shuffle.
    */
  def pqCodes(embeddings: DataFrame, codebook: DataFrame, m: Int,
              dim: Int): DataFrame =
    pqEncode(embeddings, Nil, codebook, m, dim)

  /** The shared PQ encoder: emit (vec_id, carry..., sub, code) for the
    * argmin-L2 sub-centroid of every subvector. `carry` columns (e.g. the
    * IVF cell id, already functionally dependent on vec_id) ride through
    * the groupBy so the composed IVF-PQ index never needs a corpus-sized
    * self-join to reunite cell and codes.
    */
  private def pqEncode(df: DataFrame, carry: Seq[String],
                       codebook: DataFrame, m: Int, dim: Int): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val keep = col("vec_id") +: carry.map(col)
    subvectors(df, "vec_id" +: carry, "embedding", "xe", m, dim)
      .join(broadcast(codebook), Seq("sub"))
      .select(keep :+ col("sub") :+ col("code") :+ d2.as("d2"): _*)
      .groupBy(keep :+ col("sub"): _*)
      .agg(min(struct(col("d2"), col("code"))).as("best"))
      .select(keep :+ col("sub") :+ col("best.code").as("code"): _*)
  }

  /** Asymmetric-distance (ADC) top-k over a PREBUILT PQ index: the query
    * stays float, and its dot with a stored vector is approximated by
    * the sum over subspaces of query-subvector x assigned-centroid dots.
    * The scoring join touches only the m-rows-per-vector code relation
    * and a lookup table of |Q| x m x k_sub PARTIAL dots (each computed
    * once per query, never per candidate — the classical PQ LUT,
    * broadcast-sized), and the per-candidate sum partial-aggregates
    * map-side. Self-matches excluded, rank ties on vec_id.
    */
  def pqAdcTopKIndexed(codes: DataFrame, codebook: DataFrame,
                       queries: DataFrame, m: Int, dim: Int,
                       k: Int): DataFrame = {
    GraftFunctions.register(codes.sparkSession)
    val qs = subvectors(queries.withColumnRenamed("vec_id", "query_id"),
      Seq("query_id"), "embedding", "qe", m, dim)
    val lut = qs.join(codebook, Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        round(fdot(col("qe"), col("ce")), 6).as("pdot"))
    topK(codes.join(broadcast(lut), Seq("sub", "code")).filter(notSelf)
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(sum(col("pdot")), 6).as("adc_score")),
      "adc_score", k, col("adc_score"))
  }

  /** [[pqAdcTopKIndexed]] with the index built inline from the
    * deterministic [[pqCodebook]] — the one-shot face (production builds
    * [[pqCodes]] once and serves many).
    */
  def pqAdcTopK(embeddings: DataFrame, queryPred: Column, m: Int, dim: Int,
                centroidMod: Int, k: Int): DataFrame = {
    val cb = pqCodebook(embeddings, m, dim, centroidMod)
    pqAdcTopKIndexed(pqCodes(embeddings, cb, m, dim), cb,
      embeddings.filter(queryPred), m, dim, k)
  }

  /** The composed IVF-PQ index — the classical trillion-scale ANN memory
    * layout: (vec_id, centroid_id, sub, code), m small ints + a cell id
    * per vector, NO floats at all. Cell assignment and PQ encoding share
    * one corpus scan (the cell id rides through the encoder's groupBy).
    * Store bucketed by `centroid_id` so a probe touches only its cells'
    * files.
    */
  def ivfPqIndex(embeddings: DataFrame, ivfCodebook: DataFrame,
                 pqCb: DataFrame, m: Int, dim: Int): DataFrame =
    pqEncode(
      ivfAssign(embeddings, ivfCodebook)
        .select(col("vec_id"), col("centroid_id"), col("embedding")),
      Seq("centroid_id"), pqCb, m, dim)

  /** IVF-PQ serving: probe the `nprobe` nearest cells with the float
    * coarse codebook (driver-sized, stays float), then ADC-score ONLY the
    * vectors inside probed cells from their PQ codes — candidate volume
    * is cell-bounded AND each candidate costs m LUT lookups instead of a
    * `dim`-float dot. The probe-pair and LUT relations are both
    * query-count-sized broadcasts; the only corpus-scale relation touched
    * is the code index restricted to probed cells.
    */
  def ivfPqTopKIndexed(index: DataFrame, ivfCodebook: DataFrame,
                       pqCb: DataFrame, queries: DataFrame, m: Int,
                       dim: Int, nprobe: Int, k: Int,
                       cellCodes: Option[DataFrame] = None): DataFrame =
    topK(ivfPqAdcScores(index, ivfCodebook, pqCb, queries, m, dim, nprobe,
      cellCodes), "adc_score", k, col("adc_score"))

  /** The index's cell -> code INVENTORY: the distinct (centroid_id, sub,
    * code) triples present in the index — an index-LIFETIME artifact
    * (build it with the index, persist it next to the codebooks; size is
    * bounded by cells x m x k_sub and in practice far smaller). Supplied
    * to the servers it makes the ADC LUT restriction a pure broadcast
    * composition with zero passes over the code relation at serve time.
    */
  def ivfPqCellCodes(index: DataFrame): DataFrame =
    index.select(col("centroid_id"), col("sub"), col("code")).distinct()

  /** The (query_id, centroid_id) probe pairs — each query's `nprobe`
    * nearest coarse cells by cosine (|Q| x nprobe rows, both sides
    * broadcast). Shared by the ADC servers; public so tooling can
    * reason about probe coverage (e.g. LUT sizing) without re-deriving
    * the probe convention.
    */
  def ivfPqProbedPairs(ivfCodebook: DataFrame, queries: DataFrame,
                       nprobe: Int): DataFrame =
    probe(queryRows(withNorm(queries)), ivfCodebook, nprobe, "query_id")

  /** The ADC-scored candidate relation behind [[ivfPqTopKIndexed]] —
    * (query_id, vec_id, adc_score) for every vector in a probed cell.
    *
    * The LUT is restricted to codes PRESENT IN PROBED CELLS: the naive
    * classical LUT is |Q| x m x k_sub partial dots (every query against
    * the whole sub-codebook), which grows with the codebook even though
    * a probe only ever touches its cells' codes. Here the needed
    * (query_id, sub, code) set comes from the supplied [[ivfPqCellCodes]]
    * inventory x the probed pairs (both broadcast-sized, no corpus-scale
    * pass), or — when no inventory is supplied — from the candidate rows
    * themselves (one distinct partial-aggregate over the probed slice of
    * the index, still never the full codebook cross).
    */
  private def ivfPqAdcScores(index: DataFrame, ivfCodebook: DataFrame,
                             pqCb: DataFrame, queries: DataFrame, m: Int,
                             dim: Int, nprobe: Int,
                             cellCodes: Option[DataFrame] = None): DataFrame = {
    GraftFunctions.register(index.sparkSession)
    val qs = subvectors(queryRows(withNorm(queries)), Seq("query_id"), "qe",
      "qsub", m, dim)
    adcCandidates(index, ivfPqProbedPairs(ivfCodebook, queries, nprobe), pqCb,
        qs, Seq("query_id", "sub", "code"), cellCodes)
      .groupBy(col("query_id"), col("vec_id"))
      .agg(round(sum(col("pdot")), 6).as("adc_score"))
  }

  /** The ADC candidate rows shared by the raw and residual IVF-PQ
    * servers: every index row in a probed cell (self-matches dropped),
    * joined to its partial dot `pdot` = round(qsub . ce, 6) from a LUT
    * keyed by `keys` (the query-subvector relation `qsubs` is keyed by
    * `keys` without `code`). The LUT holds only the codes the probe can
    * reach: the [[ivfPqCellCodes]] inventory's when one is supplied,
    * else the candidates' own.
    */
  private def adcCandidates(index: DataFrame, probed: DataFrame,
                            pqCb: DataFrame, qsubs: DataFrame,
                            keys: Seq[String],
                            cellCodes: Option[DataFrame]): DataFrame = {
    val cand = index.join(broadcast(probed), Seq("centroid_id")).filter(notSelf)
    val needed = cellCodes.fold(cand)(_.join(broadcast(probed), Seq("centroid_id")))
      .select(keys.map(col): _*).distinct()
    val lut = needed
      .join(broadcast(pqCb), Seq("sub", "code"))
      .join(broadcast(qsubs), keys.init)
      .select(keys.map(col) :+ round(fdot(col("qsub"), col("ce")), 6).as("pdot"): _*)
    cand.join(broadcast(lut), keys)
  }

  /** One-call IVF-PQ with both codebooks drawn from the deterministic
    * `vec_id % centroidMod == 0` seed set (coarse cells float, PQ cells
    * per-subspace) — swap [[kmeansTrain]] output in for learned ones.
    */
  def ivfPqTopK(embeddings: DataFrame, queryPred: Column, m: Int, dim: Int,
                centroidMod: Int, nprobe: Int, k: Int): DataFrame = {
    val ivfCb = embeddings.filter(col("vec_id") % centroidMod === 0)
      .select("vec_id", "embedding")
    val pqCb = pqCodebook(embeddings, m, dim, centroidMod)
    ivfPqTopKIndexed(ivfPqIndex(embeddings, ivfCb, pqCb, m, dim), ivfCb,
      pqCb, embeddings.filter(queryPred), m, dim, nprobe, k)
  }

  /** TWO-STAGE IVF-PQ serving: ADC ranks a `shortlist`-sized candidate
    * set from the integer index, then the shortlist alone is re-scored
    * with EXACT float cosine against the raw vector store — the
    * classical rerank pattern that buys most of the recall back (ADC
    * recall@10 0.38 on the fixture; 0.72 at shortlist=50, 0.92 at 100)
    * while touching only `shortlist` float vectors per query instead of
    * a cell's worth. The shortlist relation is |Q| x shortlist rows —
    * broadcast into the vector-store join, so the store is point-read,
    * never shuffled.
    */
  def ivfPqTopKIndexedReranked(index: DataFrame, ivfCodebook: DataFrame,
                               pqCb: DataFrame, queries: DataFrame,
                               store: DataFrame, m: Int, dim: Int,
                               nprobe: Int, shortlist: Int, k: Int,
                               cellCodes: Option[DataFrame] = None): DataFrame =
    rerankShortlist(ivfPqAdcScores(index, ivfCodebook, pqCb, queries, m,
        dim, nprobe, cellCodes),
      queryRows(withNorm(queries)), store, qsim, "cosine", shortlist, k,
      withNorm)

  /** The shared rerank tail: take the ADC top-`shortlist` per query from
    * `scores` (query_id, vec_id, adc_score), re-score that shortlist alone
    * against the point-read `store` with the store's scorer — `score`
    * over the shortlist joined to the query rows `q` and the store, after
    * `prep` (the float faces' store norm: computed on shortlisted rows
    * only, not on every store row) — and return the top-k as `out`. The
    * shortlist relation is |Q| x shortlist rows — broadcast into the
    * store join, so the store is point-read, never shuffled.
    */
  private def rerankShortlist(scores: DataFrame, q: DataFrame,
                              store: DataFrame, score: Column, out: String,
                              shortlist: Int, k: Int,
                              prep: DataFrame => DataFrame = identity)
      : DataFrame = {
    val short = topK(scores, "adc_score", shortlist)
    val rr = prep(broadcast(short.join(broadcast(q), Seq("query_id")))
      .join(store, Seq("vec_id"))).withColumn("score", score)
    topK(rr, "score", k, round(col("score"), 6).as(out))
  }

  /** One-call [[ivfPqTopKIndexedReranked]] with the deterministic seed
    * codebooks and the corpus itself as the vector store.
    */
  def ivfPqTopKReranked(embeddings: DataFrame, queryPred: Column, m: Int,
                        dim: Int, centroidMod: Int, nprobe: Int,
                        shortlist: Int, k: Int): DataFrame = {
    val ivfCb = embeddings.filter(col("vec_id") % centroidMod === 0)
      .select("vec_id", "embedding")
    val pqCb = pqCodebook(embeddings, m, dim, centroidMod)
    ivfPqTopKIndexedReranked(ivfPqIndex(embeddings, ivfCb, pqCb, m, dim),
      ivfCb, pqCb, embeddings.filter(queryPred), embeddings, m, dim,
      nprobe, shortlist, k)
  }

  /** Residual relation: every vector minus its assigned coarse centroid —
    * (vec_id, centroid_id, embedding = x − c, array<double>). The
    * classical IVF-PQ encoding input (IVFADC): once the coarse quantizer
    * explains the between-cell structure, residuals concentrate near the
    * origin, so the same PQ bit budget spends on the remaining
    * WITHIN-cell variance instead of re-describing cell position. One
    * broadcast-assign corpus scan + a broadcast centroid join; both
    * operands widen to double before the subtraction (float→double is
    * exact), so the residual arrays are bit-identical across engines
    * with no extra rounding.
    */
  def ivfResiduals(embeddings: DataFrame, ivfCodebook: DataFrame): DataFrame = {
    val c = ivfCodebook.select(col("vec_id").as("centroid_id"),
      col("embedding").cast("array<double>").as("cce"))
    ivfAssign(embeddings, ivfCodebook)
      .select(col("vec_id"), col("centroid_id"),
        col("embedding").cast("array<double>").as("xe"))
      .join(broadcast(c), Seq("centroid_id"))
      .select(col("vec_id"), col("centroid_id"),
        zip_with(col("xe"), col("cce"), (a, b) => a - b).as("embedding"))
  }

  /** Lloyd-learned per-subspace PQ codebooks over the RESIDUAL relation
    * (seeded, like [[pqCodebook]], from the residuals of the
    * `vec_id % centroidMod == 0` rows). Same `(sub, code, ce)` contract
    * as every other PQ codebook — but trained on x − c, which is what
    * the residual index stores and the server reconstructs.
    */
  def pqCodebookResidualLearned(residuals: DataFrame, m: Int, dim: Int,
                                centroidMod: Int, maxIters: Int): DataFrame =
    pqCodebookLearnedFrom(residuals,
      pqCodebook(residuals, m, dim, centroidMod), m, dim, maxIters)

  /** The residual IVF-PQ index: (vec_id, centroid_id, sub, code) where
    * the codes quantize x − c(cell) — the same trillion-scale memory
    * layout as [[ivfPqIndex]] (m small ints + a cell id per vector, no
    * floats), built from one corpus scan. `pqCbRes` must be a
    * residual-trained codebook ([[pqCodebookResidualLearned]]); encoding
    * raw-space codebooks against residuals mixes frames and serves
    * garbage.
    */
  def ivfPqResidualIndex(embeddings: DataFrame, ivfCodebook: DataFrame,
                         pqCbRes: DataFrame, m: Int, dim: Int): DataFrame =
    pqEncode(ivfResiduals(embeddings, ivfCodebook), Seq("centroid_id"),
      pqCbRes, m, dim)

  /** ADC scores for the residual index. The dot decomposes as
    * q·x = q·c + q_r·x_r with q_r = q − c(cell): a per-(query, probed
    * cell) base term plus a LUT over the residual codebook — the LUT is
    * keyed by (query, CELL, sub, code) because residual entries are not
    * shareable across cells (each cell has its own query residual).
    * Still broadcast-sized: |Q| x nprobe x m x codes-in-probed-cells,
    * restricted by the [[ivfPqCellCodes]] inventory exactly like the
    * raw-space server; the only corpus-scale relation touched is the
    * code index slice inside probed cells.
    */
  private def ivfPqResidualAdcScores(index: DataFrame,
                                     ivfCodebook: DataFrame,
                                     pqCbRes: DataFrame, queries: DataFrame,
                                     m: Int, dim: Int, nprobe: Int,
                                     cellCodes: Option[DataFrame]): DataFrame = {
    GraftFunctions.register(index.sparkSession)
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qe"))
    val c = ivfCodebook.select(col("vec_id").as("centroid_id"),
      col("embedding").cast("array<double>").as("cce"))
    val probed = ivfPqProbedPairs(ivfCodebook, queries, nprobe)
    // per probed (query, cell): the q·c base term and the query residual
    // q − c sliced into subspaces
    val qc = broadcast(probed).join(broadcast(q), Seq("query_id"))
      .join(broadcast(c), Seq("centroid_id"))
      .select(col("query_id"), col("centroid_id"),
        round(fdot(col("qe"), col("cce")), 6).as("qcdot"),
        zip_with(col("qe"), col("cce"), (a, b) => a - b).as("qr"))
    val qrs = subvectors(qc, Seq("query_id", "centroid_id"), "qr", "qsub", m,
      dim)
    adcCandidates(index, probed, pqCbRes, qrs,
        Seq("query_id", "centroid_id", "sub", "code"), cellCodes)
      .join(broadcast(qc.select(col("query_id"), col("centroid_id"),
        col("qcdot"))), Seq("query_id", "centroid_id"))
      .groupBy(col("query_id"), col("vec_id"))
      // qcdot is functionally dependent on the candidate's cell (itself
      // dependent on vec_id) — max() is value-deterministic here
      .agg(round(max(col("qcdot")) + sum(col("pdot")), 6).as("adc_score"))
  }

  /** Residual IVF-PQ serving (ADC-only): probe, score candidates from
    * residual codes, return the top-k by approximate q·x.
    */
  def ivfPqResidualTopKIndexed(index: DataFrame, ivfCodebook: DataFrame,
                               pqCbRes: DataFrame, queries: DataFrame,
                               m: Int, dim: Int, nprobe: Int, k: Int,
                               cellCodes: Option[DataFrame] = None): DataFrame =
    topK(ivfPqResidualAdcScores(index, ivfCodebook, pqCbRes, queries, m, dim,
      nprobe, cellCodes), "adc_score", k, col("adc_score"))

  /** Two-stage residual IVF-PQ serving: residual-ADC shortlist, exact
    * cosine rerank — [[ivfPqTopKIndexedReranked]] on the residual index.
    */
  def ivfPqResidualTopKIndexedReranked(index: DataFrame,
                                       ivfCodebook: DataFrame,
                                       pqCbRes: DataFrame,
                                       queries: DataFrame, store: DataFrame,
                                       m: Int, dim: Int, nprobe: Int,
                                       shortlist: Int, k: Int,
                                       cellCodes: Option[DataFrame] = None)
      : DataFrame =
    rerankShortlist(ivfPqResidualAdcScores(index, ivfCodebook, pqCbRes,
        queries, m, dim, nprobe, cellCodes),
      queryRows(withNorm(queries)), store, qsim, "cosine", shortlist, k,
      withNorm)

  /** [[ivfPqResidualTopKIndexedReranked]] with the rerank stage reading
    * a QUANTIZED point-read store (`q8store` = [[quantize]]'s
    * (vec_id, q8, q_scale) projection) instead of the float vectors:
    * the shortlist's per-candidate point-reads touch a QUARTER of the
    * bytes, and scoring is the exact integer dot descaled by the two
    * scales — at 100 TB the rerank store drops from corpus-float-size
    * to corpus/4, usually the difference between a memory-resident
    * rerank tier and a disk-bound one. Scores are the q8-approximate
    * raw dot (== cosine on unit-norm embeddings, the
    * [[bruteForceTopKQ8]] convention); ranking is deterministic (exact
    * integer / bit-identical IEEE product). The recall cost of the
    * quantized rerank vs the float rerank is measured by
    * `sim_ivfpq_residual_q8_recall` at the served rung.
    */
  def ivfPqResidualTopKIndexedRerankedQ8(index: DataFrame,
                                         ivfCodebook: DataFrame,
                                         pqCbRes: DataFrame,
                                         queries: DataFrame,
                                         q8store: DataFrame,
                                         m: Int, dim: Int, nprobe: Int,
                                         shortlist: Int, k: Int,
                                         cellCodes: Option[DataFrame] = None)
      : DataFrame =
    rerankShortlist(ivfPqResidualAdcScores(index, ivfCodebook, pqCbRes,
        queries, m, dim, nprobe, cellCodes),
      quantize(queries).select(col("vec_id").as("query_id") +: q8Query: _*),
      q8store, q8Score, "q8_score", shortlist, k)

  /** Recall@k of an APPROXIMATE top-k result against the exact one —
    * the eval primitive that decides whether an IVF / PQ configuration
    * (cells, nprobe, m) is allowed to serve: per query, the fraction of
    * the exact top-k the approximate list recovered. Both inputs are
    * (query_id, vec_id, ...) top-k relations (e.g. [[ivfPqTopKIndexed]]
    * vs [[bruteForceTopK]] over the same queries). Query-count-sized
    * join — evaluation cost is independent of the corpus.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame =
    exact.select(col("query_id"), col("vec_id"))
      // both sides are top-k lists (k x |Q| rows) — broadcast is safe by
      // construction and keeps the static plan merge-free
      .join(broadcast(approx.select(col("query_id"), col("vec_id"))
        .withColumn("hit", lit(1))), Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("int").as("n_hits"))
      .withColumn("recall",
        round(col("n_hits").cast("double") / lit(k.toDouble), 6))

  /** Embedding-space drift between two corpus releases: per slice
    * (label/domain), the L2 distance between the releases' slice
    * centroids plus member counts — the drift monitor for a re-encoded
    * or re-crawled corpus (an encoder swap shows up as uniform large
    * drift across slices; a data shift as drift concentrated in a few).
    * Two slice-keyed centroid aggregates (map-side partial
    * [[graft.functions.VectorAvgAggregate]] sums), two count
    * aggregates, a slice-count-sized full-outer join; `drift` is null
    * for a slice present in only one release. Each centroid COMPONENT
    * is snapped to the 1e-6 grid BEFORE differencing (the
    * [[kmeansTrain]] convention) — both engines then difference
    * identical gridded centroids, so the distance is engine-exact.
    */
  def centroidDrift(oldEmb: DataFrame, newEmb: DataFrame,
                    bucketCol: String = "label"): DataFrame = {
    GraftFunctions.register(oldEmb.sparkSession)
    def side(df: DataFrame, c: String, n: String) =
      centroids(df, bucketCol).select(col(bucketCol),
          transform(col("centroid"), v => round(v, 6)).as(c))
        .join(df.groupBy(col(bucketCol)).agg(count(lit(1)).as(n)),
          Seq(bucketCol))
    val diff = zip_with(col("__co"), col("__cn"), (a, b) => a - b)
    side(oldEmb, "__co", "n_old")
      .join(side(newEmb, "__cn", "n_new"), Seq(bucketCol), "full_outer")
      .withColumn("drift",
        when(col("__co").isNull || col("__cn").isNull,
          lit(null).cast("double"))
          // the squared distance is gridded BEFORE the sqrt: the dot's
          // last-ulp depends on summation order, and both engines then
          // sqrt the identical 1e-6-grid value
          .otherwise(round(sqrt(round(fdot(diff, diff), 6)), 6)))
      .select(col(bucketCol), col("n_old"), col("n_new"), col("drift"))
  }

  /** IVF index-health audit: per coarse cell, its member count and load
    * factor vs the mean cell — the number that predicts serving tail
    * latency (a probed hot cell scans its whole membership) and flags a
    * collapsed quantizer (most vectors in few cells) before it ships.
    * `assigned` is [[ivfAssign]]'s output. One cell-keyed count; the
    * load-factor window runs over the cells-count-sized result.
    */
  def ivfIndexStats(assigned: DataFrame): DataFrame = {
    val counts = assigned.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vecs"))
    val w = Window.partitionBy()
    counts.withColumn("load_factor",
      round(col("n_vecs").cast("double") /
        (sum(col("n_vecs")).over(w).cast("double") /
          count(lit(1)).over(w)), 6))
  }

  /** Embedding data-quality vet — the garbage gate before any ANN /
    * dedup indexing run: per row, the invariants every operator in this
    * file assumes — exact dimensionality, all-finite values, nonzero
    * norm — with an `ok` verdict. A 100 TB crawl's encoder output
    * always carries ragged/NaN/zero rows (truncated writes, failed
    * forward passes, padding artifacts); indexing them corrupts
    * codebook training (NaN poisons every mean it touches) and
    * similarity ranking silently. Map-only single scan; keep the
    * `ok` rows (or audit the `ok=false` ones) before training/indexing.
    */
  def vetEmbeddings(embeddings: DataFrame, dim: Int): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val e = col("embedding")
    val nonfinite = filter(e, x =>
      isnan(x) || x === lit(Float.PositiveInfinity) ||
        x === lit(Float.NegativeInfinity) || x.isNull)
    embeddings.select(col("vec_id"),
        size(e).as("n_dims"),
        size(nonfinite).as("n_nonfinite"),
        (fdot(e, e) === lit(0.0)).as("zero_norm"))
      .withColumn("ok",
        col("n_dims") === dim && col("n_nonfinite") === 0 &&
          !col("zero_norm"))
  }

  /** EMBEDDING-SPACE decontamination report: for every corpus vector
    * whose cosine against ANY benchmark vector reaches `threshold`, the
    * best-matching benchmark id and similarity — the semantic analogue
    * of [[TextAnalysis.contaminationReport]]'s n-gram rule (catches
    * paraphrased/reformatted test-set leakage that exact grams miss;
    * the embedding-similarity decon used by modern release pipelines).
    *
    * Shape: the benchmark is BROADCAST (eval benchmarks are small by
    * construction) and the corpus is scanned ONCE through a broadcast
    * nested-loop join — exact, embarrassingly parallel, map-only per
    * corpus row; the corpus is never self-joined and never shuffles.
    * At extreme corpus x benchmark scale, compose the IVF route instead:
    * [[semanticIndex]] both sides and compare within probed cells.
    * Benchmark members present in the corpus match themselves (cos 1) —
    * desired: a release must drop the benchmark rows themselves too.
    * Ties on the 6-rounded cosine resolve to the lowest benchmark id.
    */
  def embeddingContaminationReport(corpus: DataFrame, benchmark: DataFrame,
                                   threshold: Double): DataFrame = {
    val c = withNorm(corpus)
      .select(col("vec_id"), col("embedding").as("ce"), col("nrm").as("cn"))
    val b = withNorm(benchmark)
      .select(col("vec_id").as("bench_id"), col("embedding").as("be"),
        col("nrm").as("bn"))
    val sim = cosineOf("ce", "cn", "be", "bn")
    c.join(broadcast(b), sim >= lit(threshold))
      .select(col("vec_id"), col("bench_id"), round(sim, 6).as("cosine"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cosine"), (-col("bench_id")).as("nb"))).as("best"),
        count(lit(1)).as("n_matches"))
      .select(col("vec_id"), (-col("best.nb")).as("bench_id"),
        col("best.cosine").as("cosine"), col("n_matches"))
  }

  /** The corpus with embedding-contaminated vectors REMOVED — the
    * serving face of [[embeddingContaminationReport]]: flag ids (a
    * hit-sized relation), anti-join. Same contract as
    * [[TextAnalysis.decontaminate]].
    */
  def decontaminateByEmbedding(corpus: DataFrame, benchmark: DataFrame,
                               threshold: Double): DataFrame = {
    val flagged = embeddingContaminationReport(corpus, benchmark, threshold)
      .select(col("vec_id").as("__flag_id"))
    corpus.join(flagged, corpus("vec_id") === col("__flag_id"), "left_anti")
  }

  // ---- Trained rotations: learn an ORTHOGONAL rotation from the corpus
  // covariance ([[pcaRotation]]) and apply it with [[rotate]]; rotating
  // both data and query preserves all dot products.

  /** Mean vector and (centered) covariance of an embedding column,
    * collected to the driver — (dim) and (dim x dim) doubles, driver-
    * sized by definition at any corpus scale. ONE distributed pass: the
    * per-row flattened outer product x⊗x (dim² doubles) partial-
    * aggregates map-side through `graft_vec_avg`, so nothing corpus-
    * sized moves. At very large corpora the classical practice is to
    * estimate Σ on a sample; compose with `Dedup.hashSample` upstream —
    * the estimator itself does not need to see every row.
    */
  def meanAndCovariance(embeddings: DataFrame, dim: Int)
      : (Array[Double], Array[Array[Double]]) = {
    GraftFunctions.register(embeddings.sparkSession)
    val x = col("embedding")
    val outer = flatten(transform(x, xi =>
      transform(x, xj => xi.cast("double") * xj.cast("double"))))
    val row = embeddings.agg(
      call_function("graft_vec_avg", x).as("mu"),
      call_function("graft_vec_avg", outer).as("xxt")).head()
    val mu = row.getSeq[Double](0).toArray
    val xxt = row.getSeq[Double](1).toArray
    require(mu.length == dim && xxt.length == dim * dim,
      s"meanAndCovariance: expected dim=$dim, got ${mu.length}")
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      // 1e-6 grid (house determinism convention): double partial-sum
      // merge order varies across runs; the grid absorbs it so the
      // eigendecomposition below sees a replayable matrix
      math.rint((xxt(i * dim + j) - mu(i) * mu(j)) * 1e6) / 1e6
    }
    (mu, cov)
  }

  /** Driver-side eigendecomposition of a symmetric matrix via cyclic
    * Jacobi rotations — deterministic (fixed upper-triangle sweep order,
    * fixed tolerance, no RNG) and exact enough at dim=64 (off-diagonal
    * driven below 1e-12 of the Frobenius norm). Returns (eigenvalues,
    * eigenvectors as COLUMNS), sorted by descending eigenvalue with each
    * vector's largest-magnitude component forced positive (sign
    * canonicalization, so replays agree).
    */
  private[graft] def jacobiEigSym(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm(): Double = {
      var s = 0.0
      for (i <- 0 until n; j <- i + 1 until n) s += a(i)(j) * a(i)(j)
      math.sqrt(2 * s)
    }
    val frob = math.sqrt(a0.map(_.map(x => x * x).sum).sum)
    var sweep = 0
    while (offNorm() > 1e-12 * math.max(frob, 1e-300) && sweep < 100) {
      sweep += 1
      for (p <- 0 until n; q <- p + 1 until n if math.abs(a(p)(q)) > 0) {
        // classical 2x2 symmetric Schur rotation annihilating a(p)(q)
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t = math.signum(theta + (if (theta == 0) 1.0 else 0.0)) /
          (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (k <- 0 until n) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
        }
        for (k <- 0 until n) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
        }
        for (k <- 0 until n) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq
          v(k)(q) = s * vkp + c * vkq
        }
      }
    }
    val order = (0 until n).sortBy(i => (-a(i)(i), i))
    val evals = order.map(i => a(i)(i)).toArray
    val evecs = Array.tabulate(n, n) { (r, ci) => v(r)(order(ci)) }
    // sign canonicalization per column
    for (ci <- 0 until n) {
      var best = 0
      for (r <- 1 until n)
        if (math.abs(evecs(r)(ci)) > math.abs(evecs(best)(ci))) best = r
      if (evecs(best)(ci) < 0)
        for (r <- 0 until n) evecs(r)(ci) = -evecs(r)(ci)
    }
    (evals, evecs)
  }

  /** Farthest-point (k-center / max-min) coreset sampling — the greedy
    * 2-approximation for k-center (Gonzalez 1985), the standard
    * diversity-selection primitive for training-data curation: pick a
    * start, then k−1 times the point MAXIMIZING its minimum cosine
    * distance to everything already selected. Returns (sel_order,
    * vec_id, dist) where dist is the max-min distance at selection
    * time (0 for the start).
    *
    * Scale shape: k driver-bounded rounds; each round is ONE map-only
    * pass updating the per-row running min distance (the new center
    * rides the plan as a broadcast-free literal array) plus one
    * max-struct aggregate — never a pairwise join; the running-min
    * relation is localCheckpoint'd per round (the resolveClusters
    * lineage discipline). Determinism: every distance lands on the
    * 1e-6 grid before the argmax, ties break on the minimum id, and
    * already-selected ids are excluded explicitly (exact duplicates of
    * a selected point would otherwise re-win at distance 0).
    */
  def farthestPointSample(embeddings: DataFrame, k: Int,
                          startId: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    GraftFunctions.register(embeddings.sparkSession)
    val spark = embeddings.sparkSession
    import spark.implicits._
    def centerEmb(id: Long): Seq[Float] =
      embeddings.filter(col("vec_id") === id)
        .select(col("embedding").cast("array<float>")).head().getSeq[Float](0)
    def distTo(id: Long): Column =
      round(lit(1.0) - cosine(col("embedding"),
        typedLit(centerEmb(id))), 6)
    var selected = List((1, startId, 0.0))
    for (i <- 2 to k) {
      // min distance to ALL selected centers, recomputed map-only each
      // round (k is small, every center is a plan literal — one
      // codegen'd scan, no join, no state to checkpoint; each distance
      // lands on the grid BEFORE the least, which the oracle mirrors)
      val mdCol = selected.map(s => distTo(s._2)).reduce(least(_, _))
      val top = embeddings
        .filter(!col("vec_id").isin(selected.map(_._2): _*))
        .select(col("vec_id"), mdCol.as("md"))
        .agg(max(struct(col("md"), (-col("vec_id")).as("nid"))).as("t"))
        .select(col("t.md"), (-col("t.nid")).as("vec_id")).head()
      selected = (i, top.getLong(1), top.getDouble(0)) :: selected
    }
    selected.reverse.toDF("sel_order", "vec_id", "dist")
  }

  /** Plain PCA rotation for PREFIX-dimension (Matryoshka-style)
    * truncation: rows of R are the covariance eigenvectors in
    * DESCENDING-eigenvalue order, so `rotate(e, pcaRotation(e, d))`
    * concentrates corpus variance into the leading output dims — the
    * trained front-end that makes "serve only the first 16/32 dims"
    * meaningful on embeddings that were never Matryoshka-trained
    * (measured in MatryoshkaRotationSpec + the BASELINE.md ladder).
    * Row-major flattened on the 1e-6 grid, ready for [[rotate]].
    */
  def pcaRotation(embeddings: DataFrame, dim: Int): Array[Double] = {
    val (_, cov) = meanAndCovariance(embeddings, dim)
    val (_, evecs) = jacobiEigSym(cov)
    val r = new Array[Double](dim * dim)
    for (out <- 0 until dim; j <- 0 until dim)
      r(out * dim + j) = math.rint(evecs(j)(out) * 1e6) / 1e6
    r
  }

  /** Variance-DESCENDING dimension order — the axis-aligned member of
    * the trained-rotation family (a permutation is an orthogonal matrix;
    * it concentrates per-axis variance into the prefix without mixing
    * coordinates). Unlike the dense [[pcaRotation]] its training loop
    * has an exact SQL twin (per-dim moments on the grid6 lattice), so
    * the declared prefix-recall query can be oracle-gated end to end.
    * Returns the 0-based dimension indices, best first. Determinism:
    * both raw moments land on the grid6 lattice (absorbing partial-sum
    * merge order), the variance recomposes from the SNAPPED moments
    * with pure IEEE ops, and ties break on the dimension index.
    */
  def varianceOrder(embeddings: DataFrame, dim: Int): Array[Int] = {
    GraftFunctions.register(embeddings.sparkSession)
    val x = col("embedding")
    val sq = transform(x, xi => xi.cast("double") * xi.cast("double"))
    val row = embeddings.agg(
      transform(call_function("graft_vec_avg", x),
        v => QualityModel.grid6(v)).as("m1"),
      transform(call_function("graft_vec_avg", sq),
        v => QualityModel.grid6(v)).as("m2")).head()
    val m1 = row.getSeq[Double](0).toArray
    val m2 = row.getSeq[Double](1).toArray
    require(m1.length == dim,
      s"varianceOrder: expected dim=$dim, got ${m1.length}")
    def g6(v: Double): Double = math.floor(v * 1000000.0 + 0.5) / 1000000.0
    val variance = Array.tabulate(dim)(i => g6(m2(i) - m1(i) * m1(i)))
    (0 until dim).sortBy(i => (-variance(i), i)).toArray
  }

  /** Apply a learned rotation to the embedding column: embedding ←
    * round(R·x, 6) (`array<double>`, drop-in for the PQ trainers/encoders
    * which accept float or double). The rotation rides the plan as a
    * FOLDABLE literal through [[graft.functions.MatVecMul]] — map-only,
    * codegen'd, no join, no broadcast; at 100 TB this is a free pass
    * fused into whatever scan feeds training or encoding.
    */
  def rotate(embeddings: DataFrame, rotation: Array[Double],
             vecCol: String = "embedding"): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    embeddings.withColumn(vecCol,
      transform(call_function("graft_matvec",
          lit(rotation), col(vecCol)), x => round(x, 6)))
  }

  // ---- Radius and metadata-constrained search ------------------------

  /** Exact radius (range) search: every candidate within cosine >=
    * `threshold` of each query (queries = rows selected by `queryPred`),
    * self-matches excluded — the "all neighbors in range" face of
    * similarity search ([[bruteForceTopK]] is the "best k" face; a radius
    * query answers "how crowded is this region", top-k answers "who is
    * closest"). The query set is broadcast and the corpus scanned once
    * map-side, so the only shuffle carries the hit-sized survivor set —
    * linear in the corpus at any scale. The threshold lives in the join
    * condition in DIVISION form (not `dot >= t*|a||b|`) for bit-parity
    * with the oracle's cosine on borderline rows (the
    * [[embeddingContaminationReport]] idiom).
    */
  def radiusSearch(embeddings: DataFrame, queryPred: Column,
                   threshold: Double): DataFrame = {
    val e = withNorm(embeddings)
    e.join(broadcast(queryRows(e.filter(queryPred))),
        notSelf && qsim >= lit(threshold))
      .select(col("query_id"), col("vec_id"), round(qsim, 6).as("cosine"))
  }

  /** Exact top-k restricted to candidates sharing the query's value of
    * `partCol` — metadata-EQUALITY-constrained search (same-language
    * retrieval, same-shard dedup lookups). The equality key turns the
    * scoring join into a keyed join instead of a query-cross-corpus
    * nested loop: at 100 TB with the index partitioned by `partCol`,
    * each query touches only its partition's files — the filter IS the
    * partition pruning.
    */
  def partitionedTopK(embeddings: DataFrame, queryPred: Column,
                      partCol: String, k: Int): DataFrame = {
    val e = withNorm(embeddings)
    exactTopK(queryRows(e.filter(queryPred), col(partCol).as("__qpart")), e,
      col("__qpart") === col(partCol) && notSelf, k)
  }

  /** Exact top-k with an arbitrary candidate-side predicate — PRE-filter
    * semantics: the predicate applies BEFORE ranking, so every query
    * gets k hits as long as k candidates pass anywhere in the corpus
    * (the vector-DB "filtered search" contract; POST-filtering a top-k
    * list silently returns fewer than k under selective filters). This
    * is the exact reference/ground truth; [[ivfTopKIndexedFiltered]] is
    * the indexed serving face.
    */
  def filteredTopK(embeddings: DataFrame, queryPred: Column,
                   candFilter: Column, k: Int): DataFrame = {
    val e = withNorm(embeddings)
    exactTopK(queryRows(e.filter(queryPred)), e.filter(candFilter), notSelf, k)
  }

  /** Filtered search against the PREBUILT IVF index ([[ivfAssign]]'s
    * output): the candidate predicate is applied to probed-cell members
    * before ranking — in-cell pre-filtering. Catalyst pushes the
    * predicate into the stored-index scan (for a filter over a partition
    * column of the index layout, probed cells read only matching files).
    * Recall caveat, measured by `sim_ivf_filtered_recall`: with a fixed
    * `nprobe`, a selective filter empties some probed cells, so filtered
    * serving generally wants a WIDER probe than unfiltered serving to
    * reach the same recall — the classic filtered-ANN trade-off.
    */
  def ivfTopKIndexedFiltered(assigned: DataFrame, codebook: DataFrame,
                             queries: DataFrame, candFilter: Column,
                             nprobe: Int, k: Int): DataFrame =
    ivfTopKIndexed(assigned.filter(candFilter), codebook, queries, nprobe, k)

  /** Embedding-cosine near-duplicate pairs within a coarse bucket
    * (`bucketCol`): only same-bucket pairs are compared. With a learned
    * quantizer as the bucketer this is IVF near-dup at 100 TB; here the
    * fixture `label` column plays the cell id.
    */
  def blockedNearDupPairs(embeddings: DataFrame, bucketCol: String,
                          threshold: Double, maxBucketSize: Int = 0): DataFrame = {
    // hot-bucket backstop: a degenerate cell (embedding flood, collapsed
    // quantizer cell) would make the within-bucket pair join quadratic —
    // cap membership, loudly (see Dedup.capBuckets)
    val e = Dedup.capBuckets(withNorm(embeddings), Seq(bucketCol),
      maxBucketSize, "blockedNearDupPairs")
    val a = e.select(col(bucketCol).as("bucket"),
      col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col(bucketCol).as("bucket"),
      col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket")).filter(col("vec_a") < col("vec_b"))
      .withColumn("sim", cosineOf("ea", "na", "eb", "nb"))
      .filter(col("sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), cosineOut)
  }
}
