package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Model-BASED quality filtering, trained inside the engine: a hashed
  * bag-of-words logistic-regression classifier (the fastText-style
  * quality filter of the CCNet/LLaMA lineage — "high-quality reference
  * domains are the positive class, the raw crawl the negative") whose
  * training loop is plain DataFrame aggregates, so it runs where the
  * data lives instead of exporting features to a driver-side learner.
  *
  * Everything is DETERMINISTIC and cross-engine replayable: features are
  * md5-hashed token buckets, the optimizer is full-batch gradient
  * descent with a FIXED iteration count, and every per-iteration
  * quantity (probabilities, gradients, weights) is rounded to the
  * 6-place grid before use, so the DuckDB oracle unrolls the same
  * iterations and lands on bit-identical weights.
  *
  * Scale posture: the (doc, feature, tf) sketch is token-stream-sized,
  * built once and persisted; each iteration is one broadcast join
  * (weights are `dim`-sized — model state never exceeds the feature
  * dimension) + one doc-keyed partial aggregate + one feature-keyed
  * partial aggregate. Iterations are few and fixed (the classifier is a
  * filter, not a research model); cost is O(iters x sketch), linear in
  * the corpus with no corpus-sized driver state.
  */
object QualityModel {

  /** md5-derived feature bucket for a token (stable across engines —
    * the same first-8-hex-digits polynomial as [[Dedup.hashBucket]]).
    */
  private def featureBucket(term: Column, dim: Int): Column =
    (conv(substring(md5(term.cast(StringType)), 1, 8), 16, 10)
      .cast("long") % dim).cast("int")

  /** 1e-6 grid snap as floor(x * 1e6 + 0.5) / 1e6 — pure IEEE ops, so
    * both engines produce the identical double. The usual round(x, 6)
    * goes through each engine's DECIMAL rendering, and GD arithmetic is
    * rational with small denominators (n_docs, lr), so intermediate
    * values land EXACTLY on .5 decimal half-points where Spark
    * (HALF_UP on the shortest decimal) and DuckDB (round on the binary)
    * disagree by one ulp-of-grid — observed on the fixture.
    */
  private[ops] def grid6(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)

  /** The persisted training sketch: (doc_id, y, feature) — BINARY
    * presence of each hashed unigram bucket, plus an always-on BIAS
    * feature (id -1) per document so the model calibrates to the class
    * prior (without it, every weight chases the prior and the scores
    * collapse toward 0 — observed on the fixture). One corpus scan;
    * presence (not tf) keeps dots in sigmoid's linear range.
    */
  def featureSketch(df: DataFrame, idCol: String,
                    textCol: String, labelCol: Column,
                    dim: Int): DataFrame = {
    val tok = Par.fanOut(df.select(col(idCol), col(textCol), labelCol.as("y")))
      .select(col(idCol), col("y"),
        explode(split(lower(col(textCol)), " ")).as("term"))
      .select(col(idCol), col("y"),
        featureBucket(col("term"), dim).as("feature"))
      .distinct()
    tok.unionByName(
      tok.select(col(idCol), col("y")).distinct()
        .withColumn("feature", lit(-1).cast("int")))
  }

  /** [[featureSketch]] generalized to word n-grams — the PRODUCTION shape
    * of the classifier's feature space (the fastText recipe: unigrams +
    * bigrams hashed into a large bucket space, dim 2^18, so collisions
    * are rare and word-order signal survives the hashing trick). Grams
    * are emitted by the native codegen [[graft.functions.WordGrams]]
    * expression (single-space token semantics — identical to the
    * `split(lower(text), " ")` tokenization of the unigram sketch, so a
    * 1-gram sketch from this face equals [[featureSketch]] exactly);
    * presence stays BINARY and the bias feature (-1) stays, so every
    * downstream face (train / score / gate, batch or streaming) works
    * unchanged on the richer sketch. One corpus scan: the k gram sizes
    * explode the SAME projected relation, not k re-reads.
    */
  def featureSketchNg(df: DataFrame, idCol: String, textCol: String,
                      labelCol: Column, dim: Int,
                      maxN: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val base = Par.fanOut(df.select(col(idCol), col(textCol), labelCol.as("y")))
    val tok = (1 to maxN).map { k =>
      base.select(col(idCol), col("y"),
        explode(call_function("graft_word_grams",
          lower(col(textCol)), lit(k), lit(true))).as("term"))
    }.reduce(_ unionByName _)
      .select(col(idCol), col("y"),
        featureBucket(col("term"), dim).as("feature"))
      .distinct()
    tok.unionByName(
      tok.select(col(idCol), col("y")).distinct()
        .withColumn("feature", lit(-1).cast("int")))
  }

  /** Train `iters` full-batch GD steps from w = 0 and return the weight
    * relation (feature, w). With zero init the first iteration's
    * probabilities are exactly 0.5 for every document, and each
    * subsequent iteration recomputes p from the 6-rounded weights — the
    * oracle replays the identical arithmetic. `labelCol` is the 0/1
    * teacher (e.g. membership in curated sources). Features absent from
    * the corpus simply never appear (implicit weight 0).
    *
    *   p_i   = grid6(sigmoid(grid6(sum_{f in doc i} w_f)))
    *   g_f   = grid6(sum_{i : f in doc i} (p_i - y_i) / n_docs)
    *   w_f  <- grid6(w_f - lr * g_f)
    */
  def trainHashedLogReg(df: DataFrame, idCol: String, textCol: String,
                        labelCol: Column, dim: Int = 64, lr: Double = 0.5,
                        iters: Int = 3): DataFrame = {
    val sl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sk = featureSketch(df, idCol, textCol, labelCol, dim).persist(sl)
    val w = trainHashedLogRegWith(sk, idCol, lr, iters)
    // the weights are <= dim + 1 rows: return them as a local relation and
    // release the checkpoint, which otherwise stays persisted until the
    // driver happens to garbage-collect the returned frame
    val local = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(w.collect(): _*), w.schema)
    releaseCheckpoint(w)
    sk.unpersist()
    local
  }

  /** Unpersist the checkpointed RDD behind `w` now, instead of whenever
    * the JVM garbage-collects the frame. */
  private def releaseCheckpoint(w: DataFrame): Unit =
    w.queryExecution.analyzed.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Train against an ALREADY-BUILT (and ideally persisted/checkpointed)
    * feature sketch — the face that lets a train+score composition
    * tokenize the corpus exactly once: build [[featureSketch]], cut its
    * lineage (`localCheckpoint(true)`), train here, then score the same
    * relation with [[scoreHashedLogRegWith]]. `sk` must carry
    * (`idCol`, y, feature) as produced by [[featureSketch]]. Each
    * iteration's checkpoint is released once the next one is
    * materialized; the caller owns the returned one.
    */
  def trainHashedLogRegWith(sk: DataFrame, idCol: String, lr: Double = 0.5,
                            iters: Int = 3): DataFrame = {
    val nDocs = sk.select(col(idCol)).distinct().count().toDouble
    // w starts empty (all-zero weights stay implicit; only touched
    // features ever materialize a row — the relation is <= dim rows)
    var w: DataFrame = null
    for (_ <- 0 until iters) {
      val p =
        if (w == null)
          // zero weights: every dot is 0, sigmoid(0) = 0.5 exactly
          sk.select(col(idCol), col("y")).distinct()
            .withColumn("p", lit(0.5))
        else
          sk.join(broadcast(w), Seq("feature"), "left")
            .groupBy(col(idCol), col("y"))
            .agg(grid6(sum(coalesce(col("w"), lit(0.0)))).as("dot"))
            .withColumn("p",
              grid6(lit(1.0) / (lit(1.0) + exp(-col("dot")))))
      val grad = sk.join(p.select(col(idCol), col("p")), Seq(idCol))
        .groupBy(col("feature"))
        .agg(grid6(sum(col("p") - col("y")) / nDocs).as("g"))
      val prev = if (w == null) grad.select(col("feature"),
        lit(0.0).as("w")) else w
      val next = prev.join(grad, Seq("feature"), "outer")
        .select(col("feature"),
          grid6(coalesce(col("w"), lit(0.0)) -
            lit(lr) * coalesce(col("g"), lit(0.0))).as("w"))
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER) // cut the per-iteration lineage stack
      if (w != null) releaseCheckpoint(w)
      w = next
    }
    w
  }

  /** Deploy face of the classifier as a KEPT-FRACTION filter: keep
    * documents scoring at or above the exact `quantile` cut of the
    * corpus's own score distribution. Model-based quality filters
    * deploy with a kept-fraction target ("top half by classifier
    * score"), not an absolute probability — the absolute scale shifts
    * with the class prior. Cut = 6-rounded interpolated percentile
    * (the [[TextAnalysis.qualityTiers]] convention), one-row broadcast;
    * the kept-id semi-join is corpus-sized and therefore SHUFFLED, like
    * every keep-set join in the dedup family.
    *
    * Scores come from an already-built feature sketch `sk`
    * ([[featureSketch]] / [[featureSketchNg]]), so the corpus is
    * tokenized once, not re-hashed by the gate's scoring pass; `df` is
    * only the semi-join's left side. When gating a derived corpus, score
    * the RAW corpus and semi-join the kept ids against the derived
    * relation (scores are derivation-independent — see
    * `llm_corpus_prep_full`).
    */
  def keepTopScoredWith(df: DataFrame, idCol: String, sk: DataFrame,
                        weights: DataFrame,
                        quantile: Double = 0.5): DataFrame = {
    val scored = scoreHashedLogRegWith(sk, idCol, weights)
    val pctl = call_function("percentile", col("score"), lit(quantile))
    val cut = scored.agg(grid6(pctl).as("c"))
    val keptIds = scored.crossJoin(broadcast(cut))
      .filter(col("score") >= col("c")).select(col(idCol))
    df.join(keptIds, Seq(idCol), "left_semi")
  }

  /** Score documents under a trained (feature, w) relation: the gridded
    * sigmoid of the gridded dot product, plus the 0/1 prediction at the
    * 0.5 boundary. Broadcast weight join + one doc-keyed aggregate — the
    * corpus streams through once; the filter face is [[keepTopScoredWith]].
    */
  def scoreHashedLogReg(df: DataFrame, idCol: String, textCol: String,
                        weights: DataFrame, dim: Int = 64): DataFrame = {
    val tok = Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(split(lower(col(textCol)), " ")).as("term"))
      .select(col(idCol), featureBucket(col("term"), dim).as("feature"))
      .distinct()
    tok.unionByName(tok.select(col(idCol)).distinct()
        .withColumn("feature", lit(-1).cast("int")))
      .join(broadcast(weights), Seq("feature"), "left")
      .groupBy(col(idCol))
      .agg(grid6(sum(coalesce(col("w"), lit(0.0)))).as("dot"))
      .select(col(idCol),
        grid6(lit(1.0) / (lit(1.0) + exp(-col("dot")))).as("score"))
      .withColumn("pred",
        when(col("score") >= 0.5, 1).otherwise(0).cast("int"))
  }

  /** Score from an ALREADY-BUILT feature sketch (same relation
    * [[trainHashedLogRegWith]] trains on) — identical arithmetic to
    * [[scoreHashedLogReg]], zero additional corpus scans: a train+score
    * composition that checkpoints the sketch tokenizes the corpus
    * exactly once. At 100 TB this halves the quality gate's dominant
    * cost (the tokenize+hash pass); [[scoreHashedLogReg]] remains the
    * deploy face for scoring FRESH documents under fixed weights.
    */
  def scoreHashedLogRegWith(sk: DataFrame, idCol: String,
                            weights: DataFrame): DataFrame =
    sk.select(col(idCol), col("feature"))
      .join(broadcast(weights), Seq("feature"), "left")
      .groupBy(col(idCol))
      .agg(grid6(sum(coalesce(col("w"), lit(0.0)))).as("dot"))
      .select(col(idCol),
        grid6(lit(1.0) / (lit(1.0) + exp(-col("dot")))).as("score"))
      .withColumn("pred",
        when(col("score") >= 0.5, 1).otherwise(0).cast("int"))

  /** Calibration table for a scored corpus — the eval a classifier gate
    * must pass before its threshold means anything: bucket `score` into
    * `bins` equal-width bins and report per-bin volume, positive-label
    * count/rate and mean score. A well-calibrated scorer has
    * `pos_rate ≈ avg_score` per bin; a miscalibrated one silently
    * over- or under-filters at any fixed threshold. `scored` carries
    * (score, label) rows — compose [[scoreHashedLogRegWith]] with a
    * label join. One bin-keyed aggregation over fixed-width rows; the
    * result is bins-sized. Scores live on the 1e-6 grid ([[grid6]]), so
    * the bin edges are engine-deterministic.
    */
  def calibration(scored: DataFrame, labelCol: Column,
                  bins: Int = 10): DataFrame =
    scored.select(col("score"), labelCol.cast("int").as("__y"))
      .withColumn("bin",
        least(floor(col("score") * bins), lit(bins - 1)).cast("int"))
      .groupBy(col("bin")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("__y")).cast("long").as("n_pos"),
        round(avg(col("__y").cast("double")), 6).as("pos_rate"),
        round(avg(col("score")), 6).as("avg_score"))
}
