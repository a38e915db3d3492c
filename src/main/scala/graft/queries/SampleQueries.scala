package graft.queries

import graft.Tables
import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._
import LlmFixtures._

/** Sampling queries over `documents`: deterministic hash and
  * stratified samples, weighted, temperature-scaled and per-epoch
  * mixtures, and token-budget cuts.
  */
object SampleQueries {

  /** Source-domain mixture rates for the weighted-sampling query — ONE
    * definition feeding both the Spark operator call and the oracle's
    * CASE chain so the two engines can never drift.
    */
  private val MixWeights: Seq[(String, Int)] =
    (0 to 9).map(i => (s"src$i", ((i % 5) + 1) * 10))

  private val MixRateSql: String =
    MixWeights.map { case (g, p) => s"WHEN '$g' THEN $p" }
      .mkString("CASE source ", " ", " ELSE 0 END")

  val declared: Seq[Declared] = Seq(
    // deterministic 20%-per-document sample (train/test-split primitive)
    Declared("sample_hash_20pct", (s, dir) =>
      Dedup.hashSample(Tables.documents(s, dir), "doc_id", 20),
      s"""SELECT * FROM documents
         |WHERE $HashBucketSql < 20""".stripMargin),

    // deterministic per-language quota (corpus-balancing primitive)
    Declared("sample_stratified", (s, dir) =>
      Dedup.stratifiedSample(Tables.documents(s, dir), "lang", "doc_id", 50),
      """SELECT * EXCLUDE (rk) FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 50""".stripMargin),

    // per-source weighted mixture (domain-composition primitive:
    // up/downsample sources at fixed reproducible rates, map-only)
    Declared("sample_weighted_mix", (s, dir) =>
      Dedup.weightedSample(Tables.documents(s, dir), "doc_id", "source",
        MixWeights.toMap),
      s"""SELECT * FROM documents
         |WHERE $HashBucketSql < $MixRateSql""".stripMargin),

    // exact-size weighted sampling (Efraimidis-Spirakis priority keys):
    // exactly 5 docs per source, drawn without replacement with
    // probability proportional to length
    Declared("sample_weighted_topn", (s, dir) =>
      Dedup.weightedTopNSample(Tables.documents(s, dir), "doc_id",
          "source", "n_chars", n = 5)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("sample_priority")),
      // priority sampling: u = (60-bit md5 prefix + 1) / 2^60, key =
      // round(u^(1/w), 6), top-5 keys per source (ties on doc_id)
      {
        val h60 = hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, 15)
        s"""WITH p AS (SELECT doc_id, source, n_chars,
           |    round(pow((CAST($h60 AS DOUBLE) + 1)
           |              / 1152921504606846976.0,
           |              1.0 / n_chars), 6) AS sample_priority
           |  FROM documents WHERE n_chars > 0),
           |r AS (SELECT *, row_number() OVER (PARTITION BY source
           |        ORDER BY sample_priority DESC, doc_id) AS rn FROM p)
           |SELECT doc_id, source, n_chars, sample_priority
           |FROM r WHERE rn <= 5""".stripMargin
      }),

    // temperature-scaled mixture rates (n^0.5 flattening to a 60k-token
    // budget): the rate table a multilingual/multi-domain recipe derives
    // from corpus masses instead of hand-picking
    Declared("sample_temperature_rates", (s, dir) =>
      Dedup.temperatureMixRates(Tables.documents(s, dir), "source",
        col("n_chars"), alpha = 0.5, budget = 60000L),
      // temperature mixture: share = round(mass^alpha, 6); quotient rounded
      // to the 6-place grid BEFORE the floor so pow/sum last-bit drift can
      // never flip an integer rate between engines
      s"""WITH m AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS mass
         |           FROM documents GROUP BY 1),
         |s AS (SELECT source, mass, round(pow(mass, 0.5), 6) AS share
         |      FROM m WHERE mass > 0)
         |SELECT source, CAST(mass AS BIGINT) AS n_tokens,
         |       CAST(least(100, floor(round(100.0 * 60000 * share /
         |         ((SELECT sum(share) FROM s) * mass), 6))) AS INT) AS pct
         |FROM s""".stripMargin),

    // the sampled corpus under those rates — temperatureMixRates feeding
    // weightedSampleJoined (rate-table join, not a CASE chain)
    Declared("sample_temperature_mix", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.weightedSampleJoined(docs, "doc_id", "source",
        Dedup.temperatureMixRates(docs, "source", col("n_chars"),
          alpha = 0.5, budget = 60000L))
    },
      s"""WITH m AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS mass
         |           FROM documents GROUP BY 1),
         |s AS (SELECT source, mass, round(pow(mass, 0.5), 6) AS share
         |      FROM m WHERE mass > 0),
         |r AS (SELECT source,
         |        CAST(least(100, floor(round(100.0 * 60000 * share /
         |          ((SELECT sum(share) FROM s) * mass), 6))) AS INT) AS pct
         |      FROM s)
         |SELECT d.* FROM documents d JOIN r USING (source)
         |WHERE $HashBucketSql < r.pct""".stripMargin),

    // epoch-aware rates (no single-epoch ceiling, capped at 3 epochs):
    // the budget exceeds the corpus so tail sources land above 100% —
    // i.e. the mixture REPEATS them, the multilingual up-sampling recipe
    Declared("sample_epoch_rates", (s, dir) =>
      Dedup.temperatureMixEpochRates(Tables.documents(s, dir), "source",
        col("n_chars"), alpha = 0.5, budget = 450000L, maxEpochs = 3),
      // epoch rates: same grid-rounded arithmetic, ceiling at 300 (3 epochs)
      s"""WITH m AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS mass
         |           FROM documents GROUP BY 1),
         |s AS (SELECT source, mass, round(pow(mass, 0.5), 6) AS share
         |      FROM m WHERE mass > 0)
         |SELECT source, CAST(mass AS BIGINT) AS n_tokens,
         |       CAST(least(300, floor(round(100.0 * 450000 * share /
         |         ((SELECT sum(share) FROM s) * mass), 6))) AS INT) AS pct
         |FROM s""".stripMargin),

    // the materialized repeated corpus: floor(pct/100) full copies per
    // document plus a deterministic fractional epoch, each tagged with
    // its 0-based `epoch` copy index
    Declared("sample_epoch_mix", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.weightedSampleWithEpochs(docs, "doc_id", "source",
        Dedup.temperatureMixEpochRates(docs, "source", col("n_chars"),
          alpha = 0.5, budget = 450000L, maxEpochs = 3))
    },
      // repeated corpus: full copies via unnest(range(0, n)) — half-open,
      // same index set as Spark sequence(0, n-1) — fractional epoch via
      // the md5 bucket
      s"""WITH m AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS mass
         |           FROM documents GROUP BY 1),
         |s AS (SELECT source, mass, round(pow(mass, 0.5), 6) AS share
         |      FROM m WHERE mass > 0),
         |r AS (SELECT source,
         |        CAST(least(300, floor(round(100.0 * 450000 * share /
         |          ((SELECT sum(share) FROM s) * mass), 6))) AS INT) AS pct
         |      FROM s),
         |j AS (SELECT d.*, CAST(floor(r.pct / 100) AS INT) +
         |        (CASE WHEN $HashBucketSql < r.pct % 100 THEN 1 ELSE 0 END)
         |          AS n_copies
         |      FROM documents d JOIN r USING (source))
         |SELECT j.* EXCLUDE (n_copies),
         |       CAST(unnest(range(0, j.n_copies)) AS INT) AS epoch
         |FROM j WHERE j.n_copies > 0""".stripMargin),

    // deterministic token-budget prefix sample (distributed prefix-sum:
    // per-bucket windows + broadcast offsets, row-identical to the naive
    // global running sum the oracle states)
    Declared("sample_token_budget", (s, dir) =>
      Dedup.tokenBudgetSample(Tables.documents(s, dir), "doc_id",
        "n_chars", budget = 75000L),
      // the naive global running sum the distributed prefix-sum equals:
      // order by (md5 bucket, md5(id), id), keep while the PRECEDING mass
      // is under budget
      s"""SELECT doc_id, n_chars, cum_before FROM (
         |  SELECT doc_id, n_chars,
         |    CAST(coalesce(sum(n_chars) OVER (
         |      ORDER BY $HashBucketSql, md5(CAST(doc_id AS VARCHAR)), doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cum_before
         |  FROM documents)
         |WHERE cum_before < 75000""".stripMargin),

    // the same budget operator with the SUBWORD counter plugged in —
    // "sample exactly 20k BPE tokens", the form ablation budgets take
    Declared("sample_token_budget_bpe", (s, dir) =>
      Dedup.tokenBudgetSample(
        TextAnalysis.withBpeTokens(Tables.documents(s, dir), "text"),
        "doc_id", "n_bpe_tokens", budget = 20000L),
      s"""WITH RECURSIVE $bpeDocTokensCte
         |SELECT doc_id, n_bpe_tokens, cum_before FROM (
         |  SELECT doc_id, n_bpe_tokens,
         |    CAST(coalesce(sum(n_bpe_tokens) OVER (
         |      ORDER BY $HashBucketSql, md5(CAST(doc_id AS VARCHAR)), doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cum_before
         |  FROM docbpe) z
         |WHERE cum_before < 20000""".stripMargin),

    // per-DOMAIN token budgets ("5k chars from the head sources, 2k from
    // the rest") — the mixture-targeted sampling a data recipe specifies
    Declared("sample_token_budget_by", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val budgets = docs.select(col("source")).distinct()
        .withColumn("budget",
          when(col("source").isin("src0", "src1", "src2"), lit(5000L))
            .otherwise(lit(2000L)))
      Dedup.tokenBudgetSampleBy(docs, "doc_id", "n_chars", "source", budgets)
    },
      s"""SELECT source, doc_id, n_chars, cum_before FROM (
         |  SELECT source, doc_id, n_chars,
         |    CAST(coalesce(sum(n_chars) OVER (
         |      PARTITION BY source
         |      ORDER BY $HashBucketSql, md5(CAST(doc_id AS VARCHAR)), doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cum_before
         |  FROM documents) z
         |WHERE cum_before < CASE WHEN source IN ('src0', 'src1', 'src2')
         |                        THEN 5000 ELSE 2000 END""".stripMargin)
  )
}
