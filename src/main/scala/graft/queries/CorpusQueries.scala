package graft.queries

import graft.Tables
import graft.ops.{Corpus, Dedup, HeavyHitters, QualityModel, TextAnalysis}
import graft.pipeline.{Breweries, Pipeline}
import org.apache.spark.sql.functions._
import LlmFixtures._

/** Corpus-release queries: the LLM data-preparation chains (guarded
  * dedup, decontamination, Gopher, classifier, quote removal, publish),
  * corpus shards, splits, vocabularies and data cards, and the medallion
  * pipeline's real writes with read-back.
  */
object CorpusQueries {

  /** Bottom-8 anchor candidates over the RAW documents corpus. */
  private def docAnchorCands(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val tks = docTokens(s, dir)
    BuildMemo.df(s, dir, "docAnchorCands") {
      Dedup.anchorCandidatePairsFrom(tks, 8)
    }
  }

  /** Quote-drop CTE chain over `base` (q-prefixed names — the chain
    * oracles already bind w/sh/cand to the minhash CTEs): bottom-8
    * anchor candidates -> containment verify -> the
    * `dedup_quotes_removed` drop rule. Terminal relation
    * `qdrop(doc_id)`.
    */
  private def quoteDropCtes(base: String, n: Int = 8): String =
    s"""qw AS (SELECT doc_id, string_split(lower(text), ' ') AS ws FROM $base),
       |qsh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
       |       FROM qw, unnest(range(1, greatest(len(ws)-2, 0)+1)) t(i)),
       |qhh AS (SELECT doc_id, s,
       |    CAST(${hexToLongSql("md5(s)", 1, 8)} AS BIGINT) AS ah
       |  FROM qsh),
       |qan AS (SELECT ah, doc_id FROM (
       |    SELECT ah, doc_id, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY ah, s) AS rn FROM qhh)
       |  WHERE rn <= $n),
       |qcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM qan a JOIN qan b ON a.ah = b.ah AND a.doc_id < b.doc_id),
       |qsz AS (SELECT doc_id, count(*) AS c FROM qsh GROUP BY 1),
       |qiv AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
       |       FROM qcand c
       |       JOIN qsh x ON x.doc_id = c.doc_a
       |       JOIN qsh y ON y.doc_id = c.doc_b AND x.s = y.s
       |       GROUP BY 1, 2),
       |qm AS (SELECT doc_a, doc_b,
       |        CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) AS jac,
       |        CAST(inter AS DOUBLE) / sa.c AS ca,
       |        CAST(inter AS DOUBLE) / sb.c AS cb
       |      FROM qiv JOIN qsz sa ON doc_a = sa.doc_id
       |              JOIN qsz sb ON doc_b = sb.doc_id),
       |qql AS (SELECT * FROM qm
       |       WHERE greatest(ca, cb) >= 0.8 AND jac < 0.5
       |         AND greatest(ca, cb) >= 0.5),
       |qdrop AS (SELECT DISTINCT CASE
       |    WHEN ca > cb THEN doc_a
       |    WHEN cb > ca THEN doc_b
       |    ELSE greatest(doc_a, doc_b) END AS doc_id
       |  FROM qql)""".stripMargin

  /** Build-once memo of the GUARDED near-dup funnel's survivor ids
    * (exact collapse -> capped fuzzy keep-first over the raw corpus,
    * the 16/4/0.5/cap-64 release configuration) — r22, VERDICT r21
    * task 5: seven chain faces (guarded/mix/xsub/decon/full/quotes and
    * the publish capstone) re-ran the identical funnel per query. In
    * production the dedup manifest is exactly such an artifact: built
    * once per release, consumed by every downstream stage. Stored as
    * the id SET (one long per survivor) so the memo holds manifest
    * bytes, not corpus text; each face re-attaches its own corpus
    * columns with a semi-join, which reproduces `nearDupKeepFirst`'s
    * rows bit-identically (keep-first drops rows, never edits them).
    */
  private def guardedKeptIds(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame =
    BuildMemo.df(s, dir, "guardedKeptIds") {
      Dedup.nearDupKeepFirst(Tables.documents(s, dir), "doc_id",
          numHashes = 16, bands = 4, threshold = 0.5, maxBucketSize = 64)
        .select(col("doc_id"))
    }

  /** The guarded funnel's surviving corpus rows (see [[guardedKeptIds]]). */
  private def guardedKept(s: org.apache.spark.sql.SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir)
      .join(guardedKeptIds(s, dir), Seq("doc_id"), "left_semi")

  /** Build-once memo of the substring-dedup DROP set (w = 20 over the
    * raw corpus) — the id manifest of documents flagged by the exact-
    * substring stage, shared by `llm_dedup_funnel` and
    * `llm_corpus_prep_xsub` (r22, the [[contamFlagged]] pattern: the
    * flag set is a corpus-level property computed from the RAW corpus,
    * independent of what earlier stages removed, and intersected by
    * anti-join downstream). The declared `text_substring_*` queries
    * keep their computation inline — only this derived drop manifest
    * is memoized.
    */
  private def substrDropIds(s: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame =
    BuildMemo.df(s, dir, "substrDropIds") {
      TextAnalysis.substringDupStats(Tables.documents(s, dir),
          "doc_id", "text", w = 20)
        .filter(col("dropped")).select(col("doc_id"))
    }

  /** Build-once memo of the benchmark-contamination report (raw corpus
    * vs the src9 benchmark slice, n = 8) — the decon flag relation four
    * chain faces derive identically (r22, VERDICT r21 task 5).
    */
  private def contamFlagged(s: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame =
    BuildMemo.df(s, dir, "contamFlagged") {
      val docs = Tables.documents(s, dir)
      TextAnalysis.contaminationReport(docs,
        docs.filter(col("source") === "src9"), "doc_id", "text", n = 8)
    }

  /** Build-once memo of the classifier top-half gate's id set (train on
    * the memoized feature sketch, score, keep the top 0.5 quantile) —
    * the deployed model's KEPT MANIFEST, shared by the full/quotes
    * chains and the publish capstone (r22). The declared `text_qclf_*`
    * queries keep training inline — a declared result is never memoized,
    * only this derived gate artifact is.
    */
  private def qclfTopIds(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame =
    BuildMemo.df(s, dir, "qclfTopIds") {
      val sk = qclfSketch(s, dir)
      val w = QualityModel.trainHashedLogRegWith(sk, "doc_id", lr = 0.5,
        iters = 3)
      QualityModel.keepTopScoredWith(Tables.documents(s, dir), "doc_id",
        sk, w, quantile = 0.5).select(col("doc_id"))
    }

  /** The full release chain (guarded fuzzy dedup -> decon -> Gopher ->
    * classifier top-half -> curation), shared by `llm_corpus_prep_full`
    * and the publish capstone. Scores ride the RAW corpus (the
    * decon-flags trick) so the expensive dedup subtree never re-executes
    * inside the scoring pass; the feature sketch is the session memo
    * shared with `text_qclf_*` — one tokenize+hash pass per SESSION.
    */
  private def prepFullReleased(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame = {
    val kept = guardedKept(s, dir)
    val clean = TextAnalysis.removeFlagged(kept, contamFlagged(s, dir),
      "doc_id")
    val gated = TextAnalysis.gopherFilter(clean, "doc_id", "text",
      requireStopWords = false)
    val released = gated.join(qclfTopIds(s, dir), Seq("doc_id"), "left_semi")
    TextAnalysis.curationFilter(released, "doc_id", "text",
      minTokens = 20, maxTokens = 2000, minQuality = 0.1,
      maxRepetition = 0.2, keepLang = "en")
  }

  /** The release chain WITH the quote-removal stage composed between
    * fuzzy dedup and decon — where a real pretraining chain strips
    * embedded quotes/boilerplate. The quote-drop set rides the RAW
    * corpus (the decon-flags pattern: quote-ness is a corpus-level
    * property — a doc embedded in a near-dup's keeper is still a quote
    * — and flags-from-raw keep the chain ONE lazy plan with no
    * re-execution of the dedup subtree). Drop rule = the
    * `dedup_quotes_removed` rule: the side with the HIGHER containment
    * (its shingles are the intersection), ties to the higher id.
    */
  private def prepQuotesReleased(s: org.apache.spark.sql.SparkSession,
                                 dir: String): org.apache.spark.sql.DataFrame = {
    val kept = guardedKept(s, dir)
    val qpairs = Dedup.containmentPairsFrom(docDocTokens(s, dir),
        docAnchorCands(s, dir), threshold = 0.5)
      .filter(col("quote_like") === 1)
    val qdrop = qpairs.select(
      when(col("cont_a_in_b") > col("cont_b_in_a"), col("doc_a"))
        .when(col("cont_b_in_a") > col("cont_a_in_b"), col("doc_b"))
        .otherwise(greatest(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val unquoted = kept.join(qdrop, Seq("doc_id"), "left_anti")
    val clean = TextAnalysis.removeFlagged(unquoted, contamFlagged(s, dir),
      "doc_id")
    val gated = TextAnalysis.gopherFilter(clean, "doc_id", "text",
      requireStopWords = false)
    val released = gated.join(qclfTopIds(s, dir), Seq("doc_id"), "left_semi")
    TextAnalysis.curationFilter(released, "doc_id", "text",
      minTokens = 20, maxTokens = 2000, minQuality = 0.1,
      maxRepetition = 0.2, keepLang = "en")
  }

  val declared: Seq[Declared] = Seq(
    // the full curriculum schedule over those tiers: a global training
    // order (tier ascending, md5-shuffled within tier) whose position
    // is assigned via range-bucket offsets, never a global sort
    Declared("llm_curriculum", (s, dir) =>
      graft.ops.Corpus.curriculum(
        TextAnalysis.qualityTiers(Tables.documents(s, dir), "doc_id", "text"),
        "doc_id"),
      qualityTiersSql(
        s"""SELECT doc_id, tier,
           |  ${hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, 15)}
           |    AS shuffle_key,
           |  CAST(row_number() OVER (
           |    ORDER BY tier,
           |      ${hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, 15)},
           |      doc_id) AS BIGINT) AS position
           |FROM tiers""".stripMargin)),

    // end-to-end corpus prep: fuzzy near-dup removal (cluster keep-first)
    // feeding the curation filter — the composition a training-data
    // pipeline actually ships, as ONE lazy plan
    Declared("llm_corpus_prep", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val kept = Dedup.fuzzyKeepFirst(docs,
        Dedup.fuzzy(docs, "doc_id", numHashes = 16, bands = 4, threshold = 0.5),
        "doc_id")
      TextAnalysis.curationFilter(kept, "doc_id", "text",
        minTokens = 20, maxTokens = 2000, minQuality = 0.1,
        maxRepetition = 0.2, keepLang = "en")
    },
      // end-to-end corpus prep: fuzzy dedup (keep-first) THEN curation —
      // one composed plan, one composed oracle
      s"""WITH RECURSIVE $ClusterCtes,
         |kept AS (SELECT * FROM documents
         |         WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> keeper)),
         |${curationCtes("kept")}
         |$CurationSelect""".stripMargin),

    // the post-round-5 canonical composition: exact collapse -> fuzzy
    // keep-first with the hot-bucket backstop armed -> curation — what a
    // production ingest actually deploys after the flood-guard work
    Declared("llm_corpus_prep_guarded", (s, dir) => {
      val kept = guardedKept(s, dir)
      TextAnalysis.curationFilter(kept, "doc_id", "text",
        minTokens = 20, maxTokens = 2000, minQuality = 0.1,
        maxRepetition = 0.2, keepLang = "en")
    },
      // exact collapse -> fuzzy cluster keep-first over the collapsed
      // corpus -> curation (the guarded composition; the cap never fires on
      // the fixture, so the oracle is the uncapped pipeline)
      s"""WITH RECURSIVE x0 AS (
         |  SELECT * FROM documents
         |  WHERE doc_id IN (SELECT min(doc_id) FROM documents
         |                   GROUP BY md5(lower(text)))),
         |${fuzzyCtes("x0")},
         |${clusterWalkCtes("ver")},
         |kept AS (SELECT * FROM x0
         |         WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> keeper)),
         |${curationCtes("kept")}
         |$CurationSelect""".stripMargin),

    // reproducible global shuffle + sharding (the final training-data
    // layout; per-shard windows, no global sort)
    Declared("corpus_shuffle_shards", (s, dir) =>
      Corpus.shuffleShards(Tables.documents(s, dir), "doc_id", nShards = 10),
      s"""WITH k AS (SELECT doc_id,
         |  CAST(${hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, 15)}
         |    AS BIGINT) AS shuffle_key
         |  FROM documents),
         |s AS (SELECT doc_id, shuffle_key,
         |        CAST(shuffle_key % 10 AS INT) AS shard FROM k)
         |SELECT doc_id, shuffle_key, shard,
         |  CAST(row_number() OVER (PARTITION BY shard
         |    ORDER BY shuffle_key, doc_id) AS INT) AS pos
         |FROM s""".stripMargin),

    // whitespace/control-run normalization (raw-crawl text hygiene)
    Declared("corpus_normalize", (s, dir) =>
      Corpus.normalize(Tables.documents(s, dir), "doc_id", "text"),
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '[\x00-\x20]+', ' ', 'g'))
        |    AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text,
        |  CAST(length(norm_text) AS INT) AS n_chars_norm
        |FROM n""".stripMargin),

    // top-20 corpus vocabulary (token totals + doc frequency, Expand-free)
    Declared("corpus_vocab", (s, dir) =>
      Corpus.vocab(Tables.documents(s, dir), "doc_id", "text", topN = 20),
      """WITH t AS (SELECT doc_id,
        |             unnest(string_split(lower(text), ' ')) AS token
        |           FROM documents),
        |dt AS (SELECT doc_id, token, count(*) AS c FROM t GROUP BY 1, 2)
        |SELECT token, CAST(sum(c) AS BIGINT) AS n_total,
        |  CAST(count(*) AS INT) AS n_docs
        |FROM dt GROUP BY 1
        |ORDER BY n_total DESC, token LIMIT 20""".stripMargin),

    // vocab's bounded-state face: Misra-Gries heavy tokens over the
    // exploded token stream (k=28 < |vocab|, so partition counters
    // actually evict). At 100 TB the exact vocab group-by shuffles
    // billions of distinct tokens; the sketch shuffles k rows/partition.
    Declared("corpus_token_heavy_hitters", (s, dir) => {
      val s2 = s
      graft.functions.GraftFunctions.register(s2)
      val toks = Tables.documents(s2, dir).select(
        explode(call_function("graft_word_grams", lower(col("text")),
          lit(1), lit(false), lit(true))).as("tok"))
      HeavyHitters.audit(toks, "tok", k = 28)
    },
      """WITH t AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS key
        |  FROM documents),
        |x AS (SELECT key, count(*) AS exact_cnt FROM t GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM t)
        |SELECT key, exact_cnt, true AS present_in_sketch,
        |  true AS est_within_bound
        |FROM x, n WHERE exact_cnt * 29 > n""".stripMargin),

    // the release data card: per (source, lang) slice — doc/distinct
    // counts, dup rate, char+token totals, length extremes, token share
    Declared("corpus_data_card", (s, dir) =>
      Corpus.dataCard(Tables.documents(s, dir), "source", "lang"),
      """WITH t AS (SELECT source, lang,
        |    CAST(length(text) AS BIGINT) AS ch,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |             x -> x <> '')) AS BIGINT) AS tk,
        |    md5(lower(text)) AS h
        |  FROM documents),
        |g AS (SELECT source, lang,
        |    count(*) AS n_docs,
        |    count(DISTINCT h) AS n_distinct_texts,
        |    CAST(sum(ch) AS BIGINT) AS total_chars,
        |    CAST(sum(tk) AS BIGINT) AS total_tokens,
        |    min(ch) AS min_chars, max(ch) AS max_chars,
        |    round(avg(tk), 6) AS avg_tokens
        |  FROM t GROUP BY 1, 2)
        |SELECT source, lang, n_docs, n_distinct_texts, total_chars,
        |  total_tokens, min_chars, max_chars, avg_tokens,
        |  round(1.0 - CAST(n_distinct_texts AS DOUBLE) / n_docs, 6)
        |    AS dup_rate,
        |  round(CAST(total_tokens AS DOUBLE)
        |        / (sum(total_tokens) OVER ()), 6) AS token_share
        |FROM g""".stripMargin),

    // the card's bounded-state distinct face: HLL++ estimates audited
    // against the exact counts per slice (|approx - exact| <= 4*rsd*
    // exact) — the oracle predicts all-true
    Declared("corpus_data_card_sketch", (s, dir) =>
      Corpus.dataCardSketchAudit(Tables.documents(s, dir),
        "source", "lang"),
      """SELECT source, lang, count(*) AS n_docs,
        |  true AS distinct_within_tol
        |FROM documents GROUP BY 1, 2""".stripMargin),

    // deterministic train/val/test assignment (5% val, 5% test on the
    // md5 bucket — a doc's split never changes as the corpus grows)
    Declared("corpus_split", (s, dir) =>
      Corpus.trainValTestSplit(Tables.documents(s, dir), "doc_id",
          valPct = 5, testPct = 5)
        .select(col("doc_id"), col("lang"), col("split")),
      s"""SELECT doc_id, lang,
         |  CASE WHEN $HashBucketSql < 5 THEN 'val'
         |       WHEN $HashBucketSql < 10 THEN 'test'
         |       ELSE 'train' END AS split
         |FROM documents""".stripMargin),

    // eval-integrity: val/test docs whose exact content also sits in
    // train (id-hash splits leak DUPLICATED content across sides). The
    // fixture is exact-dup-free, so every 10th doc is re-crawled under
    // a shifted id — the scenario the check exists for
    Declared("corpus_split_leakage", (s, dir) => {
      val d = Tables.documents(s, dir)
      val recrawl = d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000L)
      Corpus.splitLeakage(d.unionByName(recrawl), "doc_id", "text",
        valPct = 5, testPct = 5)
    },
      s"""WITH u AS (SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, text FROM documents
         |  WHERE doc_id % 10 = 0),
         |s AS (SELECT doc_id, md5(lower(text)) AS h,
         |    CASE WHEN $HashBucketSql < 5 THEN 'val'
         |         WHEN $HashBucketSql < 10 THEN 'test'
         |         ELSE 'train' END AS split
         |  FROM u),
         |tr AS (SELECT h, doc_id AS train_id FROM s WHERE split = 'train'),
         |ev AS (SELECT h, doc_id AS eval_id, split FROM s
         |       WHERE split <> 'train')
         |SELECT ev.eval_id, ev.split, count(*) AS n_train_dups,
         |       min(tr.train_id) AS first_train_dup
         |FROM ev JOIN tr ON ev.h = tr.h
         |GROUP BY 1, 2""".stripMargin),

    // set-level content overlap between the same two releases:
    // intersection, Jaccard and both containments in one row
    Declared("corpus_release_overlap", (s, dir) => {
      val d = Tables.documents(s, dir)
      val old = d.filter(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" legacy"))).otherwise(col("text")))
      Corpus.releaseOverlap(old, d.filter(col("doc_id") % 17 =!= 0))
    },
      """WITH o AS (SELECT DISTINCT md5(
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' legacy'
        |         ELSE text END) AS h
        |  FROM documents WHERE doc_id % 11 <> 0),
        |n AS (SELECT DISTINCT md5(text) AS h
        |  FROM documents WHERE doc_id % 17 <> 0),
        |x AS (SELECT
        |    (SELECT count(*) FROM o) AS n_old,
        |    (SELECT count(*) FROM n) AS n_new,
        |    (SELECT count(*) FROM o JOIN n ON o.h = n.h) AS n_common)
        |SELECT n_old, n_new, n_common,
        |  round(CAST(n_common AS DOUBLE)
        |        / (n_old + n_new - n_common), 6) AS jaccard,
        |  round(CAST(n_common AS DOUBLE) / n_old, 6) AS containment_old,
        |  round(CAST(n_common AS DOUBLE) / n_new, 6) AS containment_new
        |FROM x""".stripMargin),

    // the release integrity manifest: per shard, counts + bytes + a
    // deterministic checksum over id-ordered member content hashes
    Declared("corpus_shard_manifest", (s, dir) =>
      Corpus.shardManifest(Tables.documents(s, dir), "doc_id", "text",
        nShards = 8),
      {
        val h60 = hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, 15)
        s"""WITH s AS (SELECT doc_id,
           |    CAST(CAST($h60 AS BIGINT) % 8 AS INT) AS shard,
           |    md5(text) AS h, CAST(length(text) AS BIGINT) AS len
           |  FROM documents)
           |SELECT shard, count(*) AS n_docs,
           |  CAST(sum(len) AS BIGINT) AS n_chars,
           |  md5(string_agg(h, ',' ORDER BY doc_id)) AS checksum
           |FROM s GROUP BY 1""".stripMargin
      }),

    // vocabulary drift between the same two releases: top-20 token
    // frequency movers (the bad-ingest / scraper-regression detector)
    Declared("corpus_vocab_drift", (s, dir) => {
      val d = Tables.documents(s, dir)
      val old = d.filter(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" legacy"))).otherwise(col("text")))
      val next = d.filter(col("doc_id") % 17 =!= 0)
      Corpus.vocabDrift(old, next, "text", topN = 20)
    },
      """WITH ow AS (SELECT unnest(string_split(lower(
        |      CASE WHEN doc_id % 13 = 0 THEN text || ' legacy'
        |           ELSE text END), ' ')) AS token
        |  FROM documents WHERE doc_id % 11 <> 0),
        |oc AS (SELECT token, count(*) AS n_old FROM ow GROUP BY 1),
        |nw AS (SELECT unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents WHERE doc_id % 17 <> 0),
        |nc AS (SELECT token, count(*) AS n_new FROM nw GROUP BY 1),
        |j AS (SELECT coalesce(oc.token, nc.token) AS token,
        |        CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
        |        CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
        |      FROM oc FULL OUTER JOIN nc ON oc.token = nc.token),
        |t AS (SELECT CAST(sum(n_old) AS DOUBLE) AS toto,
        |             CAST(sum(n_new) AS DOUBLE) AS totn FROM j),
        |d AS (SELECT token, n_old, n_new,
        |        round(n_old / t.toto, 6) AS p_old,
        |        round(n_new / t.totn, 6) AS p_new
        |      FROM j, t)
        |SELECT token, n_old, n_new, p_old, p_new,
        |       round(p_new - p_old, 6) AS drift
        |FROM d
        |ORDER BY abs(round(p_new - p_old, 6)) DESC, token
        |LIMIT 20""".stripMargin),

    // release-to-release content diff: old = the corpus minus every 11th
    // doc with a simulated legacy edit on every 13th; new = the corpus
    // minus every 17th — per id, added/removed/changed/unchanged
    Declared("corpus_release_diff", (s, dir) => {
      val d = Tables.documents(s, dir)
      val old = d.filter(col("doc_id") % 11 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" legacy"))).otherwise(col("text")))
      val next = d.filter(col("doc_id") % 17 =!= 0)
      Corpus.releaseDiff(old, next, "doc_id")
    },
      """WITH o AS (SELECT doc_id,
        |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' legacy'
        |             ELSE text END) AS h
        |  FROM documents WHERE doc_id % 11 <> 0),
        |n AS (SELECT doc_id, md5(text) AS h
        |  FROM documents WHERE doc_id % 17 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.h = n.h THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin),

    // the full training-data release chain: exact collapse -> guarded
    // fuzzy keep-first -> benchmark decontamination (src9 = the eval set,
    // so its own docs and anything overlapping them drop) -> curation.
    // Flags are computed from the RAW corpus (dedup-independent; the
    // anti-join intersects them with the kept set) so the dedup subtree
    // never re-executes inside the eager flag pass
    Declared("llm_corpus_prep_decon", (s, dir) => {
      val kept = guardedKept(s, dir)
      val clean = TextAnalysis.removeFlagged(kept, contamFlagged(s, dir),
        "doc_id")
      TextAnalysis.curationFilter(clean, "doc_id", "text",
        minTokens = 20, maxTokens = 2000, minQuality = 0.1,
        maxRepetition = 0.2, keepLang = "en")
    },
      // exact collapse -> fuzzy keep-first -> decontaminate vs the src9
      // benchmark (src9's own docs flag themselves and drop) -> curation
      s"""WITH RECURSIVE x0 AS (
         |  SELECT * FROM documents
         |  WHERE doc_id IN (SELECT min(doc_id) FROM documents
         |                   GROUP BY md5(lower(text)))),
         |${fuzzyCtes("x0")},
         |${clusterWalkCtes("ver")},
         |kept AS (SELECT * FROM x0
         |         WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> keeper)),
         |dg AS (${ngramRowsSql("kept", 8)}),
         |bg AS (SELECT DISTINCT s FROM (
         |  ${ngramRowsSql("(SELECT * FROM documents WHERE source = 'src9')", 8)})),
         |fl AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bg USING (s)),
         |decon AS (SELECT * FROM kept
         |          WHERE doc_id NOT IN (SELECT doc_id FROM fl)),
         |${curationCtes("decon")}
         |$CurationSelect""".stripMargin),

    // the release chain with the r13 exact-substring stage folded in:
    // exact collapse -> guarded fuzzy keep-first -> substring-dedup
    // removal -> decontamination -> curation. Substring flags use the
    // decon-flags trick (computed ONCE on the RAW corpus — a doc shares
    // a >= w-token run with a lower id or it doesn't, independent of
    // what earlier stages removed — then intersected by anti-join), and
    // the flag relation is eagerly cut + anti-joined WITHOUT a broadcast
    // hint: under heavy duplication it is corpus-scale, unlike the
    // contamination-sized decon flags.
    // the TRAINING LAYOUT capstone: chunk (16-token windows, overlap 8)
    // -> deterministic shard assignment (md5 of the chunk uid) ->
    // per-shard sequence packing into 256-token bins, ONE lazy plan —
    // the manifest a pretraining-prep job writes after curation
    Declared("llm_training_layout", (s, dir) => {
      val chunks = TextAnalysis.chunkDocuments(Tables.documents(s, dir),
          "doc_id", "text", chunkTokens = 16, overlap = 8)
        .withColumn("chunk_uid",
          TextAnalysis.chunkUid(col("doc_id"), col("chunk_idx")))
        .withColumn("shard",
          (Dedup.hashBucket(col("chunk_uid")) % 8).cast("int"))
        .withColumn("n_tokens", col("n_tokens").cast("long"))
      TextAnalysis.packBinsSharded(chunks, "shard", "chunk_uid",
        "n_tokens", capacity = 256)
    },
      // the xsub chain: fuzzy-kept minus raw-corpus substring flags minus
      // contamination flags, then curation
      {
        val uidHex = hexToLongSql("md5(CAST(chunk_uid AS VARCHAR))", 1, 8)
        s"""WITH t AS (SELECT doc_id,
           |    list_filter(regexp_split_to_array(text, '\\s+'),
           |                x -> x <> '') AS toks
           |  FROM documents),
           |b AS (SELECT doc_id, len(toks) AS n,
           |    CAST(ceil(CAST(greatest(len(toks) - 8, 1) AS DOUBLE) / 8)
           |         AS INT) AS k
           |  FROM t WHERE len(toks) > 0),
           |ch AS (SELECT doc_id * 1048576 + i AS chunk_uid,
           |         CAST(least(16, n - i * 8) AS BIGINT) AS n_tokens
           |       FROM b, unnest(range(0, k)) u(i)),
           |sh AS (SELECT chunk_uid, n_tokens,
           |         CAST((CAST($uidHex AS BIGINT) % 100) % 8 AS INT) AS shard
           |       FROM ch),
           |cb AS (SELECT shard, chunk_uid, n_tokens,
           |         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
           |           ORDER BY chunk_uid ROWS BETWEEN UNBOUNDED PRECEDING
           |           AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
           |       FROM sh)
           |SELECT shard, chunk_uid, n_tokens, cum_before,
           |  shard || ':' || CAST(floor(cum_before / 256) AS BIGINT) AS bin
           |FROM cb""".stripMargin
      }),

    // the dedup FUNNEL: release accounting of how many documents (and
    // chars) survive each stage — raw -> exact collapse -> guarded
    // fuzzy -> substring. The number a data team publishes next to
    // every release ("dedup removed X%"); stages are the identical
    // operators the chains run, checkpointed so each runs once
    Declared("llm_dedup_funnel", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val collapsed = Dedup.exactKeepFirst(docs, "doc_id", "text")
        .localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      // stage 3 = the guarded release funnel (exact collapse -> capped
      // fuzzy keep-first, 16/4/0.5/cap-64) — the IDENTICAL composition
      // behind [[guardedKeptIds]], so the funnel report rides the same
      // session manifest the seven chain faces consume (r22; keep-first
      // drops rows, never edits them, so the semi-join reproduces the
      // inline composition's rows bit-identically). Stage 2's exact
      // collapse stays inline: its count/chars are stage outputs.
      val kept = guardedKept(s, dir)
      val substrFlagged = substrDropIds(s, dir)
      val unsub = kept.join(substrFlagged,
        kept("doc_id") === substrFlagged("doc_id"), "left_anti")
      def stage(i: Int, name: String,
                df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"))
          .select(lit(i).as("stage"), lit(name).as("stage_name"),
            col("n_docs"), col("n_chars"))
      val all = stage(1, "raw", docs)
        .union(stage(2, "exact", collapsed))
        .union(stage(3, "fuzzy", kept))
        .union(stage(4, "substring", unsub))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("stage"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      all.withColumn("pct_docs",
        round(col("n_docs").cast("double") / first(col("n_docs")).over(w), 6))
    },
      s"""WITH RECURSIVE x0 AS (
         |  SELECT * FROM documents
         |  WHERE doc_id IN (SELECT min(doc_id) FROM documents
         |                   GROUP BY md5(lower(text)))),
         |${fuzzyCtes("x0")},
         |${clusterWalkCtes("ver")},
         |kept AS (SELECT * FROM x0
         |         WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> keeper)),
         |ssh AS (${ngramRowsSql("documents", 20)}),
         |sown AS (SELECT s, min(doc_id) AS own FROM ssh GROUP BY 1),
         |sfl AS (SELECT DISTINCT ssh.doc_id FROM ssh JOIN sown USING (s)
         |        WHERE ssh.doc_id <> sown.own),
         |unsub AS (SELECT * FROM kept
         |          WHERE doc_id NOT IN (SELECT doc_id FROM sfl)),
         |f AS (
         |  SELECT 1 AS stage, 'raw' AS stage_name, count(*) AS n_docs,
         |         CAST(sum(n_chars) AS BIGINT) AS n_chars FROM documents
         |  UNION ALL
         |  SELECT 2, 'exact', count(*), CAST(sum(n_chars) AS BIGINT) FROM x0
         |  UNION ALL
         |  SELECT 3, 'fuzzy', count(*), CAST(sum(n_chars) AS BIGINT) FROM kept
         |  UNION ALL
         |  SELECT 4, 'substring', count(*), CAST(sum(n_chars) AS BIGINT)
         |  FROM unsub)
         |SELECT stage, stage_name, n_docs, n_chars,
         |  round(CAST(n_docs AS DOUBLE) /
         |    first(n_docs) OVER (ORDER BY stage
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
         |    6) AS pct_docs
         |FROM f""".stripMargin),

    Declared("llm_corpus_prep_xsub", (s, dir) => {
      val kept = guardedKept(s, dir)
      // the substring drop manifest rides the session memo shared with
      // llm_dedup_funnel (r22) — same relation, one build per session
      val substrFlagged = substrDropIds(s, dir)
      val unsub = kept.join(substrFlagged,
        kept("doc_id") === substrFlagged("doc_id"), "left_anti")
      val clean = TextAnalysis.removeFlagged(unsub, contamFlagged(s, dir),
        "doc_id")
      TextAnalysis.curationFilter(clean, "doc_id", "text",
        minTokens = 20, maxTokens = 2000, minQuality = 0.1,
        maxRepetition = 0.2, keepLang = "en")
    },
      s"""WITH RECURSIVE x0 AS (
         |  SELECT * FROM documents
         |  WHERE doc_id IN (SELECT min(doc_id) FROM documents
         |                   GROUP BY md5(lower(text)))),
         |${fuzzyCtes("x0")},
         |${clusterWalkCtes("ver")},
         |kept AS (SELECT * FROM x0
         |         WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> keeper)),
         |ssh AS (${ngramRowsSql("documents", 20)}),
         |sown AS (SELECT s, min(doc_id) AS own FROM ssh GROUP BY 1),
         |sfl AS (SELECT DISTINCT ssh.doc_id FROM ssh JOIN sown USING (s)
         |        WHERE ssh.doc_id <> sown.own),
         |unsub AS (SELECT * FROM kept
         |          WHERE doc_id NOT IN (SELECT doc_id FROM sfl)),
         |dg AS (${ngramRowsSql("unsub", 8)}),
         |bg AS (SELECT DISTINCT s FROM (
         |  ${ngramRowsSql("(SELECT * FROM documents WHERE source = 'src9')", 8)})),
         |fl AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bg USING (s)),
         |decon AS (SELECT * FROM unsub
         |          WHERE doc_id NOT IN (SELECT doc_id FROM fl)),
         |${curationCtes("decon")}
         |$CurationSelect""".stripMargin),

    // the release chain COMPLETED WITH ITS MIXTURE STAGE (r13 verdict
    // task 7): guarded dedup -> curation -> temperature-scaled domain
    // rates DERIVED FROM THE RELEASED CORPUS -> weighted sampling. The
    // curated id set is eagerly checkpointed (the xsub pattern) so the
    // expensive dedup+curation subtree executes ONCE even though both
    // the rate aggregate and the sampled side read the released
    // relation — the deployed shape: materialize the release manifest,
    // then derive and apply the mixture from it. The sampler is the
    // broadcast rate-table join (never a corpus-side shuffle); output
    // is the mixed corpus rows.
    Declared("llm_corpus_prep_mix", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val kept = guardedKept(s, dir)
      val curatedIds = TextAnalysis.curationFilter(kept, "doc_id", "text",
          minTokens = 20, maxTokens = 2000, minQuality = 0.1,
          maxRepetition = 0.2, keepLang = "en")
        .select(col("doc_id")).localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val released = docs.join(curatedIds, Seq("doc_id"), "left_semi")
      Dedup.weightedSampleJoined(released, "doc_id", "source",
        Dedup.temperatureMixRates(released, "source", col("n_chars"),
          alpha = 0.5, budget = 30000L))
    },
      // chain + mixture: the guarded/curation CTEs feed a released
      // relation; temperature rates (6-place grid before the floor, the
      // sample_temperature_* convention) derive from THAT relation and
      // gate the md5 bucket
      s"""WITH RECURSIVE x0 AS (
         |  SELECT * FROM documents
         |  WHERE doc_id IN (SELECT min(doc_id) FROM documents
         |                   GROUP BY md5(lower(text)))),
         |${fuzzyCtes("x0")},
         |${clusterWalkCtes("ver")},
         |kept AS (SELECT * FROM x0
         |         WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> keeper)),
         |${curationCtes("kept")},
         |rel AS (SELECT d.* FROM documents d
         |        WHERE d.doc_id IN (SELECT doc_id FROM cs
         |          WHERE n_tokens BETWEEN 20 AND 2000 AND quality_score >= 0.1
         |            AND rep_ratio <= 0.2 AND predicted_lang = 'en')),
         |mixm AS (SELECT source, CAST(sum(n_chars) AS DOUBLE) AS mass
         |         FROM rel GROUP BY 1),
         |mixs AS (SELECT source, mass, round(pow(mass, 0.5), 6) AS share
         |         FROM mixm WHERE mass > 0),
         |mixr AS (SELECT source,
         |          CAST(least(100, floor(round(100.0 * 30000 * share /
         |            ((SELECT sum(share) FROM mixs) * mass), 6))) AS INT) AS pct
         |        FROM mixs)
         |SELECT rel.* FROM rel JOIN mixr USING (source)
         |WHERE $HashBucketSql < mixr.pct""".stripMargin),

    // the COMPLETE 2024-era release chain as one lazy plan: exact
    // collapse -> guarded fuzzy keep-first -> benchmark decontamination
    // -> Gopher format gate (stopword rule off: synthetic fixture text
    // has no natural English) -> classifier top-half gate (kept-fraction
    // deploy) -> curation
    Declared("llm_corpus_prep_full", (s, dir) => prepFullReleased(s, dir),
      // the full release chain: decon CTEs -> gopher gate subquery ->
      // classifier median gate (trained on the RAW corpus by qclfCtes,
      // scored over the gated relation) -> curation
      {
        val feat = s"${hexToLongSql("md5(w)", 1, 8)} % 64"
        s"""WITH RECURSIVE x0 AS (
           |  SELECT * FROM documents
           |  WHERE doc_id IN (SELECT min(doc_id) FROM documents
           |                   GROUP BY md5(lower(text)))),
           |${fuzzyCtes("x0")},
           |${clusterWalkCtes("ver")},
           |kept AS (SELECT * FROM x0
           |         WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> keeper)),
           |dg AS (${ngramRowsSql("kept", 8)}),
           |bg AS (SELECT DISTINCT s FROM (
           |  ${ngramRowsSql("(SELECT * FROM documents WHERE source = 'src9')", 8)})),
           |fl AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bg USING (s)),
           |decon AS (SELECT * FROM kept
           |          WHERE doc_id NOT IN (SELECT doc_id FROM fl)),
           |gated AS (SELECT * FROM ${gopherGateSql("decon")}),
           |${qclfCtes(3)},
           |sb0 AS (SELECT DISTINCT doc_id, $feat AS feature
           |        FROM (SELECT doc_id,
           |                unnest(string_split(lower(text), ' ')) AS w
           |              FROM documents)),
           |sb AS (SELECT * FROM sb0
           |       UNION ALL
           |       SELECT DISTINCT doc_id, -1 AS feature FROM sb0),
           |scd AS (SELECT sb.doc_id,
           |          ${grid6Sql("sum(coalesce(w3.w, 0.0))")} AS dot
           |        FROM sb LEFT JOIN w3 USING (feature) GROUP BY 1),
           |qsc AS (SELECT doc_id, ${grid6Sql("1.0 / (1.0 + exp(-dot))")} AS score
           |        FROM scd),
           |qcut AS (SELECT ${grid6Sql("quantile_cont(score, 0.5)")} AS c FROM qsc),
           |topd AS (SELECT g.* FROM gated g JOIN qsc USING (doc_id), qcut
           |         WHERE qsc.score >= qcut.c),
           |${curationCtes("topd")}
           |$CurationSelect""".stripMargin
      }),

    // the chain with quote/boilerplate removal composed between fuzzy
    // dedup and decon (r15 verdict task 2): exact collapse -> guarded
    // fuzzy keep-first -> containment quote drop (anchor blocking, raw-
    // corpus flags) -> decon -> Gopher -> classifier top-half -> curation
    Declared("llm_corpus_prep_quotes", (s, dir) => prepQuotesReleased(s, dir),
      // prep_full with the quote-drop stage between fuzzy dedup and decon;
      // the drop set derives from the RAW corpus on both sides
      {
        val feat = s"${hexToLongSql("md5(w)", 1, 8)} % 64"
        s"""WITH RECURSIVE x0 AS (
           |  SELECT * FROM documents
           |  WHERE doc_id IN (SELECT min(doc_id) FROM documents
           |                   GROUP BY md5(lower(text)))),
           |${fuzzyCtes("x0")},
           |${clusterWalkCtes("ver")},
           |kept AS (SELECT * FROM x0
           |         WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> keeper)),
           |${quoteDropCtes("documents")},
           |unq AS (SELECT * FROM kept
           |        WHERE doc_id NOT IN (SELECT doc_id FROM qdrop)),
           |dg AS (${ngramRowsSql("unq", 8)}),
           |bg AS (SELECT DISTINCT s FROM (
           |  ${ngramRowsSql("(SELECT * FROM documents WHERE source = 'src9')", 8)})),
           |fl AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bg USING (s)),
           |decon AS (SELECT * FROM unq
           |          WHERE doc_id NOT IN (SELECT doc_id FROM fl)),
           |gated AS (SELECT * FROM ${gopherGateSql("decon")}),
           |${qclfCtes(3)},
           |sb0 AS (SELECT DISTINCT doc_id, $feat AS feature
           |        FROM (SELECT doc_id,
           |                unnest(string_split(lower(text), ' ')) AS w
           |              FROM documents)),
           |sb AS (SELECT * FROM sb0
           |       UNION ALL
           |       SELECT DISTINCT doc_id, -1 AS feature FROM sb0),
           |scd AS (SELECT sb.doc_id,
           |          ${grid6Sql("sum(coalesce(w3.w, 0.0))")} AS dot
           |        FROM sb LEFT JOIN w3 USING (feature) GROUP BY 1),
           |qsc AS (SELECT doc_id, ${grid6Sql("1.0 / (1.0 + exp(-dot))")} AS score
           |        FROM scd),
           |qcut AS (SELECT ${grid6Sql("quantile_cont(score, 0.5)")} AS c FROM qsc),
           |topd AS (SELECT g.* FROM gated g JOIN qsc USING (doc_id), qcut
           |         WHERE qsc.score >= qcut.c),
           |${curationCtes("topd")}
           |$CurationSelect""".stripMargin
      }),

    // THE release capstone: the full curated chain's survivors
    // physically published as a shard-partitioned parquet release with
    // read-back manifest verification — what a data team actually ships.
    // The oracle replays the whole chain, then states the per-shard
    // manifest with readback_match TRUE: a wrong survivor set, a
    // dropped row in the write, or an encoding drift each break it.
    Declared("llm_corpus_prep_publish", (s, dir) => {
      val ids = prepFullReleased(s, dir).select(col("doc_id"))
      val rel = Tables.documents(s, dir)
        .join(ids, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"))
      Corpus.publishRelease(rel, "doc_id", "text", nShards = 8,
        ParityQueries.scratch("llm_corpus_prep_publish"))
    },
      {
        val feat = s"${hexToLongSql("md5(w)", 1, 8)} % 64"
        val h60 = hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, 15)
        s"""WITH RECURSIVE x0 AS (
           |  SELECT * FROM documents
           |  WHERE doc_id IN (SELECT min(doc_id) FROM documents
           |                   GROUP BY md5(lower(text)))),
           |${fuzzyCtes("x0")},
           |${clusterWalkCtes("ver")},
           |kept AS (SELECT * FROM x0
           |         WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> keeper)),
           |dg AS (${ngramRowsSql("kept", 8)}),
           |bg AS (SELECT DISTINCT s FROM (
           |  ${ngramRowsSql("(SELECT * FROM documents WHERE source = 'src9')", 8)})),
           |fl AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bg USING (s)),
           |decon AS (SELECT * FROM kept
           |          WHERE doc_id NOT IN (SELECT doc_id FROM fl)),
           |gated AS (SELECT * FROM ${gopherGateSql("decon")}),
           |${qclfCtes(3)},
           |sb0 AS (SELECT DISTINCT doc_id, $feat AS feature
           |        FROM (SELECT doc_id,
           |                unnest(string_split(lower(text), ' ')) AS w
           |              FROM documents)),
           |sb AS (SELECT * FROM sb0
           |       UNION ALL
           |       SELECT DISTINCT doc_id, -1 AS feature FROM sb0),
           |scd AS (SELECT sb.doc_id,
           |          ${grid6Sql("sum(coalesce(w3.w, 0.0))")} AS dot
           |        FROM sb LEFT JOIN w3 USING (feature) GROUP BY 1),
           |qsc AS (SELECT doc_id, ${grid6Sql("1.0 / (1.0 + exp(-dot))")} AS score
           |        FROM scd),
           |qcut AS (SELECT ${grid6Sql("quantile_cont(score, 0.5)")} AS c FROM qsc),
           |topd AS (SELECT g.* FROM gated g JOIN qsc USING (doc_id), qcut
           |         WHERE qsc.score >= qcut.c),
           |${curationCtes("topd")},
           |curated AS ($CurationSelect),
           |rel AS (SELECT d.doc_id, d.text FROM documents d
           |        JOIN curated USING (doc_id)),
           |sm AS (SELECT doc_id,
           |    CAST(CAST($h60 AS BIGINT) % 8 AS INT) AS shard,
           |    md5(text) AS h, CAST(length(text) AS BIGINT) AS len
           |  FROM rel),
           |m AS (SELECT shard, count(*) AS n_docs,
           |    CAST(sum(len) AS BIGINT) AS n_chars,
           |    md5(string_agg(h, ',' ORDER BY doc_id)) AS checksum
           |  FROM sm GROUP BY 1)
           |SELECT shard, n_docs, n_chars, checksum,
           |  checksum AS rb_checksum, true AS readback_match
           |FROM m""".stripMargin
      }),

    // release-publish capstone: the exact-collapsed release physically
    // written as a shard-partitioned parquet table (atomic swap), read
    // BACK from disk, per-shard manifest recomputed from the read-back
    // bytes and verified against the planned manifest — the LLM-corpus
    // analogue of pipeline_gold_readback
    Declared("llm_release_publish", (s, dir) => {
      val release = Dedup.exactKeepFirst(Tables.documents(s, dir),
        "doc_id", "text")
      Corpus.publishRelease(release, "doc_id", "text", nShards = 8,
        ParityQueries.scratch("llm_release_publish"))
    },
      {
        val h60 = hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, 15)
        s"""WITH x0 AS (SELECT * FROM documents
           |  WHERE doc_id IN (SELECT min(doc_id) FROM documents
           |                   GROUP BY md5(lower(text)))),
           |s AS (SELECT doc_id,
           |    CAST(CAST($h60 AS BIGINT) % 8 AS INT) AS shard,
           |    md5(text) AS h, CAST(length(text) AS BIGINT) AS len
           |  FROM x0),
           |m AS (SELECT shard, count(*) AS n_docs,
           |    CAST(sum(len) AS BIGINT) AS n_chars,
           |    md5(string_agg(h, ',' ORDER BY doc_id)) AS checksum
           |  FROM s GROUP BY 1)
           |SELECT shard, n_docs, n_chars, checksum,
           |  checksum AS rb_checksum, true AS readback_match
           |FROM m""".stripMargin
      }),

    // the publish routed through the transaction log (r15 verdict task
    // 7): v1 = the good release, v2 = a BAD publish (every 3rd doc
    // silently dropped — the regression a team ships by accident),
    // then a metadata ROLLBACK to v1 — no data rewritten — and the
    // head verified against the good release. All-true readback_match
    // proves the rollback restored the exact published bytes.
    Declared("llm_release_publish_versioned", (s, dir) => {
      val root = ParityQueries.scratch("llm_release_publish_versioned")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val release = Dedup.exactKeepFirst(Tables.documents(s, dir),
        "doc_id", "text")
      Corpus.publishReleaseVersioned(release, "doc_id", "text",
        nShards = 8, root).count() // v1: the good release
      Corpus.publishReleaseVersioned(
        release.filter(col("doc_id") % 3 =!= 0), "doc_id", "text",
        nShards = 8, root).count() // v2: the bad publish
      graft.pipeline.VersionedTable.rollback(s, root, to = 1L)
      Corpus.verifyPublishedVersioned(release, "doc_id", "text",
        nShards = 8, root)
    },
      // after the rollback the head IS the good release, so the oracle is
      // the same planned manifest with both checksum columns equal
      {
        val h60 = hexToLongSql("md5(CAST(doc_id AS VARCHAR))", 1, 15)
        s"""WITH x0 AS (SELECT * FROM documents
           |  WHERE doc_id IN (SELECT min(doc_id) FROM documents
           |                   GROUP BY md5(lower(text)))),
           |s AS (SELECT doc_id,
           |    CAST(CAST($h60 AS BIGINT) % 8 AS INT) AS shard,
           |    md5(text) AS h, CAST(length(text) AS BIGINT) AS len
           |  FROM x0),
           |m AS (SELECT shard, count(*) AS n_docs,
           |    CAST(sum(len) AS BIGINT) AS n_chars,
           |    md5(string_agg(h, ',' ORDER BY doc_id)) AS checksum
           |  FROM s GROUP BY 1)
           |SELECT shard, n_docs, n_chars, checksum,
           |  checksum AS rb_checksum, true AS readback_match
           |FROM m""".stripMargin
      }),

    Declared("pipeline_gold_readback", (s, dir) => {
      val out = ParityQueries.scratch("pipeline_run")
      // wipe the previous run: quarantine is APPEND by design, so reusing
      // the scratch root without a wipe would accumulate across runs
      graft.sources.Extractor.prepareLandingDir(out)
      Pipeline.run(s, dir, out)
      s.read.parquet(s"$out/gold/by_type_location")
    },
      s"""WITH silver AS (${Breweries.SilverSql})
         |SELECT brewery_type, location, state, city, count(*) AS brewery_count
         |FROM silver GROUP BY 1, 2, 3, 4""".stripMargin)
  )
}
