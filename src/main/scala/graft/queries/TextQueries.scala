package graft.queries

import graft.Tables
import graft.ops.{Dedup, QualityModel, TextAnalysis}
import graft.pipeline.Breweries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import LlmFixtures._

/** Text-analysis queries over `documents`: tokens and BPE, language
  * id, quality signals and Gopher rules, n-gram language models, the
  * hashed quality classifier, curation, packing, PII, and substring,
  * line and benchmark-contamination filters.
  */
object TextQueries {

  /** Fixed query-term set for the BM25 retrieval query (common fixture
    * vocabulary, so tf/df vary across documents). One list drives both
    * the Spark `isin` and the oracle's `IN`.
    */
  private val Bm25Query: Seq[String] = Seq("spark", "join", "vector")

  /** Unigram + bigram gram-row source (the production 2^18 sketch):
    * bigrams are adjacent token pairs joined by a single space — the
    * exact strings [[graft.functions.WordGrams]](k = 2) emits under
    * single-space token semantics.
    */
  private val QclfGrams2: String =
    s"""$QclfGrams1
       |              UNION ALL
       |              SELECT doc_id, source, ws[i] || ' ' || ws[i + 1] AS w
       |              FROM (SELECT doc_id, source,
       |                      string_split(lower(text), ' ') AS ws
       |                    FROM documents) qq,
       |                   unnest(range(1, len(ws))) t(i)""".stripMargin

  /** Stopword-rich prose suffix for the `text_gopher_stopwords`
    * enrichment — spliced verbatim into both engines' derivations.
    */
  private val GopherEnrichSuffix: String =
    " the cat and the dog have been to most of the places that we know" +
      " be with us"

  /** Greedy BPE TRAINING replayed in SQL: `k` chained rounds, each one
    * (a) counting adjacent-symbol pairs over the current space-joined
    * vocabulary weighted by word frequency, (b) picking the winner
    * under the total order (count desc, pair asc) — bit-stable on both
    * engines, integer counts — and (c) applying the merge through the
    * fixpoint-replace recursion [[bpeDocTokensCte]] established (one
    * left-to-right non-overlapping `replace` pass per step, recursed to
    * the fixed point, which lands on the same final state as the
    * engine's single array-level pass — adjacent repeats just take one
    * extra recursion step). Mirrors
    * [[graft.ops.TextAnalysis.trainBpeMerges]] exactly: `[a-z0-9]+`
    * word runs, char-level start symbols. Caller gets a complete
    * `WITH RECURSIVE` statement returning (merge_rank, x, y).
    */
  private def bpeTrainSql(k: Int): String = {
    val rounds = (1 to k).map { r =>
      val prev = if (r == 1) "s0" else s"v${r - 1}"
      s"""p$r AS (SELECT x, y, sum(freq) AS cnt FROM (
         |    SELECT freq, ws[i] AS x, ws[i+1] AS y FROM (
         |      SELECT freq, string_split(trim(s), ' ') AS ws FROM $prev),
         |      unnest(range(1, len(ws))) t(i))
         |  GROUP BY 1, 2),
         |b$r AS (SELECT x, y FROM p$r ORDER BY cnt DESC, x, y LIMIT 1),
         |vr$r AS (
         |  SELECT freq, s FROM $prev
         |  UNION ALL
         |  SELECT freq,
         |    replace(s, ' ' || b.x || ' ' || b.y || ' ',
         |               ' ' || b.x || b.y || ' ') AS s
         |  FROM vr$r, b$r b
         |  WHERE replace(s, ' ' || b.x || ' ' || b.y || ' ',
         |                   ' ' || b.x || b.y || ' ') <> s),
         |v$r AS (SELECT freq, s FROM vr$r, b$r b
         |  WHERE replace(s, ' ' || b.x || ' ' || b.y || ' ',
         |                   ' ' || b.x || b.y || ' ') = s)""".stripMargin
    }.mkString(",\n")
    val out = (1 to k).map(r =>
      s"SELECT CAST($r AS INT) AS merge_rank, x, y FROM b$r")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE
       |w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
       |         AS w
       |       FROM documents),
       |v0w AS (SELECT w, count(*) AS freq FROM w0 GROUP BY 1),
       |s0 AS (SELECT freq,
       |    ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS s
       |  FROM v0w),
       |$rounds
       |$out""".stripMargin
  }

  /** Planted-overlap corpus for the exact-substring dedup queries: the
    * documents (lowered) plus, for every `doc_id % 10 == 3` document, a
    * copy carrying its first 25 tokens and a unique 4-token tail under
    * id + 100000 — a guaranteed >= 20-token exact overlap with a
    * lower-id source, with nothing else colliding. ONE definition feeds
    * the Spark relation and [[plantedOverlapCorpusSql]] feeds the
    * oracle, so the two engines can never drift on the fixture.
    */
  private def plantedOverlapCorpus(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), lower(col("text")).as("text"))
    val planted = documents.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(array_join(slice(split(lower(col("text")), " "), 1, 25), " "),
          lit(" planted tail marker "),
          (col("doc_id") + 100000).cast("string")).as("text"))
    base.unionByName(planted)
  }

  // NOTE: this fragment is interpolated into oracles that call
  // stripMargin AFTER interpolation, so no line may begin with
  // whitespace + '|' (a leading '||' concat would lose its first char);
  // concat() keeps the fragment margin-safe.
  private val plantedOverlapCorpusSql: String =
    """(SELECT doc_id, lower(text) AS text FROM documents
      | UNION ALL
      | SELECT doc_id + 100000 AS doc_id,
      |        concat(array_to_string(list_slice(string_split(lower(text), ' '), 1, 25), ' '),
      |               ' planted tail marker ', CAST(doc_id + 100000 AS VARCHAR)) AS text
      | FROM documents WHERE doc_id % 10 = 3)""".stripMargin

  val declared: Seq[Declared] = Seq(
    Declared("text_tokens", (s, dir) =>
      TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text"),
      """SELECT doc_id,
        |  CAST(len(string_split(lower(text), ' ')) AS INT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS n_re_tokens,
        |  CAST(length(text) AS INT) AS n_chars_calc
        |FROM documents""".stripMargin),

    // the whitespace-robust tokenizer mode (split('\s+') semantics) — on
    // the single-space fixture it must agree with the simple mode, and the
    // parity suite exercises it on gnarly multi-whitespace text
    Declared("text_tokens_ws", (s, dir) =>
      TextAnalysis.tokenCountsWs(Tables.documents(s, dir), "doc_id", "text"),
      s"""WITH t AS (SELECT doc_id,
         |  list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |              x -> x <> '') AS ws
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(ws) AS INT) AS n_tokens,
         |  CAST(len(list_filter(ws, w -> list_contains(${sqlList(StopEn)}, w)))
         |    AS INT) AS n_stop_en,
         |  CAST(len(list_distinct(list_transform(
         |    range(1, greatest(len(ws)-2, 0)+1),
         |    i -> array_to_string(ws[i:i+2], ' ')))) AS INT) AS n_distinct_grams3
         |FROM t""".stripMargin),

    Declared("text_langid", (s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir), "doc_id", "text"),
      {
        val scoreCols = TextAnalysis.LangPriority.map { l =>
          s"CAST(len(list_filter(ws, w -> list_contains(" +
            s"${sqlList(TextAnalysis.Stopwords(l))}, w))) AS INT) AS s_$l"
        }.mkString(",\n  ")
        s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
           |           FROM documents),
           |s AS (SELECT doc_id,
           |  $scoreCols
           |FROM t)
           |SELECT doc_id, ${TextAnalysis.LangPriority.map("s_" + _).mkString(", ")},
           |  ${argmaxSql("s_")} AS predicted_lang
           |FROM s""".stripMargin
      }),

    // the classifier EVAL face: predicted vs labeled language as a
    // confusion matrix with per-label shares — the quality report any
    // lang-ID deployment ships with (cell counts exact, shares on the
    // 1e-6 grid)
    Declared("text_langid_confusion", (s, dir) => {
      val d = Tables.documents(s, dir)
      val pred = TextAnalysis.langId(d, "doc_id", "text")
        .select(col("doc_id"), col("predicted_lang"))
      val cells = d.select(col("doc_id"), col("lang"))
        .join(pred, Seq("doc_id"))
        .groupBy(col("lang"), col("predicted_lang"))
        .agg(count(lit(1)).as("n"))
      val totals = cells.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
      cells.join(broadcast(totals), Seq("lang"))
        .select(col("lang"), col("predicted_lang"), col("n"),
          round(col("n").cast("double") / col("n_lang"), 6).as("share"))
    },
      {
        val scoreCols = TextAnalysis.LangPriority.map { l =>
          s"CAST(len(list_filter(ws, w -> list_contains(" +
            s"${sqlList(TextAnalysis.Stopwords(l))}, w))) AS INT) AS s_$l"
        }.mkString(",\n  ")
        s"""WITH t AS (SELECT doc_id, lang,
           |             string_split(lower(text), ' ') AS ws
           |           FROM documents),
           |s AS (SELECT doc_id, lang,
           |  $scoreCols
           |FROM t),
           |p AS (SELECT doc_id, lang, ${argmaxSql("s_")} AS predicted_lang
           |      FROM s),
           |cells AS (SELECT lang, predicted_lang, count(*) AS n FROM p
           |          GROUP BY 1, 2),
           |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM cells
           |        GROUP BY 1)
           |SELECT cells.lang, cells.predicted_lang, cells.n,
           |  round(CAST(cells.n AS DOUBLE) / tot.n_lang, 6) AS share
           |FROM cells JOIN tot ON tot.lang = cells.lang""".stripMargin
      }),

    Declared("text_quality", (s, dir) =>
      TextAnalysis.quality(Tables.documents(s, dir), "doc_id", "text"),
      {
        val en = sqlList(StopEn)
        s"""WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS ws
           |           FROM documents),
           |x AS (SELECT doc_id, text, ws,
           |        CAST(len(ws) AS DOUBLE) AS nt,
           |        CAST(len(list_filter(ws, w -> list_contains($en, w))) AS DOUBLE) AS hits
           |      FROM t)
           |SELECT doc_id,
           |  CAST(len(ws) AS INT) AS n_tokens,
           |  round(CAST(list_aggregate(list_transform(ws, w -> length(w)), 'sum')
           |        AS DOUBLE) / nt, 6) AS mean_token_len,
           |  round(hits / nt, 6) AS stopword_ratio,
           |  round(CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
           |        AS DOUBLE) / length(text), 6) AS alnum_ratio,
           |  round(least(nt / 100, CAST(1 AS DOUBLE)) *
           |        (1 - abs(hits / nt - 0.4)), 6) AS quality_score
           |FROM x""".stripMargin
      }),

    // Gopher-style rule gate: the published heuristic thresholds, each
    // rule a 0/1 flag plus its underlying signal, pass = conjunction
    Declared("text_gopher_rules", (s, dir) =>
      TextAnalysis.gopherRules(Tables.documents(s, dir), "doc_id", "text"),
      {
        val stopSum = graft.ops.TextAnalysis.GopherStopWords
          .map(w => s"(CASE WHEN list_contains(ws, '$w') THEN 1 ELSE 0 END)")
          .mkString(" +\n          ")
        s"""WITH t AS (SELECT doc_id, lower(text) AS lt,
           |             string_split(lower(text), ' ') AS ws,
           |             string_split(text, chr(10)) AS ls
           |           FROM documents),
           |x AS (SELECT doc_id,
           |        CAST(len(ws) AS INT) AS n_words,
           |        round(CAST(len(replace(lt, ' ', '')) AS DOUBLE)
           |          / len(ws), 6) AS mean_word_len,
           |        round(CAST((len(lt) - len(replace(lt, '#', ''))) +
           |              (len(lt) - len(replace(lt, '…', ''))) AS DOUBLE)
           |          / len(ws), 6) AS symbol_ratio,
           |        round(CAST(len(list_filter(ls, l ->
           |            starts_with(l, '- ') OR starts_with(l, '* ') OR
           |            starts_with(l, '• '))) AS DOUBLE) / len(ls), 6)
           |          AS bullet_line_frac,
           |        round(CAST(len(list_filter(ls, l ->
           |            ends_with(l, '...') OR ends_with(l, '…'))) AS DOUBLE)
           |          / len(ls), 6) AS ellipsis_line_frac,
           |        round(CAST(len(list_filter(ws, w ->
           |            regexp_matches(w, '[a-z]'))) AS DOUBLE) / len(ws), 6)
           |          AS alpha_word_frac,
           |        CAST($stopSum AS INT) AS n_stop_words
           |      FROM t)
           |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
           |  bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
           |  n_stop_words,
           |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
           |       THEN 1 ELSE 0 END AS INT) AS r_word_count,
           |  CAST(CASE WHEN mean_word_len >= 3.0 AND mean_word_len <= 10.0
           |       THEN 1 ELSE 0 END AS INT) AS r_mean_word_len,
           |  CAST(CASE WHEN symbol_ratio <= 0.1
           |       THEN 1 ELSE 0 END AS INT) AS r_symbol_ratio,
           |  CAST(CASE WHEN bullet_line_frac <= 0.9
           |       THEN 1 ELSE 0 END AS INT) AS r_bullet_lines,
           |  CAST(CASE WHEN ellipsis_line_frac <= 0.3
           |       THEN 1 ELSE 0 END AS INT) AS r_ellipsis_lines,
           |  CAST(CASE WHEN alpha_word_frac >= 0.8
           |       THEN 1 ELSE 0 END AS INT) AS r_alpha_words,
           |  CAST(CASE WHEN n_stop_words >= 2
           |       THEN 1 ELSE 0 END AS INT) AS r_stop_words,
           |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
           |        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
           |        AND symbol_ratio <= 0.1 AND bullet_line_frac <= 0.9
           |        AND ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8
           |        AND n_stop_words >= 2
           |       THEN 1 ELSE 0 END AS INT) AS pass
           |FROM x""".stripMargin
      }),

    // the FULL Gopher gate including the English indicator-stopword rule
    // (every other green query runs requireStopWords = false — the
    // synthetic fixture carries at most one indicator word per doc, so
    // the rule is exercised against a deterministically ENRICHED corpus:
    // every third document gets a stopword-rich prose suffix, and the
    // gate must keep exactly the enriched docs that clear the other
    // rules too — both accept and reject paths live)
    Declared("text_gopher_stopwords", (s, dir) => {
      val enriched = Tables.documents(s, dir).withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(GopherEnrichSuffix)))
          .otherwise(col("text")))
      TextAnalysis.gopherFilter(enriched, "doc_id", "text",
          requireStopWords = true)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    },
      s"""WITH e AS (SELECT doc_id, lang, source, n_chars,
         |  CASE WHEN doc_id % 3 = 0 THEN text || '$GopherEnrichSuffix'
         |       ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id, lang, source, n_chars
         |FROM ${gopherGateSql("e", requireStopWords = true)}""".stripMargin),

    Declared("text_fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir), "doc_id", "text"),
      """WITH g AS (SELECT doc_id, substr(text, CAST(i AS INT), 8) AS gm
         |           FROM documents,
         |                unnest(range(1, greatest(length(text)-7, 1)+1)) t(i))
         |SELECT doc_id, min(md5(gm)) AS fp_min_hash,
         |       CAST(count(DISTINCT gm) AS INT) AS n_distinct_grams
         |FROM g GROUP BY 1""".stripMargin),

    // per-source doc/token counts and corpus shares (the release "data
    // card" aggregate)
    Declared("text_mixture_stats", (s, dir) =>
      TextAnalysis.mixtureStats(Tables.documents(s, dir), "source", "text"),
      """WITH a AS (SELECT source, count(*) AS n_docs,
        |             CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |               AS n_tokens
        |           FROM documents GROUP BY 1)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6) AS doc_share,
        |  round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6)
        |    AS token_share
        |FROM a""".stripMargin),

    // subword (BPE) token accounting: deterministic fixed merge table,
    // map-only codegen counter — the accounting basis token budgets are
    // actually stated in
    // the perplexity filter's production shape: LM trained ONCE (here on
    // the hash-bucket<50 half), corpus scored against the stored table;
    // terms unseen in training fall back to the add-one OOV floor
    Declared("text_unigram_logprob_ext", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val (lm, oov) = TextAnalysis.unigramLm(
        Dedup.hashSample(docs, "doc_id", 50), "doc_id", "text")
      TextAnalysis.unigramLogProbWith(docs, "doc_id", "text", lm, oov)
    },
      s"""WITH train AS (SELECT * FROM documents WHERE $HashBucketSql < 50),
         |ttf AS (SELECT doc_id, w AS term, count(*) AS tf
         |        FROM (SELECT doc_id,
         |                unnest(string_split(lower(text), ' ')) AS w
         |              FROM train) GROUP BY 1, 2),
         |lmc AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt
         |        FROM ttf GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
         |               CAST(count(*) AS DOUBLE) AS n_vocab FROM lmc),
         |lm AS (SELECT term,
         |         ln((CAST(cnt AS DOUBLE) + 1) / (n_total + n_vocab)) AS logp
         |       FROM lmc, tot),
         |tf AS (SELECT doc_id, w AS term, count(*) AS tf
         |       FROM (SELECT doc_id,
         |               unnest(string_split(lower(text), ' ')) AS w
         |             FROM documents) GROUP BY 1, 2)
         |SELECT doc_id,
         |  round(sum(CAST(tf AS DOUBLE) *
         |            coalesce(lm.logp, ln(1.0 / (tot.n_total + tot.n_vocab)))) /
         |        sum(tf), 6) AS mean_logprob,
         |  CAST(sum(tf) AS BIGINT) AS n_tokens
         |FROM tf LEFT JOIN lm USING (term), tot
         |GROUP BY 1""".stripMargin),

    Declared("text_tokens_bpe", (s, dir) =>
      TextAnalysis.withBpeTokens(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("n_bpe_tokens")),
      s"""WITH RECURSIVE $bpeDocTokensCte
         |SELECT doc_id, n_bpe_tokens FROM docbpe""".stripMargin),

    // corpus-trained BPE merges (r18): the first 6 greedy merges learned
    // FROM the documents corpus — vocabulary-sized iteration after one
    // corpus pass, deterministic argmax (count desc, pair asc). The
    // oracle replays the identical greedy recurrence with chained
    // fixpoint-replace rounds (the bpeDocTokensCte mechanics, one layer
    // per learned rank instead of a fixed merge table)
    Declared("text_bpe_train", (s, dir) => {
      import s.implicits._
      TextAnalysis.trainBpeMerges(Tables.documents(s, dir), "text", k = 6)
        .zipWithIndex
        .map { case ((x, y), i) => (i + 1, x, y) }
        .toDF("merge_rank", "x", "y")
    },
      bpeTrainSql(6)),

    // mixture accounting in SUBWORD tokens (same aggregate, pluggable
    // token-counter column)
    Declared("text_mixture_stats_bpe", (s, dir) =>
      TextAnalysis.mixtureStatsWith(
        TextAnalysis.withBpeTokens(Tables.documents(s, dir), "text"),
        "source", col("n_bpe_tokens")),
      s"""WITH RECURSIVE $bpeDocTokensCte,
         |j AS (SELECT d.source, b.n_bpe_tokens FROM documents d
         |      JOIN docbpe b ON d.doc_id = b.doc_id),
         |a AS (SELECT source, count(*) AS n_docs,
         |        CAST(sum(n_bpe_tokens) AS BIGINT) AS n_tokens
         |      FROM j GROUP BY 1)
         |SELECT source, n_docs, n_tokens,
         |  round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6) AS doc_share,
         |  round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6)
         |    AS token_share
         |FROM a""".stripMargin),

    // per-language tokenizer fertility (BPE subwords per whitespace
    // word) — the tokenizer-equity / training-token-yield metric
    Declared("text_fertility", (s, dir) =>
      TextAnalysis.fertility(Tables.documents(s, dir), "lang"),
      // fertility: BPE doc token counts (the docbpe replay) joined to the
      // ws-mode word counts, rolled up per language
      s"""WITH RECURSIVE $bpeDocTokensCte,
         |wsc AS (SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text),
         |         '\\s+'), x -> x <> '')) AS BIGINT) AS n_ws
         |  FROM documents),
         |j AS (SELECT d.lang, CAST(b.n_bpe_tokens AS BIGINT) AS nb, w.n_ws
         |      FROM documents d
         |      JOIN docbpe b ON d.doc_id = b.doc_id
         |      JOIN wsc w ON d.doc_id = w.doc_id)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(n_ws) AS BIGINT) AS n_ws_tokens,
         |  CASE WHEN sum(n_ws) = 0 THEN NULL
         |       ELSE round(CAST(sum(nb) AS DOUBLE) / sum(n_ws), 6)
         |  END AS fertility
         |FROM j GROUP BY 1""".stripMargin),

    // overlapping-window chunking (16-token windows, 8-token overlap) —
    // the context-window prep for RAG / long-document training
    Declared("text_chunks", (s, dir) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, dir), "doc_id",
        "text", chunkTokens = 16, overlap = 8),
      """WITH t AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |                x -> x <> '') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, toks, len(toks) AS n,
        |    CAST(ceil(CAST(greatest(len(toks) - 8, 1) AS DOUBLE) / 8)
        |         AS INT) AS k
        |  FROM t WHERE len(toks) > 0)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  array_to_string(toks[i * 8 + 1 : i * 8 + 16], ' ') AS chunk_text,
        |  CAST(least(16, n - i * 8) AS INT) AS n_tokens
        |FROM b, unnest(range(0, k)) u(i)""".stripMargin),

    // quality-quartile curriculum tiers (exact percentile cutoffs,
    // 6-place grid, broadcast into a map-only assignment)
    Declared("text_quality_tiers", (s, dir) =>
      TextAnalysis.qualityTiers(Tables.documents(s, dir), "doc_id", "text"),
      qualityTiersSql(
        "SELECT doc_id, quality_score, tier FROM tiers")),

    Declared("text_length_stats", (s, dir) =>
      TextAnalysis.lengthStats(Tables.documents(s, dir), "lang", "n_chars"),
      """SELECT lang, count(*) AS n,
        |  round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 6) AS median_len,
        |  round(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 6) AS p90_len,
        |  round(stddev_samp(n_chars), 6) AS sd_len,
        |  min(n_chars) AS min_len, max(n_chars) AS max_len
        |FROM documents GROUP BY 1""".stripMargin),

    // the sketch face's self-audit: percentile_approx (mergeable GK
    // summaries, state bounded by accuracy not group size — the 100 TB
    // percentile path) must return an actual element within the rank
    // guarantee for every language group; the oracle predicts all-true
    Declared("text_length_stats_sketch", (s, dir) =>
      TextAnalysis.lengthStatsSketchAudit(Tables.documents(s, dir),
        "lang", "n_chars", accuracy = 1000),
      """SELECT lang, count(*) AS n,
        |  true AS p50_rank_ok, true AS p90_rank_ok
        |FROM documents GROUP BY 1""".stripMargin),

    Declared("text_langid_chargram", (s, dir) =>
      TextAnalysis.langIdCharNgrams(Tables.documents(s, dir), "doc_id", "text"),
      {
        def score(lang: String) = TextAnalysis.CharProfiles(lang).map { g =>
          val esc = g.replace("'", "''")
          s"(length(lower(text)) - length(replace(lower(text), '$esc', ''))) // ${g.length}"
        }.mkString("CAST(", " + ", " AS INT)")
        val scoreCols = TextAnalysis.LangPriority
          .map(l => s"${score(l)} AS c_$l").mkString(",\n  ")
        s"""WITH s AS (SELECT doc_id,
           |  $scoreCols
           |FROM documents)
           |SELECT doc_id, ${TextAnalysis.LangPriority.map("c_" + _).mkString(", ")},
           |  ${argmaxSql("c_")} AS predicted_lang
           |FROM s""".stripMargin
      }),

    Declared("text_redact", (s, dir) =>
      TextAnalysis.redactPii(Tables.documents(s, dir), "doc_id", "text"),
      {
        // DuckDB single-quoted strings are literal (no backslash
        // processing) — only quotes need escaping
        val chain = TextAnalysis.PiiPatterns.foldLeft("lower(text)") {
          case (c, (pat, tag)) =>
            val esc = pat.replace("'", "''")
            s"regexp_replace($c, '$esc', '$tag', 'g')"
        }
        s"SELECT doc_id, $chain AS redacted_text FROM documents"
      }),

    Declared("text_repetition", (s, dir) =>
      TextAnalysis.repetitionRatio(Tables.documents(s, dir), "doc_id", "text", 3),
      """WITH g AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gm
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ws
        |        FROM documents) t,
        |       unnest(range(1, greatest(len(ws)-2, 0)+1)) u(i))
        |SELECT doc_id, CAST(count(*) AS INT) AS n_grams,
        |       CAST(count(DISTINCT gm) AS INT) AS n_distinct,
        |       round(1.0 - CAST(count(DISTINCT gm) AS DOUBLE) / count(*), 6)
        |         AS rep_ratio
        |FROM g GROUP BY 1""".stripMargin),

    Declared("text_pack_bins", (s, dir) =>
      TextAnalysis.packBins(Tables.documents(s, dir), "doc_id", "n_chars", 4096),
      """SELECT doc_id, n_chars,
        |  CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum_before,
        |  CAST(floor(coalesce(sum(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096.0)
        |    AS BIGINT) AS bin
        |FROM documents""".stripMargin),

    // the distributed shape: per-shard packing, shard-namespaced bin ids
    Declared("text_pack_bins_sharded", (s, dir) =>
      TextAnalysis.packBinsSharded(Tables.documents(s, dir), "source",
        "doc_id", "n_chars", 4096),
      """SELECT source, doc_id, n_chars,
        |  CAST(coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum_before,
        |  source || ':' || CAST(floor(coalesce(sum(n_chars) OVER (
        |    PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096.0)
        |    AS BIGINT) AS bin
        |FROM documents""".stripMargin),

    // C4-style boilerplate diagnostics: word 5-grams shared by >= 2 docs
    Declared("text_common_ngrams", (s, dir) =>
      TextAnalysis.commonNgrams(Tables.documents(s, dir), "doc_id", "text",
        k = 5, minDocs = 2),
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS s
        |       FROM w, unnest(range(1, greatest(len(ws)-4, 0)+1)) t(i))
        |SELECT s AS ngram, count(*) AS n_docs
        |FROM sh GROUP BY 1 HAVING count(*) >= 2""".stripMargin),

    // per-document duplicate 5-gram coverage — the document-level "dup
    // fraction" audit on top of the corpus-level common-ngrams view (the
    // practical stand-in for suffix-array substring dedup)
    Declared("text_dup_gram_coverage", (s, dir) =>
      TextAnalysis.dupGramCoverage(Tables.documents(s, dir), "doc_id",
        "text", k = 5, minDocs = 2),
      """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
        |           FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS s
        |       FROM w, unnest(range(1, greatest(len(ws)-4, 0)+1)) t(i)),
        |dup AS (SELECT s FROM sh GROUP BY s HAVING count(*) >= 2)
        |SELECT sh.doc_id, count(*) AS n_grams,
        |       CAST(sum(CASE WHEN d.s IS NOT NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_dup_grams,
        |       round(CAST(sum(CASE WHEN d.s IS NOT NULL THEN 1 ELSE 0 END)
        |         AS DOUBLE) / count(*), 6) AS dup_frac
        |FROM sh LEFT JOIN dup d ON sh.s = d.s
        |GROUP BY 1""".stripMargin),

    // one-pass curation filter: english, 20-2000 tokens, quality >= 0.1,
    // repetition <= 0.2 — the composed keep-set with its signals
    Declared("text_curation", (s, dir) =>
      TextAnalysis.curationFilter(Tables.documents(s, dir), "doc_id", "text",
        minTokens = 20, maxTokens = 2000, minQuality = 0.1,
        maxRepetition = 0.2, keepLang = "en"),
      s"""WITH ${curationCtes("documents")}
         |$CurationSelect""".stripMargin),

    // the curation filter in whitespace-robust mode — identical results on
    // the single-space fixture (the point: mode-switching must not change
    // semantics there), divergence on raw crawl text is parity-spec'd
    Declared("text_curation_ws", (s, dir) =>
      TextAnalysis.curationFilter(Tables.documents(s, dir), "doc_id", "text",
        minTokens = 20, maxTokens = 2000, minQuality = 0.1,
        maxRepetition = 0.2, keepLang = "en", wsTokens = true),
      s"""WITH ${curationCtes("documents", wsMode = true)}
         |$CurationSelect""".stripMargin),

    // per-document top-3 TF-IDF terms (keyword/topic profiling for domain
    // mixture decisions) — smoothed idf, rounded-then-ranked for
    // engine-reproducible ordering
    Declared("text_tfidf_topk", (s, dir) =>
      TextAnalysis.tfidfTopK(Tables.documents(s, dir), "doc_id", "text", 3),
      // smoothed tf-idf, rounded to 6 places BEFORE ranking (both engines
      // rank the identical rounded doubles; ties break by term)
      """WITH tf AS (SELECT doc_id, w AS term, count(*) AS tf
        |            FROM (SELECT doc_id,
        |                    unnest(string_split(lower(text), ' ')) AS w
        |                  FROM documents) GROUP BY 1, 2),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, term, tf,
        |         count(*) OVER (PARTITION BY term) AS doc_freq FROM tf),
        |r AS (SELECT doc_id, term, tf, doc_freq,
        |        round(CAST(tf AS DOUBLE) *
        |          (ln((CAST(n_docs AS DOUBLE) + 1) /
        |              (CAST(doc_freq AS DOUBLE) + 1)) + 1), 6) AS score
        |      FROM sc, nd),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |         ORDER BY score DESC, term) AS rnk FROM r)
        |SELECT doc_id, term, tf, doc_freq, score, CAST(rnk AS INT) AS rnk
        |FROM rk WHERE rnk <= 3""".stripMargin),

    // perplexity-filter stand-in: mean unigram logprob under the corpus's
    // own smoothed LM (the broadcast/join plumbing of a real LM scorer)
    Declared("text_unigram_logprob", (s, dir) =>
      TextAnalysis.unigramLogProb(Tables.documents(s, dir), "doc_id", "text"),
      """WITH tf AS (SELECT doc_id, w AS term, count(*) AS tf
        |            FROM (SELECT doc_id,
        |                    unnest(string_split(lower(text), ' ')) AS w
        |                  FROM documents) GROUP BY 1, 2),
        |lm AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
        |               CAST(count(*) AS DOUBLE) AS n_vocab FROM lm)
        |SELECT doc_id,
        |  round(sum(CAST(tf AS DOUBLE) *
        |            ln((CAST(cnt AS DOUBLE) + 1) / (n_total + n_vocab))) /
        |        sum(tf), 6) AS mean_logprob,
        |  CAST(sum(tf) AS BIGINT) AS n_tokens
        |FROM tf JOIN lm USING (term), tot
        |GROUP BY 1""".stripMargin),

    // one LM rung up: mean interpolated-bigram logprob (MLE transitions
    // interpolated with the add-one unigram) — flags word salad whose
    // unigram profile looks natural but whose transitions don't
    Declared("text_bigram_logprob", (s, dir) =>
      TextAnalysis.bigramLogProb(Tables.documents(s, dir), "doc_id", "text",
        lambda = 0.7),
      // interpolated bigram LM: lambda spliced as the exact doubles the
      // Scala arithmetic produces (1 - 0.7 = 0.30000000000000004) so both
      // engines interpolate with bit-identical constants
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
         |           FROM documents),
         |uc AS (SELECT w AS term, count(*) AS cnt
         |       FROM (SELECT unnest(ws) AS w FROM w) GROUP BY 1),
         |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
         |               CAST(count(*) AS DOUBLE) AS n_vocab FROM uc),
         |bp AS (SELECT doc_id, ws[i] AS prev, ws[i + 1] AS cur
         |       FROM w, unnest(range(1, len(ws))) t(i)),
         |pb AS (SELECT doc_id, prev, cur, count(*) AS ptf
         |       FROM bp GROUP BY 1, 2, 3),
         |wn AS (SELECT doc_id, prev, cur, ptf,
         |         CAST(sum(ptf) OVER (PARTITION BY prev, cur) AS DOUBLE) AS cb,
         |         CAST(sum(ptf) OVER (PARTITION BY prev) AS DOUBLE) AS cp
         |       FROM pb),
         |sc AS (SELECT wn.doc_id, wn.ptf,
         |         ln(${0.7} * (cb / cp) + ${1 - 0.7} *
         |            (CAST(uc.cnt + 1 AS DOUBLE) / (n_total + n_vocab))) AS lp
         |       FROM wn JOIN uc ON uc.term = wn.cur, tot)
         |SELECT doc_id,
         |  round(sum(CAST(ptf AS DOUBLE) * lp) / sum(ptf), 6) AS mean_logprob,
         |  CAST(sum(ptf) AS BIGINT) AS n_bigrams
         |FROM sc GROUP BY 1""".stripMargin),

    // model-based quality filter TRAINED IN-ENGINE: hashed bag-of-words
    // logistic regression, curated sources as the positive class, 3
    // full-batch GD steps on the 6-place grid (oracle unrolls the same).
    // The checkpointed feature sketch comes from the build-once memo
    // shared with text_qclf_scores and llm_corpus_prep_full (the
    // residualBuilt pattern): featurize the corpus once per session,
    // train/score/gate from the same relation.
    Declared("text_qclf_weights", (s, dir) =>
      QualityModel.trainHashedLogRegWith(qclfSketch(s, dir), "doc_id",
        lr = 0.5, iters = 3),
      s"""WITH ${qclfCtes(3)}
         |SELECT CAST(feature AS INT) AS feature, w FROM w3""".stripMargin),

    // the corpus scored under those weights (train + serve composed).
    // ONE tokenize pass: the GD loop trains on the memoized checkpointed
    // sketch and the scoring pass reads the SAME relation — the corpus
    // is never re-tokenized (PlanSpec pins the scored plan to zero
    // corpus scans / zero explodes).
    Declared("text_qclf_scores", (s, dir) => {
      val sk = qclfSketch(s, dir)
      val w = QualityModel.trainHashedLogRegWith(sk, "doc_id", lr = 0.5,
        iters = 3)
      QualityModel.scoreHashedLogRegWith(sk, "doc_id", w)
    },
      {
        val feat = s"${hexToLongSql("md5(w)", 1, 8)} % 64"
        s"""WITH ${qclfCtes(3)},
           |sb0 AS (SELECT DISTINCT doc_id, $feat AS feature
           |        FROM (SELECT doc_id,
           |                unnest(string_split(lower(text), ' ')) AS w
           |              FROM documents)),
           |sb AS (SELECT * FROM sb0
           |       UNION ALL
           |       SELECT DISTINCT doc_id, -1 AS feature FROM sb0),
           |scd AS (SELECT sb.doc_id,
           |          ${grid6Sql("sum(coalesce(w3.w, 0.0))")} AS dot
           |        FROM sb LEFT JOIN w3 USING (feature) GROUP BY 1)
           |SELECT doc_id, ${grid6Sql("1.0 / (1.0 + exp(-dot))")} AS score,
           |  CAST(CASE WHEN ${grid6Sql("1.0 / (1.0 + exp(-dot))")} >= 0.5
           |       THEN 1 ELSE 0 END AS INT) AS pred
           |FROM scd""".stripMargin
      }),

    // calibration of the deployed classifier: decile bins of the scored
    // corpus vs the true labels — pos_rate per bin against avg_score is
    // the evidence the 0.5 gate threshold rests on
    Declared("text_qclf_calibration", (s, dir) => {
      val sk = qclfSketch(s, dir)
      val w = QualityModel.trainHashedLogRegWith(sk, "doc_id", lr = 0.5,
        iters = 3)
      val scored = QualityModel.scoreHashedLogRegWith(sk, "doc_id", w)
      val labeled = scored.join(Tables.documents(s, dir).select(col("doc_id"),
        when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 1)
          .otherwise(0).as("y")), Seq("doc_id"))
      QualityModel.calibration(labeled, col("y"))
    },
      // calibration: the qclf score replay bucketed into deciles against
      // the true source labels
      {
        val feat = s"${hexToLongSql("md5(w)", 1, 8)} % 64"
        s"""WITH ${qclfCtes(3)},
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
           |scs AS (SELECT doc_id,
           |          ${grid6Sql("1.0 / (1.0 + exp(-dot))")} AS score
           |        FROM scd),
           |lblj AS (SELECT s.score,
           |           CASE WHEN d.source IN ('src0','src1','src2','src3',
           |                'src4') THEN 1 ELSE 0 END AS y
           |         FROM scs s JOIN documents d ON s.doc_id = d.doc_id)
           |SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
           |  count(*) AS n_docs,
           |  CAST(sum(y) AS BIGINT) AS n_pos,
           |  round(avg(CAST(y AS DOUBLE)), 6) AS pos_rate,
           |  round(avg(score), 6) AS avg_score
           |FROM lblj GROUP BY 1""".stripMargin
      }),

    // PRODUCTION feature shape of the same classifier: unigram + bigram
    // hashed features in dim 2^18 (the fastText recipe — collisions rare,
    // word-order signal survives). Mechanism unchanged: binary presence,
    // bias feature, 3 gridded GD steps; the oracle hashes the identical
    // gram strings through the identical md5 polynomial
    Declared("text_qclf_weights_2g", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val sk = QualityModel.featureSketchNg(docs, "doc_id", "text",
        when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 1)
          .otherwise(0), dim = 262144, maxN = 2).localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      QualityModel.trainHashedLogRegWith(sk, "doc_id", lr = 0.5, iters = 3)
    },
      s"""WITH ${qclfCtes(3, dim = 262144, gramSql = QclfGrams2)}
         |SELECT CAST(feature AS INT) AS feature, w FROM w3""".stripMargin),

    // BM25 retrieval: top-10 documents for a fixed query-term set (the
    // lexical candidate-pool primitive; only query-term hits shuffle)
    Declared("text_bm25_topk", (s, dir) =>
      TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        Bm25Query, k = 10),
      // BM25: same expression tree as the Spark side — avgdl from exact
      // integer sums, constants written as the arithmetic the Scala code
      // performs ((1.2 + 1), (1 - 0.75 + ...)) so both engines round the
      // identical IEEE doubles to the 6-place grid before ranking
      s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
         |           FROM documents),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         |              CAST(sum(len(ws)) AS DOUBLE) AS len_total FROM d),
         |tok AS (SELECT doc_id, len(ws) AS doc_len, unnest(ws) AS term FROM d),
         |hits AS (SELECT doc_id, term, count(*) AS tf, max(doc_len) AS doc_len
         |         FROM tok WHERE term IN (${Bm25Query.map(t => s"'$t'").mkString(", ")})
         |         GROUP BY 1, 2),
         |sc AS (SELECT doc_id, term, tf, doc_len,
         |         CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS doc_freq
         |       FROM hits),
         |agg AS (SELECT doc_id,
         |          round(sum(
         |            ln((n_docs - doc_freq + 0.5) / (doc_freq + 0.5) + 1) *
         |            (CAST(tf AS DOUBLE) * (1.2 + 1) /
         |             (CAST(tf AS DOUBLE) + 1.2 * (1 - 0.75 + 0.75 *
         |              CAST(doc_len AS DOUBLE) / (len_total / n_docs))))), 6)
         |            AS bm25
         |        FROM sc, st GROUP BY 1),
         |rk AS (SELECT doc_id, bm25,
         |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
         |       FROM agg)
         |SELECT doc_id, bm25, CAST(rnk AS INT) AS rnk FROM rk
         |WHERE rnk <= 10""".stripMargin),

    // per-country PII exposure audit over the brewery bronze fixture
    // (names carry digit runs -> phones; website_url carries scheme'd
    // URLs -> the map-only regexp_count rollup has nonzero signal)
    Declared("text_pii_stats", (s, dir) =>
      TextAnalysis.piiStats(
        Breweries.bronze(s, dir).withColumn("blob",
          concat_ws(" ", col("name"), col("website_url"))),
        "country", "blob"),
      // per-country PII match counts over the bronze name+url blob; the
      // patterns are the SAME strings the Spark side compiles (RE2-safe)
      {
        val Seq(em, ph, ur) = TextAnalysis.PiiPatterns.map {
          case (pat, _) => pat.replace("'", "''") }
        s"""WITH bronze AS (${Breweries.BronzeSql}),
           |b AS (SELECT country,
           |        lower(concat_ws(' ', name, website_url)) AS lt FROM bronze),
           |c AS (SELECT country,
           |        len(regexp_extract_all(lt, '$em')) AS e,
           |        len(regexp_extract_all(lt, '$ph')) AS p,
           |        len(regexp_extract_all(lt, '$ur')) AS u
           |      FROM b)
           |SELECT country, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN e + p + u > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_pii_docs,
           |  CAST(sum(e) AS BIGINT) AS n_emails,
           |  CAST(sum(p) AS BIGINT) AS n_phones,
           |  CAST(sum(u) AS BIGINT) AS n_urls
           |FROM c GROUP BY 1""".stripMargin
      }),

    // log2-bucketed length histogram per language (exact bucket edges
    // via binary-string length, no libm log2)
    Declared("text_length_hist", (s, dir) =>
      TextAnalysis.lengthHistogram(Tables.documents(s, dir), "lang",
        "n_chars"),
      """SELECT lang, CAST(length(bin(n_chars)) AS INT) AS bucket,
        |  count(*) AS n_docs, min(n_chars) AS min_len,
        |  max(n_chars) AS max_len
        |FROM documents WHERE n_chars > 0
        |GROUP BY 1, 2""".stripMargin),

    // materialized sequence packing: per (shard-namespaced) bin, the
    // member documents concatenated in deterministic order with an EOS
    // separator — the artifact a pretraining-prep job writes
    Declared("text_pack_sequences", (s, dir) =>
      TextAnalysis.packSequences(Tables.documents(s, dir), "source",
        "doc_id", "text", "n_chars", capacity = 4096),
      // packed sequences: the pack_bins window carried through to the
      // concatenated per-bin text (string_agg in doc_id order = the
      // sorted-struct array_join)
      """WITH b AS (SELECT source, doc_id, text, n_chars,
        |  source || ':' || CAST(floor(coalesce(sum(n_chars) OVER (
        |    PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096.0)
        |    AS BIGINT) AS bin
        |  FROM documents)
        |SELECT bin, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS bin_len,
        |  string_agg(text, ' <eos> ' ORDER BY doc_id) AS packed_text
        |FROM b GROUP BY 1""".stripMargin),

    // the same packer binning by SUBWORD capacity (1024 BPE tokens per
    // sequence) — the third consumer of the pluggable counter column
    Declared("text_pack_sequences_bpe", (s, dir) =>
      TextAnalysis.packSequences(
        TextAnalysis.withBpeTokens(Tables.documents(s, dir), "text"),
        "source", "doc_id", "text", "n_bpe_tokens", capacity = 1024),
      s"""WITH RECURSIVE $bpeDocTokensCte,
         |b AS (SELECT d.source, d.doc_id, d.text, bb.n_bpe_tokens,
         |  d.source || ':' || CAST(floor(coalesce(sum(bb.n_bpe_tokens) OVER (
         |    PARTITION BY d.source ORDER BY d.doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 1024.0)
         |    AS BIGINT) AS bin
         |  FROM documents d JOIN docbpe bb ON d.doc_id = bb.doc_id)
         |SELECT bin, count(*) AS n_docs,
         |  CAST(sum(n_bpe_tokens) AS BIGINT) AS bin_len,
         |  string_agg(text, ' <eos> ' ORDER BY doc_id) AS packed_text
         |FROM b GROUP BY 1""".stripMargin),

    // hybrid-retrieval rank fusion: BM25 top-50 fused with a top-50
    // quality re-ranking via reciprocal-rank fusion (k=60), top-20 out
    Declared("text_rrf_fusion", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val lex = TextAnalysis.bm25TopK(docs, "doc_id", "text", Bm25Query,
        k = 50).select(col("doc_id"), col("rnk"))
      val wq = org.apache.spark.sql.expressions.Window
        .orderBy(col("quality_score").desc, col("doc_id"))
      val qual = TextAnalysis.quality(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality_score"))
        .withColumn("rnk", row_number().over(wq))
        .filter(col("rnk") <= 50)
        .select(col("doc_id"), col("rnk"))
      TextAnalysis.rrfFuse(Seq(lex, qual), "doc_id", "rnk",
        kRrf = 60, topK = 20)
    },
      // reciprocal-rank fusion of the BM25 top-50 and the quality top-50;
      // fused scores rounded before the final re-rank, ties by doc_id
      {
        val en = sqlList(StopEn)
        s"""WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
           |           FROM documents),
           |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           |              CAST(sum(len(ws)) AS DOUBLE) AS len_total FROM d),
           |tok AS (SELECT doc_id, len(ws) AS doc_len, unnest(ws) AS term FROM d),
           |hits AS (SELECT doc_id, term, count(*) AS tf, max(doc_len) AS doc_len
           |         FROM tok WHERE term IN (${Bm25Query.map(t => s"'$t'").mkString(", ")})
           |         GROUP BY 1, 2),
           |sc AS (SELECT doc_id, term, tf, doc_len,
           |         CAST(count(*) OVER (PARTITION BY term) AS DOUBLE) AS doc_freq
           |       FROM hits),
           |agg AS (SELECT doc_id,
           |          round(sum(
           |            ln((n_docs - doc_freq + 0.5) / (doc_freq + 0.5) + 1) *
           |            (CAST(tf AS DOUBLE) * (1.2 + 1) /
           |             (CAST(tf AS DOUBLE) + 1.2 * (1 - 0.75 + 0.75 *
           |              CAST(doc_len AS DOUBLE) / (len_total / n_docs))))), 6)
           |            AS bm25
           |        FROM sc, st GROUP BY 1),
           |lex AS (SELECT doc_id, rnk FROM (
           |          SELECT doc_id,
           |            row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
           |          FROM agg) WHERE rnk <= 50),
           |q AS (SELECT doc_id,
           |        round(least(CAST(len(ws) AS DOUBLE) / 100, CAST(1 AS DOUBLE)) *
           |          (1 - abs(CAST(len(list_filter(ws, w ->
           |             list_contains($en, w))) AS DOUBLE) /
           |             CAST(len(ws) AS DOUBLE) - 0.4)), 6) AS quality_score
           |      FROM d),
           |qual AS (SELECT doc_id, rnk FROM (
           |           SELECT doc_id, row_number() OVER (
           |             ORDER BY quality_score DESC, doc_id) AS rnk
           |           FROM q) WHERE rnk <= 50),
           |u AS (SELECT doc_id, rnk FROM lex
           |      UNION ALL SELECT doc_id, rnk FROM qual),
           |f AS (SELECT doc_id,
           |        round(sum(1.0 / (60.0 + CAST(rnk AS DOUBLE))), 6) AS rrf,
           |        CAST(count(*) AS INT) AS n_lists
           |      FROM u GROUP BY 1)
           |SELECT doc_id, rrf, n_lists,
           |  CAST(rn AS INT) AS rnk FROM (
           |  SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn
           |  FROM f) WHERE rn <= 20""".stripMargin
      }),

    // line-level dedup across documents (C4/RefinedWeb boilerplate rule):
    // a per-source footer line is planted on every document, so each
    // source's footer crosses the frequency threshold and is stripped
    // while the (unique) body lines survive
    Declared("text_line_dedup", (s, dir) => {
      val two = Tables.documents(s, dir).select(col("doc_id"),
        concat_ws("\n", col("text"),
          concat(lit("source: "), col("source"))).as("text"))
      TextAnalysis.lineDedup(two, "doc_id", "text", minDocs = 10)
    },
      // line-level dedup: per-doc-distinct line frequency, frequent lines
      // stripped, documents reassembled in original line order
      """WITH two AS (SELECT doc_id,
        |               concat_ws(chr(10), text, 'source: ' || source) AS text
        |             FROM documents),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM two),
        |ln AS (SELECT doc_id, i AS pos, l[i] AS line
        |       FROM ls, unnest(range(1, len(l)+1)) t(i)),
        |fq AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM ln)
        |       GROUP BY line HAVING count(*) >= 10)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |FROM ln WHERE line NOT IN (SELECT line FROM fq)
        |GROUP BY 1""".stripMargin),

    // exact-substring dedup (Lee et al. w-token-window family): overlaps
    // are PLANTED — every doc_id % 10 == 3 document spawns a copy holding
    // its first 25 tokens plus a unique tail, so each planted doc shares
    // a >= 20-token run with its (lower-id) source and must drop, while
    // the sources and every other doc survive. w=20 bites on the ~54-token
    // fixture docs; production runs the same plan with w=50.
    Declared("text_substring_dedup", (s, dir) => {
      TextAnalysis.substringDedup(plantedOverlapCorpus(Tables.documents(s, dir)),
        "doc_id", "text", w = 20)
    },
      // exact-substring dedup over the planted-overlap corpus: a doc drops
      // iff one of its distinct 20-token windows was first seen (min id)
      // in another doc
      s"""WITH corpus AS $plantedOverlapCorpusSql,
         |sh AS (${ngramRowsSql("corpus", 20)}),
         |own AS (SELECT s, min(doc_id) AS own FROM sh GROUP BY 1),
         |fl AS (SELECT DISTINCT sh.doc_id FROM sh JOIN own USING (s)
         |       WHERE sh.doc_id <> own.own)
         |SELECT c.doc_id, c.text
         |FROM corpus c LEFT JOIN fl ON c.doc_id = fl.doc_id
         |WHERE fl.doc_id IS NULL""".stripMargin),

    // the audit face on the same planted corpus: per doc, distinct
    // 20-windows, how many were first seen in a lower id, drop verdict
    Declared("text_substring_dup_stats", (s, dir) => {
      TextAnalysis.substringDupStats(plantedOverlapCorpus(Tables.documents(s, dir)),
        "doc_id", "text", w = 20)
    },
      s"""WITH corpus AS $plantedOverlapCorpusSql,
         |sh AS (${ngramRowsSql("corpus", 20)}),
         |own AS (SELECT s, min(doc_id) AS own FROM sh GROUP BY 1),
         |j AS (SELECT sh.doc_id, own.own FROM sh JOIN own USING (s))
         |SELECT doc_id, count(*) AS n_windows,
         |       CAST(sum(CASE WHEN doc_id <> own THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_dup_windows,
         |       sum(CASE WHEN doc_id <> own THEN 1 ELSE 0 END) > 0 AS dropped
         |FROM j GROUP BY 1""".stripMargin),

    // decontamination audit: corpus docs (src9 = the held-out benchmark)
    // sharing any word 8-gram with the benchmark, with overlap counts
    Declared("text_contamination", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.contaminationReport(
        docs.filter(col("source") =!= "src9"),
        docs.filter(col("source") === "src9"), "doc_id", "text", n = 8)
    },
      // corpus (non-src9) docs sharing any word 8-gram with the src9
      // benchmark slice, with distinct-overlap counts
      s"""WITH g AS (
         |  ${ngramRowsSql("(SELECT * FROM documents WHERE source <> 'src9')", 8)}),
         |bg AS (SELECT DISTINCT s FROM (
         |  ${ngramRowsSql("(SELECT * FROM documents WHERE source = 'src9')", 8)}))
         |SELECT g.doc_id, count(*) AS n_overlap
         |FROM g JOIN bg USING (s) GROUP BY 1""".stripMargin),

    // the decontaminated corpus itself: benchmark-overlapping docs removed
    // via broadcast anti-join (the flagged set is contamination-sized)
    Declared("text_decontaminated", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.decontaminate(
        docs.filter(col("source") =!= "src9"),
        docs.filter(col("source") === "src9"), "doc_id", "text", n = 8)
    },
      s"""WITH g AS (
         |  ${ngramRowsSql("(SELECT * FROM documents WHERE source <> 'src9')", 8)}),
         |bg AS (SELECT DISTINCT s FROM (
         |  ${ngramRowsSql("(SELECT * FROM documents WHERE source = 'src9')", 8)})),
         |fl AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (s))
         |SELECT * FROM documents
         |WHERE source <> 'src9'
         |  AND doc_id NOT IN (SELECT doc_id FROM fl)""".stripMargin),

    // the SAME decontamination through the constant-memory bloom
    // prefilter — result must equal the exact path bit for bit (the
    // oracle IS the exact path's SQL); the filter only changes how few
    // grams reach the confirming join
    Declared("text_decon_bloom", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.decontaminateBloom(
        docs.filter(col("source") =!= "src9"),
        docs.filter(col("source") === "src9"), "doc_id", "text", n = 8)
    },
      // bloom prefilter changes the PLAN, never the result: the oracle is
      // the exact decontamination restated verbatim
      s"""WITH g AS (
         |  ${ngramRowsSql("(SELECT * FROM documents WHERE source <> 'src9')", 8)}),
         |bg AS (SELECT DISTINCT s FROM (
         |  ${ngramRowsSql("(SELECT * FROM documents WHERE source = 'src9')", 8)})),
         |fl AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (s))
         |SELECT * FROM documents
         |WHERE source <> 'src9'
         |  AND doc_id NOT IN (SELECT doc_id FROM fl)""".stripMargin),

    // document data-quality vet: the crawl-hygiene gate before any text
    // processing (decode-level invariants; clean fixture -> all ok=true,
    // planted mojibake/control/empty cases are spec-covered)
    Declared("text_vet", (s, dir) =>
      TextAnalysis.vetDocuments(Tables.documents(s, dir), "doc_id", "text"),
      // same strip-and-measure idiom as the Spark side; chr(65533) is the
      // U+FFFD replacement character
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
        |  (length(regexp_replace(text, '[ \t\n\f\r]', '', 'g')) = 0)
        |    AS ws_only,
        |  CAST(length(text) - length(replace(text, chr(65533), ''))
        |       AS INT) AS n_replacement,
        |  CAST(length(regexp_replace(text,
        |       '[^\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'))
        |       AS INT) AS n_control,
        |  (length(text) > 0
        |   AND length(regexp_replace(text, '[ \t\n\f\r]', '', 'g')) <> 0
        |   AND length(text) = length(replace(text, chr(65533), ''))
        |   AND length(regexp_replace(text,
        |       '[^\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) = 0) AS ok
        |FROM documents""".stripMargin),

    // FUZZY decontamination: near-duplicates of benchmark items (banded
    // MinHash candidates, Jaccard-verified at 0.5) — catches reformatted
    // eval leakage the exact 8-gram overlap misses; three sources play
    // the benchmark so cross near-dup families exist at every SF
    Declared("text_fuzzy_contamination", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.fuzzyContamination(
        docs.filter(!col("source").isin("src10", "src7", "src9")),
        docs.filter(col("source").isin("src10", "src7", "src9")),
        "doc_id", "text")
    },
      // fuzzy contamination: bands over the whole table (per-doc, so
      // restricting to corpus x benchmark afterwards equals per-side
      // computation), candidates = cross band-sig matches, then exact
      // shingle Jaccard at the 0.5 threshold
      s"""WITH $MinhashCtes,
         |bn AS (SELECT doc_id FROM documents
         |       WHERE source IN ('src10', 'src7', 'src9')),
         |cp AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS bench_id
         |       FROM bands a JOIN bands b
         |         ON a.band = b.band AND a.sig = b.sig
         |       JOIN bn ON b.doc_id = bn.doc_id
         |       WHERE NOT EXISTS (SELECT 1 FROM bn x
         |                         WHERE x.doc_id = a.doc_id)),
         |sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |iv AS (SELECT c.doc_id, c.bench_id, count(*) AS inter
         |       FROM cp c JOIN sh x ON x.doc_id = c.doc_id
         |                 JOIN sh y ON y.doc_id = c.bench_id AND x.s = y.s
         |       GROUP BY 1, 2),
         |fver AS (SELECT iv.doc_id, iv.bench_id,
         |           CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) AS jac
         |         FROM iv JOIN sz sa ON iv.doc_id = sa.doc_id
         |                 JOIN sz sb ON iv.bench_id = sb.doc_id
         |         WHERE CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) >= 0.5)
         |SELECT doc_id, bench_id, round(jac, 6) AS jaccard FROM fver""".stripMargin),

    Declared("text_fuzzy_decontaminated", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.fuzzyDecontaminate(
        docs.filter(!col("source").isin("src10", "src7", "src9")),
        docs.filter(col("source").isin("src10", "src7", "src9")),
        "doc_id", "text")
    },
      s"""WITH $MinhashCtes,
         |bn AS (SELECT doc_id FROM documents
         |       WHERE source IN ('src10', 'src7', 'src9')),
         |cp AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS bench_id
         |       FROM bands a JOIN bands b
         |         ON a.band = b.band AND a.sig = b.sig
         |       JOIN bn ON b.doc_id = bn.doc_id
         |       WHERE NOT EXISTS (SELECT 1 FROM bn x
         |                         WHERE x.doc_id = a.doc_id)),
         |sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY 1),
         |iv AS (SELECT c.doc_id, c.bench_id, count(*) AS inter
         |       FROM cp c JOIN sh x ON x.doc_id = c.doc_id
         |                 JOIN sh y ON y.doc_id = c.bench_id AND x.s = y.s
         |       GROUP BY 1, 2),
         |fver AS (SELECT iv.doc_id
         |         FROM iv JOIN sz sa ON iv.doc_id = sa.doc_id
         |                 JOIN sz sb ON iv.bench_id = sb.doc_id
         |         WHERE CAST(inter AS DOUBLE) / (sa.c + sb.c - inter) >= 0.5)
         |SELECT d.* FROM documents d
         |WHERE d.source NOT IN ('src10', 'src7', 'src9')
         |  AND NOT EXISTS (SELECT 1 FROM fver v WHERE v.doc_id = d.doc_id)""".stripMargin)
  )
}
